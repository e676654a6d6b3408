"""The benchmark's workloads and the ops they are made of.

Every workload is a closed loop with one client: the next op starts
when the previous one has returned and its output has been checked.
An op is what a user of the engine waits for:

* a registry op builds the query's DataFrame (``spark_fn``) and
  collects it through Arrow, the way a client receives a result;
* an ingest op lands one calendar month: ``read_raw_events_csv`` ->
  ``clean_raw_events`` -> ``txn.merge_upsert``;
* an automate op is one ``POST /automate`` to an in-process
  ``serving.serve(EngineAPI)`` over HTTP.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import urllib.request
from dataclasses import dataclass

from checks import CheckFailed, Expected, check_frame

#: Registry ops of ``registry_mix``, in pass order. The first four
#: build their plan without running a Spark job (``plans.build_jobs``
#: reads 0), so their time is Catalyst, per-job scheduling and
#: codegen'd execution. The last two build by running Spark jobs on the
#: driver: a breadth-first search over the near-duplicate graph (one
#: convergence check per hop), and a streaming drain whose micro-batches
#: run on the stream thread inside ``spark_fn``.
REGISTRY_MIX = [
    "evt_metrics_r2_mse",
    "rel_revenue_by_nation",
    "doc_jaccard_near_dup",
    "mm_media_meta",
    "doc_dupgraph_bfs",
    "stream_windowed_counts",
]

#: Calendar rows per pushed month. Set-up loads month 0; every pass
#: lands month 1 on a fresh clone of that table.
CALENDAR_ROWS = 3000


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work_dir: str
    tracer: object
    counters: object | None
    recorder: object | None = None


class RegistryOp:
    """One registry query: build + Arrow collect, checked against its
    oracle expectation."""

    def __init__(self, name: str, kind: str, expected: Expected):
        self.name, self.kind, self.expected = name, kind, expected

    def execute(self, ctx: Ctx, op_id: str) -> dict:
        from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

        tr, cnt = ctx.tracer, ctx.counters
        out: dict = {}
        if cnt:
            out["j0"] = cnt.next_job_id()
            out["rec0"] = len(ctx.recorder.records) if ctx.recorder else 0
        with tr.span("plans.build", op_id):
            t0 = time.perf_counter()
            df = REGISTRY[self.name].spark_fn(ctx.spark, ctx.data_dir)
            out["build_s"] = time.perf_counter() - t0
        if cnt:
            out["j1"] = cnt.next_job_id()
        with tr.span("spark.exec", op_id):
            t0 = time.perf_counter()
            out["pdf"] = df.toPandas()
            out["exec_s"] = time.perf_counter() - t0
        if cnt:
            out["j2"] = cnt.next_job_id()
        out["df"] = df
        return out

    def check(self, out: dict) -> None:
        check_frame(out["pdf"], self.expected)

    def account(self, ctx: Ctx, out: dict, op_id: str) -> dict:
        from accounting import catalyst_phases_ms, python_bytes_sent

        cnt = ctx.counters
        group = cnt.group_jobs(op_id)
        c = {
            "build_s": out["build_s"],
            "exec_s": out["exec_s"],
            "build_jobs": out["j1"] - out["j0"],
            "jobs": out["j2"] - out["j0"],
            "escaped_jobs": len(set(range(out["j0"], out["j2"])) - group),
        }
        c.update(cnt.job_stats(out["j0"], out["j2"]))
        c.update(catalyst_phases_ms(out["df"]))
        c["python_bytes_sent"] = python_bytes_sent(out["df"])
        if self.kind == "drain":
            c.update(_stream_counts(ctx, out))
        return c


def _stream_counts(ctx: Ctx, out: dict) -> dict:
    rec = ctx.recorder
    # progress events arrive on the listener bus after the drain returns:
    # wait for the first, then until none has come for 0.1 s
    deadline = time.perf_counter() + 5.0
    n = len(rec.records)
    while time.perf_counter() < deadline:
        time.sleep(0.1)
        m = len(rec.records)
        if m == n and m > out["rec0"]:
            break
        n = m
    batches = list(rec.records)[out["rec0"]:]
    batch_ms = sum(b["batch_ms"] or 0 for b in batches)
    return {
        "stream_batches": len(batches),
        "stream_batch_ms": batch_ms,
        "stream_input_rows": sum(b["n_input_rows"] or 0 for b in batches),
        "stream_state_rows": max((b["state_rows"] or 0 for b in batches), default=0),
        "stream_floor_s": out["build_s"] - batch_ms / 1e3,
    }


def registry_ops(expected: dict[str, Expected]) -> list[RegistryOp]:
    return [
        RegistryOp(n, "drain" if n.startswith("stream_") else "query", expected[n])
        for n in REGISTRY_MIX
    ]


# ------------------------------------------------------------ ingest_serve

_KEY = ["event_ts", "Currency", "Event"]


def winners_digest(rows) -> str:
    """Digest of (event_ts 'YYYY-MM-DD HH:MM:SS', Currency, Event, Actual)
    tuples, order-insensitive."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(("|".join(r) + "\n").encode())
    return h.hexdigest()


class IngestServe:
    """The paper's monthly loop: push a calendar month into the natural-
    key table, then train/validate/test over HTTP on the latest
    snapshot. Each pass starts from a zero-copy clone of the table built
    during set-up, so every pass does the same work."""

    def __init__(self, ctx: Ctx, seed: int):
        from gen import CalendarGenerator

        self.ctx = ctx
        self.gen = CalendarGenerator(seed, CALENDAR_ROWS)
        self.landing = os.path.join(ctx.work_dir, "landing")
        os.makedirs(self.landing, exist_ok=True)
        self.months: list[str] = []
        self.expected: list[tuple[int, str]] = []
        self.csv_bytes: list[int] = []
        for i in range(2):
            path = os.path.join(self.landing, f"calendar_{self.gen.month_label(i)}.csv")
            text = self.gen.month(i)
            with open(path, "w") as fh:
                fh.write(text)
            self.months.append(path)
            self.csv_bytes.append(os.path.getsize(path))
            self.expected.append((
                len(self.gen.expected),
                winners_digest(
                    (f"{d.isoformat()} {t}:00", c, e, a)
                    for (d, t, c, e), a in self.gen.expected.items()
                ),
            ))
        self.base_root = os.path.join(ctx.work_dir, "tables", "base")
        self.root = self.base_root
        self.n_pass = 0
        self.server = None
        self.api = None

    # -- set-up (counted in setup_s, not timed as ops) --
    def start(self) -> None:
        self.ingest(0, op_id="setup")
        self.api = _traced_api(self.ctx, self._events)
        from mql5_economic_news_data_pipeline_2025_gcp__spark.serving import serve

        self.server = serve(self.api)

    def stop(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    def begin_pass(self) -> None:
        from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

        self.n_pass += 1
        self.root = os.path.join(self.ctx.work_dir, "tables", f"pass{self.n_pass}")
        txn.clone(self.base_root, self.root)

    def ops(self) -> list:
        return [IngestOp(self, 1), AutomateOp(self)]

    # -- the program calls --
    def _events(self):
        from pyspark.sql import functions as F

        from mql5_economic_news_data_pipeline_2025_gcp__spark.functions.parsers import (
            impact_ordinal,
            parse_numeric,
        )
        from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

        snap = txn.read(self.ctx.spark, self.root)
        return snap.select(
            "event_ts",
            "Currency",
            "Event",
            parse_numeric(F.col("Actual")).alias("value"),
            impact_ordinal(F.col("Impact")).alias("ImpactOrdinal"),
        )

    def ingest(self, i: int, op_id: str) -> dict:
        from pyspark.sql import functions as F

        from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.cleaning import (
            clean_raw_events,
        )
        from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn
        from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.csv_source import (
            read_raw_events_csv,
        )

        tr, spark = self.ctx.tracer, self.ctx.spark
        root = self.root if op_id != "setup" else self.base_root
        with tr.span("sources.read_raw_events_csv", op_id):
            raw = read_raw_events_csv(spark, self.months[i])
        with tr.span("functions.clean_raw_events", op_id):
            cleaned = clean_raw_events(raw)
            incoming = (
                cleaned.withColumn("month", F.date_format("Date", "yyyy-MM"))
                .withColumn("push_id", F.lit(i))
                .withColumn("line_no", F.monotonically_increasing_id())
            )
        with tr.span("sources.merge_upsert", op_id):
            t0 = time.perf_counter()
            version = txn.merge_upsert(
                spark, root, incoming, key=_KEY, recency_col="push_id",
                tie_col="line_no", partition_col="month",
            )
            commit_s = time.perf_counter() - t0
        return {"raw": raw, "cleaned": cleaned, "version": version,
                "commit_s": commit_s, "root": root}


def _traced_api(ctx: Ctx, events):
    from mql5_economic_news_data_pipeline_2025_gcp__spark.serving import EngineAPI

    class TracedAPI(EngineAPI):
        """``EngineAPI`` with a server-side span around /automate."""

        op_id = "setup"
        parent = None
        handler_s = 0.0

        def automate(self, body):
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("serving.handler", self.op_id, parent=self.parent):
                    return super().automate(body)
            finally:
                self.handler_s = time.perf_counter() - t0

    return TracedAPI(ctx.spark, events_provider=events)


def _manifest_files(root: str) -> list[str]:
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

    v = txn.versions(root)[-1]
    with open(os.path.join(root, "_commits", f"v{v:08d}.json")) as fh:
        return json.load(fh)["files"]


class IngestOp:
    kind = "ingest"

    def __init__(self, wl: IngestServe, month: int):
        self.wl, self.month, self.name = wl, month, "ingest"

    def execute(self, ctx: Ctx, op_id: str) -> dict:
        out: dict = {}
        if ctx.counters:
            out["j0"] = ctx.counters.next_job_id()
            out["files0"] = set(_manifest_files(self.wl.root))
        out.update(self.wl.ingest(self.month, op_id))
        if ctx.counters:
            out["j2"] = ctx.counters.next_job_id()
        return out

    def check(self, out: dict) -> None:
        from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

        n_exp, digest_exp = self.wl.expected[self.month]
        pdf = txn.read(self.wl.ctx.spark, out["root"]).select(*_KEY, "Actual").toPandas()
        if len(pdf) != n_exp:
            raise CheckFailed(f"{len(pdf)} committed rows != expected {n_exp}")
        if pdf.duplicated(_KEY).any():
            raise CheckFailed("natural key not unique after upsert")
        ts = pdf["event_ts"].dt.strftime("%Y-%m-%d %H:%M:%S")
        got = winners_digest(zip(ts, pdf["Currency"], pdf["Event"], pdf["Actual"]))
        if got != digest_exp:
            raise CheckFailed("winning values differ from the generator's")

    def account(self, ctx: Ctx, out: dict, op_id: str) -> dict:
        root = out["root"]
        files1 = _manifest_files(root)
        new = [f for f in files1 if f not in out["files0"]]
        n_raw = out["raw"].count()
        n_clean = out["cleaned"].count()
        c = {
            "jobs": out["j2"] - out["j0"],
            "exec_s": out["commit_s"],
            "commit_s": out["commit_s"],
            "commits": 1,
            "files_written": len(new),
            "bytes_written": sum(os.path.getsize(os.path.join(root, f)) for f in new),
            "reject_frac": (n_raw - n_clean) / n_raw if n_raw else 0.0,
            "rows_landed": n_raw,
        }
        c.update(ctx.counters.job_stats(out["j0"], out["j2"]))
        return c


class AutomateOp:
    kind = "automate"

    def __init__(self, wl: IngestServe):
        self.wl, self.name = wl, "automate"

    def execute(self, ctx: Ctx, op_id: str) -> dict:
        api = self.wl.api
        api.op_id, api.parent = op_id, ctx.tracer.current()
        out: dict = {}
        if ctx.counters:
            out["j0"] = ctx.counters.next_job_id()
        host, port = self.wl.server.server_address[:2]
        req = urllib.request.Request(
            f"http://{host}:{port}/automate", data=b"{}", method="POST",
            headers={"Content-Type": "application/json"},
        )
        with ctx.tracer.span("serving.request", op_id):
            t0 = time.perf_counter()
            with urllib.request.urlopen(req, timeout=120) as resp:
                out["status"] = resp.status
                out["body"] = json.loads(resp.read())
            out["client_s"] = time.perf_counter() - t0
        if ctx.counters:
            out["j2"] = ctx.counters.next_job_id()
        return out

    def check(self, out: dict) -> None:
        if out["status"] != 200:
            raise CheckFailed(f"HTTP {out['status']}")
        body = out["body"]
        for stage in ("train", "validate", "test"):
            summary = body.get(stage, {}).get("summary")
            if not isinstance(summary, dict) or not summary:
                raise CheckFailed(f"no {stage} summary in the /automate reply")

    def account(self, ctx: Ctx, out: dict, op_id: str) -> dict:
        handler = self.wl.api.handler_s
        c = {
            "jobs": out["j2"] - out["j0"],
            "exec_s": handler,
            "handler_s": handler,
            "transport_s": out["client_s"] - handler,
            "pipeline_jobs": out["j2"] - out["j0"],
            "live_files": len(_manifest_files(self.wl.root)),
        }
        c.update(ctx.counters.job_stats(out["j0"], out["j2"]))
        return c
