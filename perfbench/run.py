#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run generates its inputs from the
seed, starts one Spark session at ``local[nproc]``, runs untimed
warm-up passes over the workload's op list, then runs timed passes
until ``--seconds`` have passed, checking every op's output. Each
figure is a per-op median over the timed passes, so one slow pass moves
nothing.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, with the
tracing overhead taken between the two kinds of pass. The last stdout
line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. Full records (every
op, host, spans) land in ``.perfbench_out/`` under the repository root;
scratch data lives in ``.perfbench_work/`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mql5_economic_news_data_pipeline_2025_gcp__spark"

WORKLOADS = ("registry_mix", "ingest_serve")

#: Driver heap for one benchmark process (the session default is sized
#: for a large host).
DRIVER_MEM = "2g"

#: Driver JVM compiles with C1 only. With the default tiered C2, op
#: latency and CPU time keep falling for eight passes and more while the
#: compiler threads work, at a pace set by how much CPU the host grants;
#: with C1 they level off after the first pass.
JIT = "-XX:TieredStopAtLevel=1"

#: Untimed passes before timing starts; the first runs every op cold.
WARMUP_PASSES = 2

#: (metric name, unit) printed with --trace 0. Every figure is CPU time
#: of the engine's processes: on a shared host the wall time of the same
#: pass moves by half between runs with the time the hypervisor steals.
#: Wall times are in the full record.
END_TO_END = [
    ("setup_s", "s"),
    ("pass_cpu_s", "s"),
    ("op_cpu_geomean_s", "s"),
    ("slowest_op_cpu_s", "s"),
]

#: (metric name, unit, per-op count key or None for run-level values).
#: A per-op value is reported per pass: the sum over the op list of each
#: op's median, except for the ratios in ``MEDIAN_KEYS``.
PER_LAYER = [
    ("session.start_s", "s", None),
    ("session.gen_s", "s", None),
    ("session.warmup_s", "s", None),
    ("session.peak_rss_mb", "MB", None),
    ("plans.build_s", "s", "build_s"),
    ("plans.build_jobs", "count", "build_jobs"),
    ("spark.analysis_ms", "ms", "analysis_ms"),
    ("spark.optimization_ms", "ms", "optimization_ms"),
    ("spark.planning_ms", "ms", "planning_ms"),
    ("spark.exec_s", "s", "exec_s"),
    ("spark.jobs", "count", "jobs"),
    ("spark.stages", "count", "stages"),
    ("spark.tasks", "count", "tasks"),
    ("spark.task_run_s", "s", "task_run_s"),
    ("spark.task_cpu_s", "s", "task_cpu_s"),
    ("spark.gc_s", "s", "gc_s"),
    ("spark.shuffle_read_bytes", "bytes", "shuffle_read_bytes"),
    ("spark.shuffle_write_bytes", "bytes", "shuffle_write_bytes"),
    ("spark.spill_bytes", "bytes", "spill_bytes"),
    ("spark.python_bytes_sent", "bytes", "python_bytes_sent"),
    ("streaming.batches", "count", "stream_batches"),
    ("streaming.batch_ms", "ms", "stream_batch_ms"),
    ("streaming.input_rows", "count", "stream_input_rows"),
    ("streaming.state_rows", "count", "stream_state_rows"),
    ("streaming.jobs", "count", "stream_jobs"),
    ("streaming.floor_s", "s", "stream_floor_s"),
    ("functions.reject_frac", "ratio", "reject_frac"),
    ("sources.commit_s", "s", "commit_s"),
    ("sources.commits", "count", "commits"),
    ("sources.files_written", "count", "files_written"),
    ("sources.bytes_written", "bytes", "bytes_written"),
    ("sources.live_files", "count", "live_files"),
    ("serving.handler_s", "s", "handler_s"),
    ("serving.transport_s", "s", "transport_s"),
    ("pipeline.jobs", "count", "pipeline_jobs"),
    ("trace.overhead_s", "s", None),
    ("trace.overhead_cpu_s", "s", None),
]
MEDIAN_KEYS = {"reject_frac"}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    JVM-spawned Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


class Run:
    def __init__(self, args, work: str):
        from accounting import RssSampler, Tracer, process_start_time

        self.args = args
        self.work = work
        self.t_proc = process_start_time()
        self.rss = RssSampler().start()
        self.tracer = Tracer(enabled=False)
        self.session: dict[str, float] = {}
        self.spark = None
        self.wl = None
        self.recorder = None

    # ------------------------------------------------------------ set-up
    def setup(self):
        from accounting import host_record
        from workloads import Ctx, IngestServe, registry_ops

        args = self.args
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.host = host_record(ROOT, args.seed, cpus)
        data_dir = os.path.join(self.work, "data")
        expected: dict = {}
        oracle_thread = None
        t0 = time.perf_counter()
        if args.workload == "registry_mix":
            import gen
            from checks import oracle_expectations
            from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY
            from workloads import REGISTRY_MIX

            gen.write_tables(data_dir, args.seed)
            oracles = {n: REGISTRY[n].oracle for n in REGISTRY_MIX}
            t_gen = time.perf_counter() - t0

            def _expect():
                t1 = time.perf_counter()
                try:
                    expected.update(oracle_expectations(data_dir, oracles))
                except Exception as e:  # re-raised on the main thread
                    expected["__error__"] = repr(e)
                self.session["expect_s"] = time.perf_counter() - t1

            # DuckDB releases the GIL: the oracles run while the JVM starts
            oracle_thread = threading.Thread(target=_expect, name="oracles")
            oracle_thread.start()
        from mql5_economic_news_data_pipeline_2025_gcp__spark.session import get_spark

        t1 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session["start_s"] = time.perf_counter() - t1
        self.ctx = Ctx(self.spark, data_dir, self.work, self.tracer, None)
        if oracle_thread is not None:
            oracle_thread.join()
            if "__error__" in expected:
                raise RuntimeError(f"oracle expectations failed: {expected['__error__']}")
            self.session["gen_s"] = t_gen + self.session["expect_s"]
            ops = registry_ops(expected)
            self.pass_ops = lambda: ops
            self.begin_pass = lambda: None
        else:
            t_gen = time.perf_counter()
            self.wl = IngestServe(self.ctx, args.seed)
            self.session["gen_s"] = time.perf_counter() - t_gen
            self.pass_ops = self.wl.ops
            self.begin_pass = self.wl.begin_pass
        t2 = time.perf_counter()
        if self.wl is not None:
            self.wl.start()
        self.warmup = []
        for k in range(WARMUP_PASSES):
            self.warmup += self.run_pass(f"warm{k}")
        self.session["warmup_s"] = time.perf_counter() - t2

    def _pass_list(self):
        self.begin_pass()
        self._last_pass = list(self.pass_ops())
        return self._last_pass

    # --------------------------------------------------------------- ops
    def run_op(self, op, op_id: str):
        from accounting import OpRecord, tree_cpu_s

        cnt = self.ctx.counters
        if cnt:
            cnt.set_group(op_id)
        out = None
        t0 = time.perf_counter()
        c0 = tree_cpu_s()
        lat = None
        try:
            with self.tracer.span(f"op.{op.kind}", op_id):
                out = op.execute(self.ctx, op_id)
            lat = time.perf_counter() - t0
            cpu = tree_cpu_s() - c0
            if cnt:
                cnt.clear_group()
            op.check(out)
            rec = OpRecord(op.name, op.kind, lat, cpu, True)
        except Exception as e:  # a failed op is counted, never fatal
            if lat is None:
                lat = time.perf_counter() - t0
            rec = OpRecord(op.name, op.kind, lat, 0.0, False, f"{type(e).__name__}: {str(e)[:400]}")
        if cnt:
            cnt.clear_group()
            if rec.ok:
                rec.counts = op.account(self.ctx, out, op_id)
                if op.kind == "drain":
                    rec.counts["stream_jobs"] = rec.counts.pop("escaped_jobs")
                self.tracer.record_counts(op_id, op.name, rec.counts)
        return rec

    def run_pass(self, tag: str) -> list:
        return [self.run_op(op, f"{tag}-{i}") for i, op in enumerate(self._pass_list())]

    def measure(self) -> dict:
        """Timed passes. With tracing, untraced (baseline) and traced
        passes alternate, so JVM warm-up drift falls on both alike."""
        from accounting import SparkCounters, machine_ticks, tree_cpu_s

        args = self.args
        counters = None
        if args.trace:
            from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.monitor import watch

            counters = SparkCounters(self.spark)
            if any(op.kind == "drain" for op in self._last_pass):
                self.recorder = self.ctx.recorder = watch(self.spark, capacity=1_000_000)
        recs, recs0 = [], []
        self.ticks0 = machine_ticks()
        self.t_first = time.time()
        self.setup_cpu_s = tree_cpu_s()
        t0 = time.perf_counter()
        n = 0
        while True:
            if args.trace:
                recs0 += self.run_pass(f"b{n}")
                self.tracer.enabled, self.ctx.counters = True, counters
            recs += self.run_pass(f"p{n}")
            self.tracer.enabled, self.ctx.counters = False, None
            n += 1
            if time.perf_counter() - t0 >= args.seconds:
                break
        return {"passes": n, "records": recs, "baseline_records": recs0}

    # ----------------------------------------------------------- teardown
    def close(self) -> None:
        from accounting import descendants

        if self.wl is not None:
            self.wl.stop()
        kids = descendants(os.getpid())
        if self.spark is not None:
            if self.recorder is not None:
                self.spark.streams.removeListener(self.recorder)
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait(timeout=10)
        self.rss.stop()
        _reap(kids)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids, timeout: float = 20.0) -> None:
    """Wait for every process the run started to end; kill stragglers."""
    deadline = time.time() + timeout
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def per_op_median(records, key: str) -> dict[str, float]:
    """Median per op name of ``key``: an ``OpRecord`` field, or else a
    per-op count."""
    from stats import median

    by: dict[str, list[float]] = {}
    for r in records:
        v = getattr(r, key, r.counts.get(key))
        if v is not None:
            by.setdefault(r.name, []).append(v)
    return {n: median(v) for n, v in by.items()}


def pass_figures(records, key: str) -> dict[str, float]:
    """Figures of a set of passes from each op's median ``key``
    (``latency_s`` or ``cpu_s``): one pass (their sum), their geometric
    mean, and the slowest and fastest op."""
    v = per_op_median(records, key).values()
    return {
        "pass": sum(v),
        "geomean": math.exp(sum(math.log(x) for x in v) / len(v)),
        "slowest": max(v),
        "fastest": min(v),
    }


def _report(run: Run, m: dict) -> tuple[dict, dict]:
    """(printed metrics, full record)."""
    from accounting import machine_ticks
    from stats import median, spread, tail

    args = run.args
    recs = m["records"]
    all_recs = m["baseline_records"] + recs
    ok = [r for r in recs if r.ok]
    full: dict = {
        "setup_wall_s": run.t_first - run.t_proc,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": run.host,
        "session": run.session,
        "passes": m["passes"],
        "warmup": [r.__dict__ for r in run.warmup],
        "ops": [r.__dict__ for r in all_recs],
    }
    lat = [r.latency_s for r in ok]
    kinds = {}
    for r in ok:
        kinds.setdefault(r.kind, []).append(r.latency_s)
    workload_e2e = {
        "failed_frac": sum(not r.ok for r in all_recs) / max(len(all_recs), 1),
        "op_latency_tail": tail(lat),
    }
    if "query" in kinds:
        workload_e2e["query_p50_s"] = median(kinds["query"])
        workload_e2e["query_tail"] = tail(kinds["query"])
    if "drain" in kinds:
        workload_e2e["drain_p50_s"] = median(kinds["drain"])
    if "ingest" in kinds:
        from workloads import CALENDAR_ROWS

        workload_e2e["ingest_p50_s"] = median(kinds["ingest"])
        workload_e2e["ingest_rows_per_s"] = median(CALENDAR_ROWS / x for x in kinds["ingest"])
    if "automate" in kinds:
        workload_e2e["automate_p50_s"] = median(kinds["automate"])
    if run.wl is not None:
        root = run.wl.root
        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(root) for f in files
        )
        landed = sum(run.wl.csv_bytes)
        workload_e2e["stored_bytes_per_input_byte"] = stored / landed
    if ok:
        workload_e2e["wall"] = pass_figures(ok, "latency_s")
        workload_e2e["cpu"] = pass_figures(ok, "cpu_s")
    full["workload_e2e"] = workload_e2e

    if not ok:
        metrics, units = {}, {}
    elif not args.trace:
        cpu = workload_e2e["cpu"]
        metrics = {
            "setup_s": run.setup_cpu_s,
            "pass_cpu_s": cpu["pass"],
            "op_cpu_geomean_s": cpu["geomean"],
            "slowest_op_cpu_s": cpu["slowest"],
        }
        units = dict(END_TO_END)
    else:
        metrics, units = {}, {}
        layer_full = {}
        for name, unit, key in PER_LAYER:
            units[name] = unit
            if key is None:
                continue
            vals = [r.counts[key] for r in ok if key in r.counts]
            layer_full[name] = spread(vals)
            per_op = per_op_median(ok, key).values()
            metrics[name] = (median(per_op) if key in MEDIAN_KEYS else sum(per_op)) if vals else 0
        metrics["session.start_s"] = run.session["start_s"]
        metrics["session.gen_s"] = run.session["gen_s"]
        metrics["session.warmup_s"] = run.session["warmup_s"]
        metrics["session.peak_rss_mb"] = run.rss.peak_mb
        base = [r for r in m["baseline_records"] if r.ok]
        for name, key in (("trace.overhead_s", "latency_s"), ("trace.overhead_cpu_s", "cpu_s")):
            metrics[name] = pass_figures(ok, key)["pass"] - pass_figures(base, key)["pass"]
        full["per_layer_spread"] = layer_full
        full["baseline_wall"] = pass_figures(base, "latency_s")
    full["metrics"] = metrics
    full["peak_rss_mb"] = run.rss.peak_mb
    full["host"]["loadavg_end"] = os.getloadavg()
    ticks = [b - a for a, b in zip(run.ticks0, machine_ticks())]
    full["host"]["steal_frac"] = ticks[1] / max(ticks[0], 1)
    line_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    return line_metrics, full


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the engine package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    run = Run(args, work)
    try:
        run.setup()
        m = run.measure()
        line_metrics, full = _report(run, m)
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(full, fh, indent=1, default=str)
    if args.trace:
        with open(os.path.join(out_dir, f"{tag}-spans.json"), "w") as fh:
            json.dump(run.tracer.to_json(), fh, default=str)
    recs = m["baseline_records"] + m["records"]
    failed = sum(not r.ok for r in recs)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": line_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
