#!/usr/bin/env python
"""Per-partition worker-cost model for the transformWithStateInPandas
(TWS) drain harness — VERDICT r13 task 3.

The three TWS queries sit on a ~3.5 s/drain floor that r12/r13 measured
as partition-count-invariant with a trivial processor. This script fits
the floor's structure so the next partition/batching debate is a lookup
instead of a re-measurement. Model per drain:

    wall = f0  +  fP * n_state_partitions  +  fK * n_keys  +  fR * n_rows

measured over a grid of (state partitions) x (SF) on ONE leg
(series_state_tws's processor, run through the same _drain_to_table
helper with an explicit partition override), plus a TRIVIAL processor
(no state calls, one constant row per key) at the same grid points to
split fK into (per-key harness cost) + (per-key state-RPC cost).

Every timing is min-of-N in ONE process, interleaved across grid points
(guide §1; this host carries external noise — BENCH_NOTES).

Usage: python scripts/tws_cost_model.py [--iters 3] [> report]
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_tws_frame(spark, sf_dir: str, trivial: bool):
    """The series_state_tws stream with either the real bookkeeping
    processor or a trivial no-state control."""
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.stateful import (  # noqa: E501
        _ts_us,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.ingest import (  # noqa: E501
        _stream_source,
    )

    class Trivial(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            pass

        def handleInputRows(self, key, rows, timerValues):
            n = 0
            for pdf in rows:
                n += len(pdf)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [key[1]],
                    "n": [n],
                    "max_c": [0],
                    "hwm_us": [0],
                }
            )

        def close(self) -> None:
            pass

    class Series(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "series", "n long, max_c long, hwm_us long"
            )

        def handleInputRows(self, key, rows, timerValues):
            prev = self._state.get()
            n, max_c, hwm_us = prev if prev is not None else (0, None, None)
            for pdf in rows:
                n += len(pdf)
                bm = int(pdf["value_c"].max())
                bh = int(pdf["ts_us"].max())
                max_c = bm if max_c is None else max(max_c, bm)
                hwm_us = bh if hwm_us is None else max(hwm_us, bh)
            self._state.update((n, max_c, hwm_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [key[1]],
                    "n": [n],
                    "max_c": [max_c],
                    "hwm_us": [hwm_us],
                }
            )

        def close(self) -> None:
            pass

    stream = _stream_source(spark, sf_dir, "events")
    ev = stream.select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
        _ts_us(stream).alias("ts_us"),
    ).filter(F.col("value_c").isNotNull())
    return ev.groupBy("user_id", "event_type").transformWithStateInPandas(
        Trivial() if trivial else Series(),
        outputStructType=(
            "user_id long, event_type string, n long, max_c long,"
            " hwm_us long"
        ),
        outputMode="Update",
        timeMode="None",
    )


def drain_once(spark, sf_dir: str, trivial: bool, partitions: int) -> float:
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.ingest import (  # noqa: E501
        TWS_STATE_CONFS,
        _drain_to_table,
    )

    confs = {**TWS_STATE_CONFS, "spark.sql.shuffle.partitions": str(partitions)}
    t0 = time.time()
    out = build_tws_frame(spark, sf_dir, trivial)
    _drain_to_table(out, mode="update", confs=confs).count()
    return time.time() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--parts", default="8,16,32")
    # three SFs so keys (bounded by |users|x|types|, saturates early)
    # and rows (grows with SF) decorrelate and fK/fR are identifiable
    ap.add_argument("--sfs", default="0.001,0.01,0.1")
    args = ap.parse_args()

    from mql5_economic_news_data_pipeline_2025_gcp__spark.compat import (
        ensure_protobuf_for_session,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.session import (
        get_spark,
    )

    spark = get_spark("tws-cost-model")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_protobuf_for_session(spark)

    parts = [int(p) for p in args.parts.split(",")]
    sfs = [s for s in args.sfs.split(",")]
    grid = [
        (sf, p, trivial)
        for sf in sfs
        for p in parts
        for trivial in (False, True)
    ]

    # key/row counts per SF (drives the fK/fR terms)
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import (
        keyed_events,
    )

    meta = {}
    for sf in sfs:
        ev = keyed_events(spark, f"/root/testdata/sf{sf}").filter(
            "value is not null"
        )
        meta[sf] = {
            "rows": ev.count(),
            "keys": ev.select("user_id", "event_type").distinct().count(),
        }
    print("meta:", json.dumps(meta), file=sys.stderr)

    # warm-up drain (JVM/worker/RocksDB init paid once, excluded)
    drain_once(spark, f"/root/testdata/sf{sfs[0]}", True, parts[0])

    results: dict[tuple, list[float]] = {g: [] for g in grid}
    for it in range(args.iters):
        for g in grid:  # interleaved: every iteration sweeps the grid
            sf, p, trivial = g
            w = drain_once(spark, f"/root/testdata/sf{sf}", trivial, p)
            results[g].append(round(w, 3))
            print(
                f"iter {it} sf={sf} parts={p} trivial={trivial}: {w:.3f}s",
                file=sys.stderr,
            )

    rows = []
    for (sf, p, trivial), runs in results.items():
        rows.append(
            {
                "sf": sf,
                "partitions": p,
                "trivial": trivial,
                "runs": runs,
                "min": min(runs),
                "keys": meta[sf]["keys"],
                "rows": meta[sf]["rows"],
            }
        )

    # least-squares fit of wall_min = f0 + fP*P + fK*keys + fR*rows,
    # separately for trivial (harness-only) and real (harness + state
    # RPC): fK_real - fK_trivial ≈ state-server RPC cost per key.
    import numpy as np

    fits = {}
    for trivial in (False, True):
        sub = [r for r in rows if r["trivial"] == trivial]
        A = np.array(
            [[1.0, r["partitions"], r["keys"], r["rows"]] for r in sub]
        )
        y = np.array([r["min"] for r in sub])
        coef = np.linalg.lstsq(A, y, rcond=None)[0]
        fits["trivial" if trivial else "real"] = {
            "f0_s": round(float(coef[0]), 4),
            "fP_s_per_partition": round(float(coef[1]), 6),
            "fK_s_per_key": round(float(coef[2]), 8),
            "fR_s_per_row": round(float(coef[3]), 10),
        }

    print(json.dumps({"points": rows, "fit": fits, "meta": meta}, indent=1))


if __name__ == "__main__":
    main()
