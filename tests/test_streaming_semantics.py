"""Multi-batch streaming semantics the single-drain oracle queries
cannot exercise: watermark advancement across micro-batches and the
append-mode emission contract.

The registry's streaming queries are oracle-checkable precisely because
one file => one micro-batch => nothing is ever late. Here a two-file
source processed one file per trigger makes the watermark move between
batches, and we assert the contracts Spark actually guarantees:

- the watermark advances monotonically from each batch's max event time
  minus the delay (1970 → 11:50 → 11:55 in this fixture);
- append mode emits a window ONLY once the watermark passes its end
  (closed windows emitted, the still-open latest window withheld) —
  which is exactly the state-eviction bound that keeps memory finite on
  unbounded streams.

(Deliberately NOT asserted: that a late row below the watermark is
dropped. Spark's late-record filtering is best-effort — observed here:
a late row opening a fresh window in batch 2 is still accepted — and
the hard guarantee is only about emission/eviction, so that is what we
pin.)
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _write_batch(path, rows):
    # a plain single parquet FILE (not a Spark output directory): the
    # file stream source lists files, exactly like the test fixtures
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "user": [r[0] for r in rows],
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "v": [r[2] for r in rows],
        }
    )
    pq.write_table(tbl, path)


def test_watermark_advance_and_append_emission(spark, tmp_path):
    import time

    src = tmp_path / "src"
    src.mkdir()
    base = dt.datetime(2025, 1, 1, 12, 0, 0)

    _write_batch(
        str(src / "b1.parquet"),
        [("u", base - dt.timedelta(hours=3), 1), ("u", base, 1)],
    )
    time.sleep(1.1)  # distinct mtimes fix the batch order
    _write_batch(
        str(src / "b2.parquet"),
        [("u", base + dt.timedelta(minutes=5), 1)],
    )

    stream = (
        spark.readStream.schema("user string, ts timestamp, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "user", "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_semantics")
        .start()
    )
    try:
        q.processAllAvailable()
        marks = [
            p["eventTime"].get("watermark")
            for p in q.recentProgress
            if p["eventTime"].get("watermark")
        ]
    finally:
        q.stop()

    # watermark advanced across batches: 1970 epoch start, then
    # max(batch ts) - 10 min after each data batch
    assert "2025-01-01T11:50:00.000Z" in marks, marks
    assert "2025-01-01T11:55:00.000Z" in marks, marks
    assert marks == sorted(marks), f"watermark must be monotone: {marks}"

    out = {
        (r["ws"], r["user"]): r["n"]
        for r in spark.table("wm_semantics").collect()
    }
    # the 09:00 window closed (end 10:00 < final watermark 11:55) -> emitted
    assert out == {(dt.datetime(2025, 1, 1, 9), "u"): 1}, out
    # the 12:00 window (2 rows) is still open -> withheld, its state the
    # only state retained


def test_series_state_tws_matches_batch(spark):
    """transformWithStateInPandas twin of the series bookkeeping: full
    single-drain run equals the batch GROUP BY. Requires a
    google.protobuf runtime (the TWS state server's wire protocol);
    ``compat.ensure_protobuf`` discovers the image's vendored runtime,
    so on this container the test RUNS — the skip survives only for
    environments with no runtime anywhere on disk."""
    import pytest

    from mql5_economic_news_data_pipeline_2025_gcp__spark.compat import (
        ensure_protobuf,
    )

    if not ensure_protobuf():
        pytest.skip("no google.protobuf runtime anywhere on this image: "
                    "transformWithState state server cannot start")

    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.tables import (
        load_table,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.stateful import (
        series_state_tws,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r["user_id"], r["event_type"]): (r["n"], r["max_c"], r["hwm_ts"])
        for r in series_state_tws(spark, sf).collect()
    }
    want = {
        (r["user_id"], r["event_type"]): (r["n"], r["max_c"], r["hwm_ts"])
        for r in load_table(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.round(F.col("value") * 100).cast("bigint")).alias("max_c"),
            F.max("ts").alias("hwm_ts"),
        )
        .collect()
    }
    assert got == want


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Exactly-once incremental ingest across RESTARTS: the file
    source's checkpoint records processed files, so a second drain of
    the same landing dir ships only files added since — re-running a
    monthly ingest never double-counts history (the semantics the
    reference's high-water-mark emulates, here structural)."""
    import glob

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    spark.range(0, 100).selectExpr("id", "id * 2 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    schema = "id long, v long"

    def drain():
        stream = spark.readStream.schema(schema).parquet(landing)
        q = (
            stream.writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(target).count() == 100

    spark.range(1000, 1050).selectExpr("id", "id * 2 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    drain()
    out = spark.read.parquet(target)
    assert out.count() == 150  # 100 would mean no pickup; 250 double-count
    assert out.selectExpr("count(DISTINCT id) AS n").collect()[0]["n"] == 150


def test_rollup_state_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once; a replayed micro-batch id must NOT
    be merged twice into the parquet rollup state (ADVICE r3: the fold
    previously ignored the batch id and double-counted on retry)."""
    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.ingest import (
        ParquetRollupState,
    )

    state = ParquetRollupState(
        spark, str(tmp_path), keys=("k",), sums=("v",), mins=(), maxs=()
    )
    b0 = spark.createDataFrame([("a", 10), ("a", 5), ("b", 1)], "k string, v long")
    state.fold(b0, 0)
    state.fold(b0, 0)  # retry of the same batch id: must be a no-op
    b1 = spark.createDataFrame([("a", 100)], "k string, v long")
    state.fold(b1, 1)
    state.fold(b1, 1)  # retried too
    out = {
        r["k"]: (r["sum_v"], r["n"])
        for r in state.read().collect()
    }
    assert state.applied_batch() == 1
    assert out["a"] == (115, 3) and out["b"] == (1, 1)


def test_rollup_state_fold_survives_failed_commit(spark, tmp_path, monkeypatch):
    """A fold that dies at the commit leaves the previous batch as the
    state: read() and applied_batch() still show it, and replaying the
    failed batch id applies it exactly once."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.ingest import (
        ParquetRollupState,
    )

    state = ParquetRollupState(spark, str(tmp_path), keys=("k",), sums=("v",))
    b0 = spark.createDataFrame([("a", 10), ("b", 1)], "k string, v long")
    b1 = spark.createDataFrame([("a", 100)], "k string, v long")
    state.fold(b0, 0)

    real_commit = txn._try_commit
    calls = {"n": 0}

    def crash_once(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("simulated crash at commit")
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(txn, "_try_commit", crash_once)
    with pytest.raises(OSError):
        state.fold(b1, 1)
    assert state.applied_batch() == 0
    assert {r["k"]: r["sum_v"] for r in state.read().collect()} == {
        "a": 10,
        "b": 1,
    }

    state.fold(b1, 1)  # the replay after the crash applies the batch
    state.fold(b1, 1)  # and a second replay is skipped
    assert state.applied_batch() == 1
    assert {r["k"]: (r["sum_v"], r["n"]) for r in state.read().collect()} == {
        "a": (110, 2),
        "b": (1, 1),
    }


def test_stream_cms_equals_batch(spark):
    """The streamed (micro-batch-merged) CMS sketch readout must equal
    a one-pass batch sketch built with the SAME (portable) hash exactly
    — mergeability + exactly-once fold. The readout math mirrors
    stream_heavy_hitters' top-20 join."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.cms import (
        cms_build,
        cms_estimate,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.tables import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    streamed = (
        REGISTRY["stream_heavy_hitters"].spark_fn(spark, sf).toPandas()
        .sort_values("rnk").reset_index(drop=True)
    )
    ev = load_table(spark, sf, "events").withColumn(
        "hh_key", F.concat_ws("|", "user_id", "event_type")
    )
    sketch = cms_build(ev, "hh_key", d=4, w=2048, portable=True)
    top = (
        ev.groupBy("hh_key")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("hh_key"))
        .limit(20)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("true_cnt"), F.asc("hh_key"))
            ),
        )
    )
    est = cms_estimate(sketch, top, "hh_key", d=4, w=2048, portable=True)
    batch = (
        top.join(est, top.hh_key == est.key)
        .select(
            "hh_key",
            F.col("true_cnt").cast("bigint").alias("true_cnt"),
            F.col("est").cast("bigint").alias("cms_est"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
        .toPandas()
        .sort_values("rnk")
        .reset_index(drop=True)
    )
    assert streamed.equals(batch)
    # CMS one-sided guarantee survives the streaming fold
    assert (streamed["cms_est"] >= streamed["true_cnt"]).all()


def test_stream_hll_equals_batch(spark):
    """The micro-batch-folded portable HLL register readout must equal
    the one-pass batch register table EXACTLY (register-wise max is
    split-invariant) — same zero-register counts and exact BIGINT
    harmonic denominators, not merely close estimates."""
    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.tables import (
        load_table,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.ingest import (
        stream_hll_distinct,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        r["event_type"]: (r["zero_registers"], r["sum_scaled"])
        for r in stream_hll_distinct(spark, sf).collect()
    }
    # one-pass batch register table, same portable recipe
    ev = load_table(spark, sf, "events")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    regs = (
        ev.select("event_type", hv.alias("hv"))
        .select(
            "event_type",
            (F.col("hv") % 256).alias("bucket"),
            F.floor(F.col("hv") / 256).cast("bigint").alias("w"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.max(
                F.when(F.col("w") == 0, F.lit(25)).otherwise(
                    F.lit(25) - F.length(F.bin("w"))
                )
            ).alias("reg")
        )
    )
    batch = {
        r["event_type"]: (r["zr"], r["ss"])
        for r in regs.groupBy("event_type")
        .agg(
            (F.lit(256) - F.count(F.lit(1))).cast("bigint").alias("zr"),
            (
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 25 - reg)"))
                + (F.lit(256) - F.count(F.lit(1))) * F.lit(1 << 25)
            )
            .cast("bigint")
            .alias("ss"),
        )
        .collect()
    }
    assert streamed == batch


def test_sketch_state_fold_binary(spark, tmp_path):
    """ParquetSketchState (engine-native DataSketches HLL binaries in
    batch-id-versioned parquet state) still merges by register union
    with at-least-once idempotence: a replayed batch id is a no-op and
    the folded estimate equals the direct ``hll_union_agg`` of the
    same per-batch sketches (the union code path itself — a one-pass
    sketch can differ by a few counts through the union gadget's
    sparse-mode transitions, so THAT is not the invariant), and stays
    within the lgk=12 rsd of the exact distinct count."""
    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.ingest import (
        ParquetSketchState,
    )

    state = ParquetSketchState(
        spark, str(tmp_path), keys=("event_type",), value_col="user_id", lgk=12
    )
    b0 = spark.createDataFrame(
        [("view", i) for i in range(400)] + [("click", i) for i in range(50)],
        "event_type string, user_id long",
    )
    b1 = spark.createDataFrame(
        [("view", i) for i in range(200, 600)],
        "event_type string, user_id long",
    )
    state.fold(b0, 0)
    state.fold(b0, 0)  # at-least-once replay: must be skipped
    state.fold(b1, 1)
    state.fold(b1, 1)
    assert state.applied_batch() == 1
    folded = {
        r["event_type"]: r["est"]
        for r in state.read()
        .select(
            "event_type",
            F.expr("CAST(hll_sketch_estimate(sk) AS BIGINT)").alias("est"),
        )
        .collect()
    }
    per_batch = (
        b0.withColumn("b", F.lit(0))
        .unionByName(b1.withColumn("b", F.lit(1)))
        .groupBy("event_type", "b")
        .agg(F.expr("hll_sketch_agg(user_id, 12)").alias("sk"))
    )
    direct_union = {
        r["event_type"]: r["est"]
        for r in per_batch.groupBy("event_type")
        .agg(
            F.expr(
                "CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)"
            ).alias("est")
        )
        .collect()
    }
    assert folded == direct_union
    # accuracy contract: within 5 rsd (lgk=12 -> rsd ~1.6%) of exact
    exact = {"view": 600, "click": 50}
    for k, est in folded.items():
        assert abs(est - exact[k]) <= max(3, 0.08 * exact[k])


def test_streaming_listener_records_progress(spark, tmp_path):
    """StreamingQueryListener surface: the recorder sees every
    micro-batch's rows/durations and the clean termination, and its
    row total equals what actually flowed through the sink."""
    import time

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.pysource import (
        register,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.monitor import (
        watch,
    )

    register(spark)
    rec = watch(spark, jsonl_path=str(tmp_path / "progress.jsonl"))
    try:
        sdf = (
            spark.readStream.format("synthetic_events")
            .option("batch_rows", "250")
            .option("max_rows", "1000")
            .load()
        )
        out = str(tmp_path / "out")
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        qid = str(q.id)

        def mine():
            # the listener is session-wide: other tests' queries (or
            # their stragglers) also emit events — scope to THIS query
            return [r for r in rec.records if r["id"] == qid]

        deadline = time.time() + 120
        while time.time() < deadline:
            if sum(r["n_input_rows"] or 0 for r in mine()) >= 1000:
                break
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(30)
        # listener dispatch is async: awaitTermination() returning does
        # NOT guarantee onQueryTerminated has been delivered — poll for
        # this query's termination record before removing the listener
        # (mirrors the input-rows wait loop above).
        deadline = time.time() + 30
        while time.time() < deadline:
            if any(t["id"] == qid for t in rec.terminations):
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(rec)

    assert any(s_["id"] == qid for s_ in rec.starts)
    m = mine()
    assert sum(r["n_input_rows"] or 0 for r in m) == 1000
    assert len(m) >= 4  # 1000 rows / 250 per batch
    assert any(r["batch_ms"] is not None for r in m)
    # listener captured this query's clean termination
    assert any(
        t["id"] == qid and t["exception"] is None for t in rec.terminations
    )
    # the JSONL mirror holds the same batches
    import json as _json

    lines = [
        _json.loads(l)
        for l in open(tmp_path / "progress.jsonl").read().splitlines()
        if _json.loads(l)["id"] == qid
    ]
    assert sum(r["n_input_rows"] for r in lines) == 1000
    # and the sink agrees with the telemetry
    assert spark.read.parquet(out).count() == 1000


# ---------------------------------------------------------------------------
# Scoped drains: a drain's confs (state partitions, state-store provider)
# live on a memoised child of the caller's session (session.scoped_session);
# the caller's session is never toggled, still hears the drain's progress,
# and keeps no per-drain temp view.
# ---------------------------------------------------------------------------

_SF = "/root/testdata/sf0.001"


def _require_tws_runtime():
    from mql5_economic_news_data_pipeline_2025_gcp__spark.compat import (
        ensure_protobuf,
    )

    if not ensure_protobuf():
        pytest.skip("no google.protobuf runtime anywhere on this image: "
                    "transformWithState state server cannot start")


def test_foreachbatch_drain_leaves_parent_partitions(spark):
    """Inside a micro-batch of a JVM-state drain the stream runs on 8
    state partitions while the caller's session still reads its own
    ``spark.sql.shuffle.partitions``."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.ingest import (
        _drain_via_foreachbatch,
        _events_stream,
    )

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    seen = []

    def _probe(batch_df):
        seen.append((spark.conf.get(key), batch_df.sparkSession.conf.get(key)))
        return batch_df.groupBy("event_type").count()

    spark.conf.set(key, "5")
    try:
        out = _drain_via_foreachbatch(_events_stream(spark, _SF), batch_fn=_probe)
        assert out.count() > 0
    finally:
        spark.conf.set(key, old)
    assert seen and set(seen) == {("5", "8")}


def test_tws_drain_leaves_parent_provider(spark):
    """A thread polling the caller's state-store provider while a
    transformWithState drain runs never sees the RocksDB provider the
    drain starts with."""
    import threading

    _require_tws_runtime()
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.stateful import (
        series_state_tws,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    seen, done = set(), threading.Event()

    def _poll():
        while not done.is_set():
            seen.add(spark.conf.get(key, None))
            done.wait(0.01)

    th = threading.Thread(target=_poll)
    th.start()
    try:
        assert series_state_tws(spark, _SF).count() > 0
    finally:
        done.set()
        th.join()
    assert seen == {before}


def test_parent_listener_hears_scoped_drains(spark):
    """``monitor.watch`` on the caller's session records the micro-batches
    of a JVM-state drain and a transformWithState drain, both of which
    start on a scoped child session."""
    import time

    _require_tws_runtime()
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.ingest import (
        stream_windowed_counts,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.monitor import (
        watch,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.stateful import (
        series_state_tws,
    )

    rec = watch(spark)
    try:
        for drain in (stream_windowed_counts, series_state_tws):
            n0 = len(rec.starts)
            drain(spark, _SF)
            deadline = time.time() + 30
            while time.time() < deadline:
                ids = {s["id"] for s in rec.starts[n0:]}
                if ids and any(r["id"] in ids for r in rec.records):
                    break
                time.sleep(0.1)
            assert len(ids) == 1, drain.__name__
            rows = [r for r in rec.records if r["id"] in ids]
            assert rows and sum(r["n_input_rows"] or 0 for r in rows) > 0
    finally:
        spark.streams.removeListener(rec)


def test_memory_drain_leaves_no_temp_view(spark):
    """A memory-sink drain returns its rows without leaving a temp view
    on the caller's session or on the scoped child."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.session import (
        scoped_session,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.ingest import (
        JVM_STATE_CONFS,
        stream_windowed_counts,
    )

    def _views(s):
        return {t.name for t in s.catalog.listTables() if t.isTemporary}

    before = _views(spark)
    out = stream_windowed_counts(spark, _SF)
    assert out.count() > 0
    assert _views(spark) == before
    assert not any(
        v.startswith("stream_out_")
        for v in _views(scoped_session(spark, JVM_STATE_CONFS))
    )
