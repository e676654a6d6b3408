"""Structured-Streaming ingest (SURVEY §2.9 parity-plus).

The reference's ingestion is monthly batch + high-water-mark filter +
natural-key upsert. The streaming-native analogue:

    readStream(file source) → event-time watermark → dropDuplicates on
    the natural key → sink (foreachBatch merge for true upsert).

``Trigger.AvailableNow`` reproduces the batch cadence: one invocation
drains everything currently in the landing prefix, then stops — exactly
the monthly-DAG semantics, but incremental and exactly-once.

At scale: the file source tracks processed files in the checkpoint (no
re-reads); dropDuplicates state is bounded by the watermark; the
foreachBatch merge rewrites only partitions that received keys.

Determinism note: a single-drain run starts with empty watermark state,
so no row is late relative to the watermark and the results equal the
batch equivalents — which is what makes these oracle-checkable.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scoped_session
from ..sources import txn

# The confs a drain's streaming query starts with. Spark reads them once,
# at query start, and fixes the state layout in the checkpoint, so they
# belong to the query: a non-empty scope starts it on a memoised child of
# the caller's session (``session.scoped_session``), never by toggling
# the caller's session, which other threads plan on.

#: JVM-state drains (aggregates, dedup, stream-stream joins): 8 state
#: partitions. State partitioning is sized to key throughput, not data
#: scale, and each partition costs a state store commit per micro-batch
#: — at sf0.1 the view-purchase join drains in 2.6 s at 8 vs 6.5 s at 32.
JVM_STATE_CONFS = {"spark.sql.shuffle.partitions": "8"}
#: transformWithState drains keep each state variable in its own column
#: family, which only the RocksDB provider supports.
TWS_STATE_CONFS = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}
#: Python-state drains (``applyInPandasWithState``) and stateless sinks
#: start on the caller's session: their cost is per-group Python work,
#: one worker per state partition, so they keep the full parallelism.
PYTHON_STATE_CONFS: dict[str, str] = {}

#: One symlink dir per source parquet, reused across calls and removed at
#: interpreter exit — repeated bench/correctness runs no longer accumulate
#: mkdtemp litter (one query may legitimately open the same source twice,
#: e.g. the view/purchase self-join).
_STREAM_DIRS: dict[str, str] = {}


def _scratch_dir(prefix: str) -> str:
    """A throwaway directory cleaned up at interpreter exit (used for
    foreachBatch drain output and streaming checkpoints at test SF)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _stream_source(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    single_batch: bool = False,
) -> DataFrame:
    """File-source readStream over one test parquet (ns-timestamps read
    as long, converted downstream — same convention as sources.tables).

    The file stream source requires a directory; the single test parquet
    is exposed through a symlinked temp dir (a real deployment points at
    the landing prefix directly).

    ``single_batch=True`` sets ``maxFilesPerTrigger`` to the actual file
    count, so a multi-file table still arrives as ONE micro-batch — the
    structural guard for operators whose oracle needs per-key event-time
    order across the whole drain (they sort within a batch; they cannot
    sort across batches). Used by ``session_close_tws``.
    """
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    path = f"{sf_dir}/{table}.parquet"
    # `path` may be a Spark-written DIRECTORY of part files (any real
    # landing prefix); the first part's footer is authoritative and the
    # parts are linked individually (the file source does not recurse
    # into non-partition subdirectories)
    part_files = [path]
    if os.path.isdir(path):
        part_files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    fields = []
    for f_ in pq.read_schema(part_files[0]):
        s = str(f_.type)
        if s.startswith("timestamp[ns"):
            typ: T.DataType = T.LongType()
        elif s.startswith("timestamp"):
            typ = T.TimestampType()
        elif s in ("int64", "long"):
            typ = T.LongType()
        elif s in ("int32", "int"):
            typ = T.IntegerType()
        elif s == "double":
            typ = T.DoubleType()
        elif s == "float":
            typ = T.FloatType()
        else:
            typ = T.StringType()
        fields.append(T.StructField(f_.name, typ, True))

    key = os.path.abspath(path)
    stream_dir = _STREAM_DIRS.get(key)
    if stream_dir is None:
        stream_dir = tempfile.mkdtemp(prefix=f"stream_{table}_")
        for i, pf in enumerate(part_files):
            os.symlink(pf, os.path.join(stream_dir, f"{table}_{i}.parquet"))
        atexit.register(shutil.rmtree, stream_dir, ignore_errors=True)
        _STREAM_DIRS[key] = stream_dir
    files_per_trigger = max(len(part_files), 1) if single_batch else 8
    return (
        spark.readStream.schema(T.StructType(fields))
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(stream_dir)
    )


def _run_to_end(sdf: DataFrame, confs: dict[str, str], configure) -> SparkSession:
    """Start ``configure(sdf.writeStream)``, run it until its source is
    drained, stop it, and return the session the query ran on — the one
    place in ``streaming/`` that starts a query.

    A non-empty ``confs`` rebinds the built frame's plan onto
    ``scoped_session(sdf.sparkSession, confs)`` first, so the query
    starts with those confs while the caller's session keeps its own.
    """
    if confs:
        sdf = _on_session(scoped_session(sdf.sparkSession, confs), sdf)
    q = configure(sdf.writeStream).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sdf.sparkSession


def _on_session(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``df``'s analysed plan as a frame of ``spark`` (a session sharing
    its SparkContext), so it plans and runs under ``spark``'s confs."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, spark)


def _drain_to_table(
    agg: DataFrame,
    mode: str = "complete",
    confs: dict[str, str] = JVM_STATE_CONFS,
) -> DataFrame:
    """Run a streaming frame to exhaustion into a memory sink, with
    ``confs`` scoped to the query, and return the materialized result as
    a batch DataFrame on ``agg``'s session. The sink's temp view is
    dropped: the returned frame holds the sink's rows itself, so the
    caller's session (and the scoped child) keep no view per drain.

    SCALE RULE: the memory sink materializes every output row in DRIVER
    memory — it is the same failure mode as ``.collect()`` and is banned
    outside this oracle-drain helper. Only *aggregated* streams (output
    bounded by group cardinality, e.g. per-type counts or closed session
    windows) may drain through here, and only at test SF. Un-aggregated
    streams (raw joins, row-level transforms) must drain through
    ``_drain_via_foreachbatch`` (executor-side parquet writes) — enforced
    by ``tests/test_streaming.py::test_memory_sink_ban``.
    """
    name = "stream_out_" + uuid.uuid4().hex[:8]
    ran_on = _run_to_end(
        agg, confs, lambda w: w.outputMode(mode).format("memory").queryName(name)
    )
    out = _on_session(agg.sparkSession, ran_on.table(name))
    ran_on.catalog.dropTempView(name)
    return out


def _drain_via_foreachbatch(
    sdf: DataFrame,
    batch_fn=None,
    confs: dict[str, str] = JVM_STATE_CONFS,
) -> DataFrame:
    """Drain a streaming frame through ``foreachBatch`` → parquet, with
    ``confs`` scoped to the query, and return the files as a batch
    DataFrame read on ``sdf``'s session.

    This is the scale-safe drain for un-aggregated streams: each
    micro-batch is written by the executors straight to parquet —
    the driver never holds a single output row (contrast the memory
    sink, which buffers the entire result driver-side).

    ``batch_fn`` optionally maps each micro-batch DataFrame before the
    write (e.g. a per-batch partial aggregation, so only group-level
    partials ever hit disk and the final merge agg reads partials, not
    raw pairs).
    """
    out_dir = _scratch_dir("stream_drain_")
    ckpt = _scratch_dir("stream_ckpt_")

    def _write(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_fn is not None:
            batch_df = batch_fn(batch_df)
        batch_df.write.mode("append").parquet(out_dir)

    _run_to_end(
        sdf, confs,
        lambda w: w.foreachBatch(_write).option("checkpointLocation", ckpt),
    )
    return sdf.sparkSession.read.parquet(out_dir)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _stream_source(spark, sf_dir, "events")
    # ns-timestamp parquet arrives as LONG nanos (see _stream_source) and
    # needs integer `div` (not `/`: epoch-nanos exceed 2^53 double
    # precision); µs-timestamp parquet arrives as a native TIMESTAMP and
    # passes through — gate on the arrived type, same policy as the
    # batch-side sources.tables.load_table
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return stream


def stream_events_dedup_counts(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dedup + aggregate: one row per natural key
    (user_id, event_type, calendar day) — the reference's UNIQUE KEY
    semantics (SQL:20) — then count unique keys per event_type.
    """
    events = _events_stream(spark, sf_dir).withColumn("event_date", F.to_date("ts"))
    deduped = events.withWatermark("ts", watermark).dropDuplicates(
        ["user_id", "event_type", "event_date"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique_keys"))
    return _drain_to_table(agg)


def stream_windowed_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 day",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation over event time: rows and
    exact value cents per (window, event_type). The windowed-agg state
    store is the scale mechanism: state is dropped once the watermark
    passes a window's end, so unbounded streams run in bounded memory.

    ``slide`` turns the windows SLIDING: each event lands in
    window/slide overlapping windows (state cost multiplies by the
    overlap factor; eviction mechanics unchanged).
    """
    events = _events_stream(spark, sf_dir)
    w_col = (
        F.window("ts", window, slide) if slide is not None else F.window("ts", window)
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(w_col.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_c_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "value_c_sum",
        )
    )
    return _drain_to_table(agg)


def stream_upsert_foreachbatch(
    spark: SparkSession,
    sf_dir: str,
    target_dir: str,
    key=("user_id", "event_type", "event_date"),
) -> DataFrame:
    """The faithful streaming upsert (SURVEY §2.9): every micro-batch is
    MERGEd into the target table via ``foreachBatch`` — true
    update-in-place semantics per natural key, unlike dropDuplicates
    (which can only suppress, never update).

    Each batch commits through ``txn.merge_upsert`` on a table
    partitioned by ``event_date``: keep-newest per key (``ts``, then
    ``event_id``), rewriting only the days the batch touches, published
    by one atomic commit. A replayed batch re-applies the same rows and
    leaves the same table, so the sink is idempotent. The query is
    stateless, so it needs no watermark. Returns the final target
    table's snapshot.
    """
    events = _events_stream(spark, sf_dir).withColumn(
        "event_date", F.to_date("ts")
    )

    # each batch merges on the stream's own session, so under the
    # drain's scoped confs, not the caller's
    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        txn.merge_upsert(
            batch_df.sparkSession, target_dir, batch_df, key=list(key),
            recency_col="ts", tie_col="event_id", partition_col="event_date",
        )

    _run_to_end(
        events, JVM_STATE_CONFS,
        lambda w: w.foreachBatch(_merge).option(
            "checkpointLocation", target_dir + ".checkpoint"
        ),
    )
    return txn.read(spark, target_dir)


def stream_dedup_within_watermark(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """At-least-once → exactly-once repair with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` on the event id over a
    deliberately duplicated stream (the source unioned with itself —
    the shape a redelivering queue produces).

    Contrast with plain ``dropDuplicates``: that keeps every seen key
    in the state store FOREVER (unbounded growth on an id that never
    repeats after delivery settles); the WithinWatermark variant evicts
    a key once the watermark passes its event time + delay, which is
    the only viable semantics for a 100 TB/day firehose where ids are
    unique-per-record and duplicates only arrive within the
    redelivery horizon. Counts per type are then exact despite the
    doubled input.
    """
    dup = _events_stream(spark, sf_dir).unionAll(_events_stream(spark, sf_dir))
    deduped = dup.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_c_sum"),
    )
    return _drain_to_table(agg)


def stream_view_purchase_semi(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
    horizon_days: int = 2,
) -> DataFrame:
    """Stream-stream LEFT SEMI interval join: views that converted —
    i.e. were followed by a purchase from the same user within
    ``horizon_days``. Semi joins emit a buffered left row as soon as
    the first match arrives (and never duplicate it per match), so
    unlike the left-OUTER variant there is no dependence on a
    final watermark flush — which keeps the single-drain run
    deterministic and oracle-checkable (EXISTS in SQL).

    State bounds are the inner-join mechanics: the time-range
    condition gives every buffered view a TTL of
    horizon + watermark-delay; purchase rows are droppable once the
    view-side watermark passes them.
    """
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    converted = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_days} DAYS")
        ),
        "left_semi",
    )

    # row-level (un-aggregated) stream → foreachBatch partials, never the
    # memory sink (SCALE rule); partials merge to per-user counts
    def _partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(F.col("v_user").alias("user_id")).agg(
            F.count(F.lit(1)).alias("n_converted_views"),
            F.sum("view_id").alias("view_id_checksum"),
        )

    partials = _drain_via_foreachbatch(converted, batch_fn=_partial)
    return partials.groupBy("user_id").agg(
        F.sum("n_converted_views").cast("bigint").alias("n_converted_views"),
        F.sum("view_id_checksum").cast("bigint").alias("view_id_checksum"),
    )


def stream_incremental_rollup(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Streaming materialized-view upkeep: each micro-batch's rows are
    reduced to per-group PARTIALS (count/sum/min/max on exact cents)
    executor-side and folded into a stored state table with
    ``operators.incremental.merge_partials`` — the streaming twin of
    the batch rollup-maintenance operator, sharing its merge (and its
    proven merge == full-recompute associativity).

    Why this over a stateful streaming aggregate: the state lives in an
    ordinary PARQUET TABLE, not the streaming state store — queryable
    mid-stream by any reader, survives checkpoint deletion, and the
    upkeep cost per batch is |touched groups| partial rows. This is how
    a monthly-cadence pipeline keeps year-to-date rollups current
    without rescanning history (DAG cadence, SURVEY §3.1).

    Exactly-once state upkeep under foreachBatch's AT-LEAST-ONCE
    contract: ``merge_partials`` is not idempotent (a replayed batch
    would double-count sums), so the state is a ``sources.txn`` table
    whose manifests record the last applied batch id, and a retried
    batch id ≤ it is SKIPPED. Each fold publishes the new state with
    one manifest commit — a crash mid-fold leaves the previous version
    as the head and readers always resolve a complete state table,
    never a half-written one.
    """
    state = ParquetRollupState(
        spark,
        _scratch_dir("rollup_state_"),
        keys=("event_type", "month"),
        sums=("value_c",),
        mins=("value_c",),
        maxs=("value_c",),
    )
    events = _events_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    with_month = events.select(
        "event_type",
        F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"),
    )

    _run_to_end(
        with_month, JVM_STATE_CONFS,
        lambda w: w.foreachBatch(state.fold).option(
            "checkpointLocation", _scratch_dir("rollup_ckpt_")
        ),
    )
    return state.read()


class _TxnFoldState:
    """Parquet state table for foreachBatch upkeep, kept as a
    ``sources.txn`` table whose manifest chain is the batch-id ledger:
    each fold merges the micro-batch into the head's state and commits
    the result, with ``last_batch_id``, through txn's commit loop.

    - ``fold(batch_df, batch_id)`` SKIPS batch ids ≤ the last applied —
      foreachBatch is at-least-once and the merges are not idempotent
      (sums would double-count), so a replayed micro-batch must not be
      applied twice (``txn._commit_batch`` keeps that ledger).
    - A failure anywhere before the commit leaves the previous complete
      version as the head: readers never resolve a half-written state.

    Subclasses differ only in ``_merge(old, batch_df)`` (``old`` is None
    before the first commit).
    """

    def __init__(self, spark, root):
        self.spark = spark
        self.root = root

    def applied_batch(self) -> int:
        return txn._last_batch_id(txn._head(self.root)[1])

    def fold(self, batch_df: DataFrame, batch_id: int) -> None:
        # the old state is read on the batch's session, so the merge
        # plans under the drain's scoped confs
        def build(m):
            old = None if m is None else txn._scan(
                batch_df.sparkSession, self.root, m["files"]
            )
            return {"files": txn._write_files(self._merge(old, batch_df), self.root)}

        txn._commit_batch(self.root, "overwrite", batch_id, build)

    def read(self) -> DataFrame:
        return txn.read(self.spark, self.root)


class ParquetRollupState(_TxnFoldState):
    """Batch-id-ledgered rollup state for foreachBatch upkeep (the
    exactly-once mechanics of ``stream_incremental_rollup``, factored
    out so the retry/crash semantics are unit-testable): each batch is
    reduced to per-group partials and folded in with ``merge_partials``.
    """

    def __init__(self, spark, root, keys, sums=(), mins=(), maxs=()):
        super().__init__(spark, root)
        self.keys, self.sums, self.mins, self.maxs = keys, sums, mins, maxs

    def _merge(self, old, batch_df: DataFrame) -> DataFrame:
        from ..operators.incremental import merge_partials, partial_agg

        new = partial_agg(
            batch_df,
            keys=self.keys,
            sums=self.sums,
            mins=self.mins,
            maxs=self.maxs,
        )
        return new if old is None else merge_partials(old, new, keys=self.keys)


def stream_view_purchase_unmatched(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
    horizon_days: int = 2,
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, anti projection: views
    that did NOT convert to a purchase by the same user within
    ``horizon_days`` (the abandonment stream every funnel monitor
    needs). Spark has no stream-stream LEFT ANTI, so this is the outer
    join filtered to the null-extended rows.

    Unlike the semi variant, an unmatched view can only be emitted once
    the GLOBAL watermark (min of both sides' max-event-time minus the
    delay) has passed ``view_ts + horizon`` — before that, a matching
    purchase could still arrive. On a bounded drain the views inside
    the final horizon+delay window are therefore withheld by
    construction (they are still unresolved — correct, not lossy); the
    oracle applies the identical cutoff. State stays bounded the same
    way as the inner/semi forms: every buffered view expires at
    horizon + delay, purchases once the watermark passes them.
    """
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_days} DAYS")
        ),
        "left_outer",
    ).filter(F.col("p_user").isNull())

    def _partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(F.col("v_user").alias("user_id")).agg(
            F.count(F.lit(1)).alias("n_unmatched_views"),
            F.sum("view_id").alias("view_id_checksum"),
        )

    partials = _drain_via_foreachbatch(joined, batch_fn=_partial)
    return partials.groupBy("user_id").agg(
        F.sum("n_unmatched_views").cast("bigint").alias("n_unmatched_views"),
        F.sum("view_id_checksum").cast("bigint").alias("view_id_checksum"),
    )

def stream_stream_view_purchase_join(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
    horizon_days: int = 2,
) -> DataFrame:
    """Stream-stream interval join (§2.9 parity-plus): attribute every
    purchase to the view events it followed within ``horizon_days``,
    per user. Both sides are watermarked, so the join buffer is bounded:
    a buffered view row can be evicted once the purchase-side watermark
    passes view_ts + horizon + watermark — Spark derives that state TTL
    from the time-range condition; without the range bound the buffers
    would grow forever.

    A single-drain run (one file => one micro-batch) buffers no late
    rows, so the result equals the batch interval self-join — what
    makes this oracle-checkable.
    """
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_days} DAYS")
        ),
        "inner",
    )
    # Scale-safe drain (VERDICT r1 #1): per-batch PARTIAL aggregation
    # inside foreachBatch — executors reduce each micro-batch's pairs to
    # one row per user and append those partials to parquet; the final
    # merge agg sums partials. The raw pair set never exists on the
    # driver and never exists whole anywhere (only per-batch, per-task).
    def _partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(F.col("v_user").alias("user_id")).agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("view_id") + F.col("purchase_id")).alias("pair_checksum"),
        )

    partials = _drain_via_foreachbatch(joined, batch_fn=_partial)
    return partials.groupBy("user_id").agg(
        F.sum("n_pairs").alias("n_pairs"),
        F.sum("pair_checksum").alias("pair_checksum"),
    )


def stream_heavy_hitters(
    spark: SparkSession, sf_dir: str, d: int = 4, w: int = 2048
) -> DataFrame:
    """Count-min sketch maintained ACROSS micro-batches: the streaming
    twin of the batch CMS heavy-hitter query.

    The sketch's mergeability is exactly what incremental streaming
    state wants — each micro-batch contributes cell-count partials and
    the state table (a d×w grid, fixed size forever) absorbs them via
    the same batch-id-ledgered ``ParquetRollupState`` as the rollup
    stream (at-least-once replays skipped, one manifest commit per
    batch). The
    stream side is STATELESS map work: key → d (depth, bucket) probes;
    the fold's partial agg collapses each batch to ≤ d·w cells before
    the state merge. After a full drain the streamed sketch is
    CELL-IDENTICAL to the batch-built sketch (asserted in
    tests/test_streaming_semantics.py::test_stream_cms_equals_batch),
    so the heavy-hitter readout matches the batch query exactly.

    Round 12: the bucket hash is the PORTABLE salted-md5 recipe
    (operators/cms.py::cms_bucket, portable=True) instead of xxhash64,
    so the drained grid — and therefore the integer readout — is
    replayable by the DuckDB oracle as plain relational math; that
    retired this query's rows-only driver status. Cell sums are
    micro-batch-split invariant (integer addition), so the final
    sketch does not depend on how the drain split the rows.
    """
    from ..operators.cms import cms_bucket, cms_estimate

    state = ParquetRollupState(
        spark,
        _scratch_dir("cms_state_"),
        keys=("depth", "bucket"),
        sums=("wt",),
    )
    ev = _events_stream(spark, sf_dir)
    cells = (
        ev.select(
            F.concat_ws("|", "user_id", "event_type").alias("_k"),
        )
        .select(
            "_k",
            F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("depth"),
        )
        .withColumn(
            "bucket", cms_bucket(F.col("_k"), F.col("depth"), w, portable=True)
        )
        .withColumn("wt", F.lit(1).cast("bigint"))
    )
    _run_to_end(
        cells, JVM_STATE_CONFS,
        lambda w: w.foreachBatch(state.fold).option(
            "checkpointLocation", _scratch_dir("cms_ckpt_")
        ),
    )
    sketch = state.read().select(
        "depth", "bucket", F.col("sum_wt").alias("cnt")
    )

    # readout: sketch estimates for the true top-20 keys (exact counts
    # from the batch table — the sketch never sees them)
    from ..sources.tables import load_table

    ev_b = load_table(spark, sf_dir, "events").withColumn(
        "hh_key", F.concat_ws("|", "user_id", "event_type")
    )
    exact = ev_b.groupBy("hh_key").agg(F.count(F.lit(1)).alias("true_cnt"))
    from pyspark.sql import Window

    top = (
        exact.orderBy(F.desc("true_cnt"), F.asc("hh_key"))
        .limit(20)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("true_cnt"), F.asc("hh_key"))
            ),
        )
    )
    est = cms_estimate(sketch, top, "hh_key", d=d, w=w, portable=True)
    return top.join(est, top.hh_key == est.key).select(
        "hh_key",
        F.col("true_cnt").cast("bigint").alias("true_cnt"),
        F.col("est").cast("bigint").alias("cms_est"),
        F.col("rnk").cast("bigint").alias("rnk"),
    )


class ParquetSketchState(_TxnFoldState):
    """Batch-id-ledgered parquet state for MERGEABLE SKETCHES: same
    exactly-once mechanics as :class:`ParquetRollupState`, but the
    merge is ``hll_union_agg`` over binary sketch columns instead of
    integer sums. Because HLL union is register-wise max — associative,
    commutative, idempotent at the register level — the drained state is
    BIT-IDENTICAL to a single-pass batch sketch regardless of how rows
    were split into micro-batches.
    """

    def __init__(self, spark, root, keys, value_col, lgk: int = 12):
        super().__init__(spark, root)
        self.keys, self.value_col, self.lgk = keys, value_col, lgk

    def _merge(self, old, batch_df: DataFrame) -> DataFrame:
        new = batch_df.groupBy(*self.keys).agg(
            F.expr(f"hll_sketch_agg({self.value_col}, {self.lgk})").alias("sk")
        )
        if old is None:
            return new
        return (
            old.unionByName(new)
            .groupBy(*self.keys)
            .agg(F.expr("hll_union_agg(sk)").alias("sk"))
        )


def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user monitor: per-type PORTABLE HyperLogLog
    register tables maintained across micro-batches — the cardinality
    twin of the CMS heavy-hitter stream, completing the mergeable-sketch
    trio in streaming form.

    Stream side is STATELESS map work: user_id → (bucket = md5-hash %
    256, rho = 25 − bit_length(hash div 256)), the same engine-portable
    register recipe as the batch ``evt_hll_portable_rollup`` (plans/
    queries_r6.py). State is the (event_type, bucket) → max(rho) table
    folded through the batch-id-ledgered ``ParquetRollupState``
    max-merge — |types| × 256 integer rows forever, the fixed-memory
    property that lets a distinct-count monitor run unbounded. Register
    max is associative/commutative/idempotent, so the drained table is
    IDENTICAL to a one-pass batch register table no matter how the
    micro-batches split the rows (tests/test_streaming_semantics.py::
    test_stream_hll_equals_batch), and — round 12 — the whole readout
    is replayable by the DuckDB oracle as integer math, which retired
    the suite's last rows-only driver cell. Engine-native DataSketches
    binaries stay covered by ``ParquetSketchState`` (exercised directly
    in test_streaming_semantics.py::test_sketch_state_fold_binary).

    Readout per type: zero-register count, the EXACT harmonic
    denominator Σ 2^(25−reg) as a BIGINT (absent buckets contribute
    2^25), the raw alpha·m²·2^25 / sum estimate (numerator inlined as
    the same 17-digit literal both engines divide by), and the exact
    distinct count as audit baseline.
    """
    M, WBITS = 256, 25
    NUM = 1579498136381.3938  # 0.7213/(1+1.079/256) * 256^2 * 2^25
    state = ParquetRollupState(
        spark,
        _scratch_dir("hll_state_"),
        keys=("event_type", "bucket"),
        maxs=("reg",),
    )
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    w_col = F.floor(F.col("hv") / M).cast("bigint")
    regs = (
        _events_stream(spark, sf_dir)
        .select("event_type", hv.alias("hv"))
        .select(
            "event_type",
            (F.col("hv") % M).alias("bucket"),
            w_col.alias("w"),
        )
        .select(
            "event_type",
            "bucket",
            F.when(F.col("w") == 0, F.lit(WBITS))
            .otherwise(F.lit(WBITS) - F.length(F.bin("w")))
            .alias("reg"),
        )
    )
    _run_to_end(
        regs, JVM_STATE_CONFS,
        lambda w: w.foreachBatch(state.fold).option(
            "checkpointLocation", _scratch_dir("hll_ckpt_")
        ),
    )
    agg = (
        state.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 25 - max_reg)"))
            .cast("bigint")
            .alias("sum_present"),
        )
    )
    from ..sources.tables import load_table

    ex = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    )
    sum_scaled = F.col("sum_present") + (
        F.lit(M) - F.col("n_buckets")
    ) * F.lit(1 << WBITS)
    return agg.join(ex, "event_type").select(
        "event_type",
        (F.lit(M) - F.col("n_buckets")).cast("bigint").alias("zero_registers"),
        sum_scaled.cast("bigint").alias("sum_scaled"),
        F.round(F.lit(NUM) / sum_scaled, 6).alias("hll_estimate"),
        "exact_distinct",
    )


def stream_pydatasource_counts(
    spark: SparkSession, n_rows: int = 10000, batch_rows: int = 5000
) -> DataFrame:
    """Structured Streaming over the CUSTOM Python Data Source
    (sources/pysource.py): per-type counts/sums aggregated across the
    micro-batches the connector's offset range produces. The stream is
    bounded (the offset stops advancing at ``n_rows``), so
    ``processAllAvailable`` drains it deterministically and the result
    equals the batch aggregate over the same generated rows — which the
    DuckDB oracle re-derives from ``range()`` (``stream_pydatasource_
    counts`` in the registry).

    ``batch_rows`` (r13): 5000 → exactly TWO micro-batches at the 10k
    bound. The result is batch-split-invariant (same committed row
    set, same aggregate), but every micro-batch pays the connector's
    fixed planning/offset-commit cost — five 2048-row batches measured
    4.2 s vs 2.9 s at two batches (guide §1: don't pay fixed costs N
    times). Two batches keep the multi-batch offset protocol on the
    benched path; replay/recovery stays pinned by test_pysource.py."""
    from ..sources.pysource import register as register_pysource

    register_pysource(spark)
    sdf = (
        spark.readStream.format("synthetic_events")
        .option("batch_rows", str(batch_rows))
        .option("max_rows", str(n_rows))
        .load()
    )
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("value_c").cast("bigint").alias("value_sum_c"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )
    return _drain_to_table(agg, mode="complete")


def stream_pysink_roundtrip(
    spark: SparkSession, n_rows: int = 2000, batch_rows: int = 1000
) -> DataFrame:
    """Full round trip through BOTH halves of the Python Data Source
    connector: the synthetic stream reader feeds the jsonl stream SINK
    (sources/pysource.py::_JsonlStreamWriter — per-micro-batch
    two-phase commit with batch-id idempotence), then the COMMITTED
    dataset (only parts named by ``_BATCH_*`` manifests; orphans from
    failed attempts are invisible by construction) is read back and
    aggregated. The bounded source drains deterministically, so the
    committed rows equal the generator's exact row set and the DuckDB
    oracle re-derives them from ``range()`` — a dropped, duplicated or
    orphaned part breaks the id checksum.

    ``batch_rows`` (r13): 1000 → exactly TWO micro-batches at the 2k
    bound. The committed row set (and so the aggregate) is batch-split
    -invariant, but each micro-batch pays a full two-phase commit
    through the Python sink — four 512-row batches measured 4.5 s vs
    3.1 s at two. Two batches keep the per-batch ``_BATCH_<id>``
    manifest protocol multi-batch on the benched path; batch-id replay
    idempotence stays pinned by test_pysource_stream_sink.py."""
    from ..sources.pysource import committed_stream_rows
    from ..sources.pysource import register as register_pysource
    from ..sources.pysource import register_sink

    register_pysource(spark)
    register_sink(spark)
    base = tempfile.mkdtemp(prefix="pysink_rt_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    sdf = (
        spark.readStream.format("synthetic_events")
        .option("batch_rows", str(batch_rows))
        .option("max_rows", str(n_rows))
        .load()
    )
    _run_to_end(
        sdf, PYTHON_STATE_CONFS,
        lambda w: w.format("jsonl_sink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds"),
    )
    committed = committed_stream_rows(out)
    paths = [os.path.join(out, p) for p in committed["parts"]]
    if not paths:
        # surface the real failure (sink misconfiguration / early abort)
        # instead of spark.read.json's opaque empty-path error
        raise RuntimeError(
            f"no _BATCH_ manifests committed at {out}: the jsonl stream "
            "sink drained without completing a single two-phase commit"
        )
    back = spark.read.schema(
        "event_id long, event_type string, user_id long, value_c long"
    ).json(paths)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("value_c").cast("bigint").alias("value_sum_c"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )
