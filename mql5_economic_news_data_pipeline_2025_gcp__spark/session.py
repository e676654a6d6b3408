"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]`` in one JVM; the config choices below are
the ones that transfer to a multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting) — (Currency,Event)-style
  group keys in real calendars are heavily skewed (a few currencies
  dominate), and AQE's skew-join handling is the first line of defense.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  AQE's coalescing makes the initial number far less sensitive.
- Session timezone pinned to UTC so timestamp semantics are stable and
  comparable against the DuckDB oracle (naive-UTC timestamps).
- Arrow enabled for every pandas boundary (pandas_udf / applyInPandas /
  toPandas) — the only sanctioned Python data path.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "mql5_econ_news_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    # must run BEFORE the JVM launches: exports PYTHONPATH (and the
    # protobuf version-check escape hatch) to JVM-spawned Python
    # workers — the transformWithState state server needs it
    from .compat import ensure_protobuf

    ensure_protobuf()
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Spark has no TIMESTAMP(NANOS) parquet type; read as long and let
        # the loader convert ns → µs (same truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # spark.sql.codegen.maxFields deliberately stays at its default
        # (100) — r13 NEGATIVE RESULT: raising it to 256 put the wide
        # single-pass statistic aggregates (evt_fdr_bh's 112 cells,
        # evt_permutation_test's 128) inside whole-stage codegen and won
        # -25%/-36% on those two in isolation, but at suite scale the
        # extra/bigger generated classes churned the 100-entry codegen
        # cache and janino compile time regressed loop-heavy queries
        # 3-6x (textrank 3.5 -> 10+ s, dupgraph_bfs 1.8 -> 11 s in the
        # full 517-query bench; isolated A/B confirmed maxFields as the
        # cause). Interpreted eval for the two wide aggregates is the
        # cheaper GLOBAL trade; r14 recovers their codegen win with a
        # per-query-scoped child session instead — see
        # wide_codegen_session below and OPTIMIZATION_r13/r14.md.
        # answer unfiltered MIN/MAX/COUNT from parquet footer statistics
        # (high-water-mark scalar, catalog count probes) — a stats-only
        # scan instead of a data scan; Catalyst falls back automatically
        # when a query shape doesn't qualify
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # runtime row-level bloom filters: when a selective dimension
        # filter feeds a shuffle join, inject might_contain() on the
        # fact side so non-joining rows drop at the SCAN, not at the
        # join. Size thresholds (creation ≤ bloomFilter.creationSideThreshold,
        # application ≥ 10 GB scan) mean it only fires at real scale —
        # test SF proves the mechanism via lowered thresholds
        # (test_bloom_filter_runtime_injection), production gets it free
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: parent SparkSession → child session with wide-aggregate codegen.
_WIDE_CODEGEN_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, SparkSession]" = (
    weakref.WeakKeyDictionary()
)


def wide_codegen_session(spark: SparkSession) -> SparkSession:
    """Child session (same SparkContext/shared state, OWN SQLConf) with
    ``spark.sql.codegen.maxFields`` raised to 256 — the PER-QUERY scoping
    of the r13 negative result (r14, VERDICT task 1).

    The two single-pass statistic aggregates wider than the default
    100-field whole-stage-codegen limit (``evt_fdr_bh``: 112 cells,
    ``evt_permutation_test``: 132) drop their entire stage — scan,
    filter, md5 projection, aggregate — to interpreted row-at-a-time
    eval under the default. Raising the limit GLOBALLY was measured in
    r13 to regress loop-heavy queries 3–6× (more/bigger generated
    classes churn the 100-entry codegen class cache + janino recompile
    per iteration; see the comment in :func:`get_spark`). A CHILD
    session confines the raised limit to exactly the DataFrames built
    on it: everything else plans under the default, so the suite-wide
    blast radius is structurally gone — the two wide queries add two
    stable generated classes that cache-hit across bench iterations.

    Why a child session and not ``spark.conf.set`` + restore inside the
    query fn: the query fns return LAZY frames and physical planning
    (where maxFields is read) happens at the caller's action — after a
    ``finally`` restore would have already undone the setting. The
    child's SQLConf travels WITH the returned DataFrame.

    On EVERY call the child re-syncs every explicitly-set ``spark.sql.*``
    conf from the parent (and drops any the parent has since unset), so
    semantics-bearing session state — time zone, legacy parquet flags,
    test-lowered thresholds — matches the parent as of this call, not
    as of first use. The child itself is memoized per parent session
    (weak keys — a stopped parent frees the entry).
    """
    child = _WIDE_CODEGEN_SESSIONS.get(spark)
    if child is None:
        child = _WIDE_CODEGEN_SESSIONS[spark] = spark.newSession()
    parent, mine = _sql_confs(spark), _sql_confs(child)
    for k in mine.keys() - parent.keys():
        child.conf.unset(k)
    for k, v in parent.items():
        if mine.get(k) != v:
            child.conf.set(k, v)
    child.conf.set("spark.sql.codegen.maxFields", "256")
    return child


def _sql_confs(spark: SparkSession) -> dict[str, str]:
    return {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.")}
