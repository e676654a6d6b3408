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
import threading
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
        # scoped_session below and OPTIMIZATION_r13/r14.md.
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


#: parent SparkSession → {frozenset(confs): [child, conf fingerprint]}.
_SCOPED: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
_SCOPED_LOCK = threading.Lock()


def scoped_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """Child of ``spark`` (same SparkContext and catalog, OWN SQLConf)
    with ``confs`` on top of the parent's confs: the one way the engine
    scopes a setting to some queries. Toggling the shared session
    instead would leak the setting to every thread planning on it
    (``serving.serve``'s handlers) and go stale if a restore is skipped.

    - ``evt_fdr_bh`` and ``evt_permutation_test`` build on a child with
      ``spark.sql.codegen.maxFields`` at 256 (see :func:`get_spark`).
      Physical planning, where it is read, happens at the caller's
      action; the child's SQLConf travels with the lazy frame.
    - Stream drains start their query on a child
      (``streaming/ingest.py::_run_to_end``): Spark reads the state
      partition count and state-store provider once, at query start.

    The child is made once per (parent, ``confs``) by ``cloneSession()``
    and memoised with a weak key; each clone registers listener-bus
    listeners that are never removed. On every call it catches up with
    the parent:

    - ``spark.sql.*`` confs the parent has set or unset reach the child,
      ``confs`` still winning. A hash of both sides' confs gates the
      full diff, which costs ~100× more;
    - the child gets exactly the parent's streaming query listeners: a
      listener on the parent never hears a query started on a child.
    """
    key = frozenset(confs.items())
    with _SCOPED_LOCK:
        scopes = _SCOPED.setdefault(spark, {})
        entry = scopes.get(key)
        if entry is None:
            child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
            for k, v in confs.items():
                child.conf.set(k, v)
            entry = scopes[key] = [child, None]
        child = entry[0]
        if entry[1] != _conf_fingerprint(spark, child):
            want, have = {**_sql_confs(spark), **confs}, _sql_confs(child)
            for k in have.keys() - want.keys():
                child.conf.unset(k)
            for k, v in want.items():
                if have.get(k) != v:
                    child.conf.set(k, v)
            entry[1] = _conf_fingerprint(spark, child)
        theirs = list(spark._jsparkSession.streams().listListeners())
        streams = child._jsparkSession.streams()
        mine = list(streams.listListeners())
        for listener in mine:
            if listener not in theirs:
                streams.removeListener(listener)
        for listener in theirs:
            if listener not in mine:
                streams.addListener(listener)
        return child


def _conf_fingerprint(*sessions: SparkSession) -> tuple[int, ...]:
    return tuple(
        s._jsparkSession.sessionState().conf().getAllConfs().hashCode()
        for s in sessions
    )


def _sql_confs(spark: SparkSession) -> dict[str, str]:
    return {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.")}
