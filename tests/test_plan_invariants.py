"""Engine-wide physical-plan invariants over the ENTIRE query registry.

Two bans that hold for every registered query, enforced structurally so
no future operator can regress them silently:

- ``CartesianProduct``: an unbroadcast cross join is quadratic shuffle
  I/O at scale. Intentional small-side cross joins must be
  ``crossJoin(F.broadcast(...))`` which compiles to
  BroadcastNestedLoopJoin instead.
- ``BatchEvalPython``: a row-at-a-time Python UDF in a plan means some
  expression silently fell off the JVM fast path. Python is allowed
  ONLY at Arrow seams (ArrowEvalPython / FlatMapGroupsInPandas /
  MapInPandas / FlatMapGroupsInPandasWithState).

Streaming queries are excluded: building their frame runs the drain
(they materialize eagerly), and their batch-side plans are covered by
the oracle gate + targeted streaming tests.
"""

from __future__ import annotations

import pytest

from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"

_BATCH = sorted(
    name for name, spec in REGISTRY.items() if "streaming" not in spec.tags
)


#: Queries EXEMPT from the row-wise-Python ban: each must be a
#: deliberate, documented slow-path surface demo whose description
#: names the set-oriented hot-path alternative.
_ROWWISE_EXEMPT = {
    # Python UDTF seam (§2.10 trio): docstring routes hot paths to the
    # explode→count→rank form (doc_tfidf_top_terms)
    "doc_top_terms_udtf",
}


@pytest.mark.parametrize("name", _BATCH)
def test_no_cartesian_no_rowwise_python(spark, name):
    df = REGISTRY[name].spark_fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product\n{plan}"
    if name not in _ROWWISE_EXEMPT:
        assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF\n{plan}"
        assert "PythonUDTF" not in plan, f"{name}: row-wise Python UDTF\n{plan}"


def test_pii_scrub_is_map_only(spark):
    """doc_pii_scrub's documented shape: count+redact is a projection —
    NO hash-partitioned exchange anywhere (the only exchange allowed is
    fan_out's round-robin spread of the single test file)."""
    plan = (
        REGISTRY["doc_pii_scrub"]
        .spark_fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan


def test_pack_sequences_single_shuffle(spark):
    """doc_pack_sequences' documented shape: ONE shuffle — the window
    partitioning on the source shard; no global-order exchange
    (Exchange SinglePartition / rangepartitioning would mean the plan
    serialized the corpus)."""
    plan = (
        REGISTRY["doc_pack_sequences"]
        .spark_fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_no_session_partition_overwrite_toggle():
    """Dynamic partition overwrite is a per-write option
    (``.option("partitionOverwriteMode", "dynamic")``), never a
    ``spark.conf.set`` on the session: a session-wide toggle is visible
    to every other thread sharing the session (the serving layer's
    HTTP handlers included) and goes stale if a restore is skipped."""
    import ast
    import pathlib

    import mql5_economic_news_data_pipeline_2025_gcp__spark as pkg

    offenders = []
    for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "set"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
            ):
                continue
            if any(
                isinstance(a, ast.Constant)
                and isinstance(a.value, str)
                and "partitionOverwriteMode" in a.value
                for a in ast.walk(node)
            ):
                offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, offenders
