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


def test_no_session_conf_toggle():
    """Package code never sets or unsets a conf on a session
    (``*.conf.set`` / ``*.conf.unset``): a session-wide toggle is
    visible to every other thread sharing the session (the serving
    layer's HTTP handlers included) and goes stale if a restore is
    skipped. A setting that belongs to some queries goes through
    ``session.scoped_session``; a write setting is a writer option
    (``.option("partitionOverwriteMode", "dynamic")``).

    Allowed: ``session.py`` (the session factory and the scoped children
    it owns), ``registry.prepare_session`` and ``tables.load_table``'s
    two idempotent pins."""
    import ast
    import pathlib

    import mql5_economic_news_data_pipeline_2025_gcp__spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    allowed_fns = {
        "plans/registry.py": "prepare_session",
        "sources/tables.py": "load_table",
    }
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "session.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        spans = [
            (f.lineno, f.end_lineno)
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == allowed_fns.get(rel)
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
                and not any(a <= node.lineno <= b for a, b in spans)
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders
