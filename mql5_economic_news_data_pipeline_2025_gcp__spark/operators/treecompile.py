"""Tree-model → Column-expression compilation (JVM-side serving).

The routed inference islands (`operators/inference.py`) show the
pandas_udf seam for models that genuinely need Python. This module is
the other serving strategy: a fitted tree ensemble is DATA, and a small
one compiles directly into nested ``CASE WHEN`` column expressions —
whole-stage-codegen'd, vectorized, zero Python workers, and the
expression is portable to ANY SQL engine (the oracle runs the identical
CASE tree). This is how production feature stores serve GBT scores
inside the warehouse; at 100 TB it turns scoring into a free map stage
fused with the scan.

Trees are plain dicts: leaf ``{"value": v}``, split
``{"feature": name, "threshold": t, "lte": subtree, "gt": subtree}``
(non-null left-closed splits: x <= t goes left; NULL follows ``gt``,
XGBoost's default-right convention). An ensemble sums tree outputs
scaled by ``learning_rate`` — exact float arithmetic with a fixed
evaluation order, so the differential gate holds bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def compile_tree(tree: dict) -> Column:
    """Recursively lower one tree dict into a Column expression."""
    if "value" in tree:
        return F.lit(float(tree["value"]))
    feat = F.col(tree["feature"])
    return F.when(
        feat.isNotNull() & (feat <= F.lit(float(tree["threshold"]))),
        compile_tree(tree["lte"]),
    ).otherwise(compile_tree(tree["gt"]))


def compile_ensemble(
    trees: list[dict],
    learning_rate: float = 1.0,
    base_score: float = 0.0,
) -> Column:
    """Sum of compiled trees × learning_rate + base — one expression."""
    out: Column = F.lit(float(base_score))
    for t in trees:
        out = out + F.lit(float(learning_rate)) * compile_tree(t)
    return out


def tree_to_sql(tree: dict) -> str:
    """The identical tree as ANSI CASE text (oracle/portability form)."""
    if "value" in tree:
        return repr(float(tree["value"]))
    f, t = tree["feature"], float(tree["threshold"])
    return (
        f"CASE WHEN {f} IS NOT NULL AND {f} <= {t!r} "
        f"THEN {tree_to_sql(tree['lte'])} "
        f"ELSE {tree_to_sql(tree['gt'])} END"
    )


def ensemble_to_sql(
    trees: list[dict],
    learning_rate: float = 1.0,
    base_score: float = 0.0,
) -> str:
    parts = [repr(float(base_score))] + [
        f"({learning_rate!r} * ({tree_to_sql(t)}))" for t in trees
    ]
    return " + ".join(parts)


#: Deterministic stub ensemble standing in for a fitted model (2 stumps
#: + 1 depth-2 tree over the engine's lag/impact features) — the same
#: fixture both the Spark query and the DuckDB oracle compile.
STUB_TREES = [
    {
        "feature": "lag1_c",
        "threshold": 5000.0,
        "lte": {"value": -25.0},
        "gt": {"value": 40.0},
    },
    {
        "feature": "impact_ord",
        "threshold": 1.0,
        "lte": {"value": -10.0},
        "gt": {
            "feature": "lag1_c",
            "threshold": 15000.0,
            "lte": {"value": 5.0},
            "gt": {"value": 30.0},
        },
    },
]

