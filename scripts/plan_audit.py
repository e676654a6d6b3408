#!/usr/bin/env python
"""Executed-plan audit over the whole query registry: exchange / scan /
Python-seam / lambda-invariant counts per query, sorted worst-first.

This is the tool behind the round-4 de-duplication passes: a DataFrame
referenced N times re-derives its lineage N times (Spark has no
automatic CSE across references), so join-back shapes show up here as
inflated scan counts. Fix patterns, in preference order:

1. WINDOW-LIFT — an aggregate joined back on the grouping key becomes
   a window function over the same partitioning (series MAD, tf-idf
   len/df, unigram corpus counts, token-entropy doc length).
2. LITERAL DICTIONARY — a bounded small side becomes plan literals
   (IVF centroid assignment/probing).
3. SINGLE LABELED PASS — two filtered scans aggregated separately
   become one pass with a side label (PSI drift histograms).
4. PERSIST — only when the reused frame is genuinely a second lineage
   (PMI unigram marginals, CC edge sets).

Multi-table relational queries (TPC-H shapes) legitimately scan many
tables; set operations legitimately exchange per branch — read the
counts against what the query semantically needs, not as a score.

Usage: python scripts/plan_audit.py [sf_dir] [> report]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def static_reused_exchanges(spark, spark_fn, sf_dir: str) -> int:
    """Count ``ReusedExchange`` from a STATIC (AQE-off) build.

    Under AQE (the session default) exchange reuse happens at RUNTIME:
    the pre-execution plan string never contains ``ReusedExchange``, so
    counting it there reads 0 for every query no matter how much reuse
    actually happens (the round-9 verdict's all-zero column). With
    adaptive execution disabled, Catalyst's ``ReuseExchange`` rule runs
    at planning time and the marker is visible without executing the
    query — same reuse decisions, zero execution cost. Proven live by
    ``tests/test_plan_audit_counters.py`` against a plan with known
    reuse and a known-reuse-free plan."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            spark_fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    return plan.count("ReusedExchange")


#: Queries whose SCALE.md entries claim exchange REUSE. Static (AQE-off)
#: planning at test SF usually broadcasts the shared side instead, so
#: reuse there legitimately reads 0 — the claim is about RUNTIME reuse,
#: which only the executed AQE final plan shows. The audit executes
#: these few and records `runtime_reused_exchanges` so the claim is
#: measured in the artifact, not just in a pytest.
RUNTIME_REUSE_CLAIMS = (
    # SCALE.md: signature lineage materialized once, both LSH self-join
    # sides reuse one exchange. (doc_dup_ngram_fraction used to carry a
    # reuse claim, but the round-10 measurement showed it was already
    # window-lifted to a single lineage — SCALE.md wording fixed to
    # match; a single-lineage plan has nothing to reuse.)
    "doc_minhash_lsh_candidates",
    # r13 dropped the eager checkpoint on the minhash signature frame,
    # relying on the band self-join reusing its own exchange; if
    # ReuseExchange ever stops firing (Spark upgrade / AQE replanning
    # divergence) the md5-heavy signature pipeline silently runs twice —
    # keep the reuse measured in the artifact (r14, ADVICE item).
    "doc_lsh_tuning_curve",
)


def runtime_reused_exchanges(spark, spark_fn, sf_dir: str) -> int:
    """Execute the query and count ``ReusedExchange`` in the AQE FINAL
    plan (reuse is a runtime decision under adaptive execution)."""
    df = spark_fn(spark, sf_dir)
    df.collect()  # bounded outputs only (enforced by the claim list)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].count("ReusedExchange")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _invariant_in_body(e) -> tuple[bool, int]:
    """(whether ``e`` references a lambda variable, its count). A
    lambda-free non-leaf counts 1 — itself, the largest such
    subexpression once its parent does reference a variable; a node
    that references one sums its children."""
    kids = _seq(e.children())
    if not kids:
        return e.getClass().getSimpleName() == "NamedLambdaVariable", 0
    walked = [_invariant_in_body(k) for k in kids]
    if any(var for var, _ in walked):
        return True, sum(n for _, n in walked)
    return False, 1


def _lambda_invariants(e) -> int:
    if "lambdafunction(" not in e.toString():
        return 0
    if e.getClass().getSimpleName() == "LambdaFunction":
        return _invariant_in_body(e.function())[1]
    return sum(_lambda_invariants(k) for k in _seq(e.children()))


def lambda_invariant_exprs(df) -> int:
    """Count, in ``df``'s optimized logical plan, the largest non-leaf
    subexpressions inside a ``LambdaFunction`` body that reference no
    lambda variable. Catalyst does no common-subexpression elimination
    inside lambda bodies, so each one is re-evaluated for every array
    element although its value never changes — e.g. a tokeniser inside
    a per-shingle ``transform`` runs once per shingle. The fix is to
    project it into a column below. Lambdas below a checkpoint are
    not in the plan and do not count. Pinned by
    ``tests/test_plan_audit_counters.py``."""
    n, todo = 0, [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        n += sum(_lambda_invariants(e) for e in _seq(node.expressions()))
        todo.extend(_seq(node.children()))
    return n


def main() -> None:
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY
    from mql5_economic_news_data_pipeline_2025_gcp__spark.session import get_spark

    spark = get_spark("plan-audit")
    rows = []
    for name, spec in REGISTRY.items():
        # building a drain-backed frame runs the streaming drain; skip on
        # EITHER signal (name prefix or tag) so a future drain query
        # registered under a non-stream_ name still can't execute here.
        # Batch queries that are merely ABOUT streaming tuning stay audited
        # via the explicit allowlist.
        BATCH_DESPITE_TAG = {"evt_watermark_curve"}
        if (
            name.startswith("stream_") or "streaming" in spec.tags
        ) and name not in BATCH_DESPITE_TAG:
            continue
        try:
            df = spec.spark_fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows.append(
                {
                    "query": name,
                    "exchanges": plan.count("Exchange hashpartitioning"),
                    "scans": plan.count("Scan parquet"),
                    "arrow_seams": plan.count("ArrowEvalPython")
                    + plan.count("MapInPandas")
                    + plan.count("FlatMapGroupsInPandas"),
                    # static AQE-off count — the AQE pre-exec plan never
                    # shows ReusedExchange (see static_reused_exchanges)
                    "reused_exchanges": static_reused_exchanges(
                        spark, spec.spark_fn, SF_DIR
                    ),
                    "lambda_invariant_exprs": lambda_invariant_exprs(df),
                    **(
                        {
                            "runtime_reused_exchanges": (
                                runtime_reused_exchanges(
                                    spark, spec.spark_fn, SF_DIR
                                )
                            )
                        }
                        if name in RUNTIME_REUSE_CLAIMS
                        else {}
                    ),
                }
            )
        except Exception as exc:
            rows.append({"query": name, "error": f"{type(exc).__name__}: {exc}"})
    rows.sort(key=lambda r: -(r.get("exchanges", -1) + r.get("scans", -1)))
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "PLAN_AUDIT.json")
    with open(out, "w") as fh:
        json.dump(rows, fh, indent=1)
        fh.write("\n")
    for r in rows[:15]:
        print(r)
    print(f"wrote {out} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
