"""Round-6 continuation (batch s): multiple-testing control with
exact integer p-values.

Benjamini-Hochberg needs p-values; engine-portable EXACT p-values come
from permutation nulls.  The trick here extends `evt_permutation_test`
to k-GROUP hypotheses: ten disjoint 3-hex-digit windows of ONE md5 per
event each yield an unbiased value in [0, 4096), and ``v mod 5`` plus
its 5 rotations give 50 pseudo-labelings into five SIZE-MATCHED groups
— the correct null for "does type t differ from the rest" when the
real types are ~uniform.  p-values are integer counts over 51, and the
BH step-up rule ``p_(i) ≤ i·α/m`` becomes the integer inequality
``20·(1+c_(i)) ≤ 51·i`` at α = 1/20, m = 5 — no float thresholds, so
both engines reject the identical set.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .common import keyed_events
from .registry import register

_TYPES = ["click", "error", "purchase", "signup", "view"]

#: 10 disjoint 3-hex-digit windows × 5 rotations = 50 pseudo-labelings.
_WINDOWS = list(range(10))
_ROTS = list(range(5))

_OBS_CELLS_SQL = ",\n             ".join(
    f"CAST(count(*) FILTER (event_type = '{et}') AS BIGINT) AS n_{g},\n"
    f"             CAST(coalesce(sum(v_c) FILTER (event_type = '{et}'), 0)"
    f" AS BIGINT) AS s_{g}"
    for g, et in enumerate(_TYPES)
)

_NULL_CELLS_SQL = ",\n             ".join(
    f"CAST(count(*) FILTER (g{w} = {r}) AS BIGINT) AS pn_{w}_{r},\n"
    f"             CAST(coalesce(sum(v_c) FILTER (g{w} = {r}), 0)"
    f" AS BIGINT) AS ps_{w}_{r}"
    for w in _WINDOWS
    for r in _ROTS
)

_G_COLS_SQL = ",\n             ".join(
    f"(instr('0123456789abcdef', substr(h, {3 * w + 1}, 1)) - 1) * 256"
    f" + (instr('0123456789abcdef', substr(h, {3 * w + 2}, 1)) - 1) * 16"
    f" + (instr('0123456789abcdef', substr(h, {3 * w + 3}, 1)) - 1)"
    f" AS v{w}"
    for w in _WINDOWS
)

@register(
    "evt_fdr_bh",
    oracle=rf"""
    WITH base AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS v_c,
             md5(event_id::VARCHAR) AS h
      FROM events WHERE value IS NOT NULL),
    withg AS (
      SELECT event_type, v_c,
             {_G_COLS_SQL}
      FROM base),
    modg AS (
      SELECT event_type, v_c,
             {", ".join(f"v{w} % 5 AS g{w}" for w in _WINDOWS)}
      FROM withg),
    cells AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v_c) AS BIGINT) AS s,
             {_OBS_CELLS_SQL},
             {_NULL_CELLS_SQL}
      FROM modg),
    hyp AS (
      {" UNION ALL ".join(
        f'''SELECT {g} AS gi, '{_TYPES[g]}' AS event_type,
             n_{g} AS n_g, s_{g} AS s_g,
             abs(CAST(n AS HUGEINT) * s_{g}
                 - CAST(n_{g} AS HUGEINT) * s) AS t_obs,
             CAST({" + ".join(
               f"CASE WHEN abs(CAST(n AS HUGEINT) * ps_{w}_{r}"
               f" - CAST(pn_{w}_{r} AS HUGEINT) * s) >= "
               f"abs(CAST(n AS HUGEINT) * s_{g}"
               f" - CAST(n_{g} AS HUGEINT) * s)"
               f" THEN 1 ELSE 0 END"
               for w in _WINDOWS for r in _ROTS)} AS BIGINT) AS ge_count
      FROM cells'''
        for g in range(5))}),
    ranked AS (
      SELECT event_type, n_g, s_g, ge_count,
             row_number() OVER (ORDER BY ge_count, event_type) AS rk
      FROM hyp),
    kstar AS (
      SELECT coalesce(max(CASE WHEN 20 * (1 + ge_count) <= 51 * rk
                                THEN rk END), 0) AS k
      FROM ranked)
    SELECT event_type, n_g, s_g, ge_count,
           CAST(rk AS BIGINT) AS p_rank,
           (1 + ge_count) * 10000 // 51 AS p_bp,
           CAST(CASE WHEN rk <= (SELECT k FROM kstar)
                     THEN 1 ELSE 0 END AS BIGINT) AS rejected
    FROM ranked
    """,
    description="Benjamini-Hochberg FDR over five per-type permutation "
    "hypotheses: 50 size-matched pseudo-labelings from md5 digit "
    "windows (v mod 5 + rotations), integer p-values in 51sts, and "
    "the step-up rule as the exact inequality 20(1+c) <= 51*rank - "
    "both engines reject the identical set",
    tags=("events", "statistics"),
)
def evt_fdr_bh(spark, sf_dir):
    """Which event types' mean values REALLY differ from the rest,
    controlling the false-discovery rate across the five tests.

    Each hypothesis gets an exact permutation p-value: the null
    re-labels every event into five SIZE-MATCHED pseudo-groups using
    ``(3-hex-digit window of md5(event_id)) mod 5`` — ten disjoint
    windows × five rotations = 50 labelings materialized identically
    by both engines from ONE digest per event (the k-group extension
    of `evt_permutation_test`'s bit trick; half-splits would have the
    wrong null variance for a 1/5-sized group).  The statistic is the
    exact cross-product ``|n·s_g − n_g·s|``; p = (1+#{T_null ≥
    T_obs})/51 in integer 51sts; BH's ``p_(i) ≤ i·α/m`` at α=1/20,
    m=5 is the integer inequality ``20(1+c_(i)) ≤ 51·i``.  Nothing is
    ever a float, so the REJECTION SET — the thing that matters — is
    bit-identical.

    Scale: ONE fact pass into a single 112-cell conditional-sum
    aggregation (observed 5×2 + null 50×2 + totals); everything after
    is 5-row algebra.

    Compile cost (round-6 verdict task #3): the first cut spelled each
    hex window as three chained ``instr``/``substring`` trees and each
    hypothesis's ge_count as 50 inlined cross-product comparisons —
    ~7.6 s of pure Catalyst/codegen per cold run.  This version derives
    each window with ONE ``conv(substring(h,...),16,10)`` and computes
    the 50 null statistics ONCE into an array column (they do not
    depend on the hypothesis — only the observed threshold does), so
    ge_count is a single ``filter``+``size`` HOF per hypothesis.  The
    oracle SQL is left in its expanded form (DuckDB's planner does not
    carry the same codegen cost); outputs are bit-identical.
    """
    # 112 aggregate cells > the default 100-field codegen limit: build
    # on the maxFields=256 CHILD session so this one stage compiles
    # (measured −25% r13) without the global raise's suite-wide codegen
    # cache churn (r13 negative result; see session.scoped_session)
    from ..session import scoped_session

    spark = scoped_session(spark, {"spark.sql.codegen.maxFields": "256"})
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    h = F.md5(F.col("event_id").cast("string"))
    base = ev.select("event_type", F.col("value_c").alias("v_c"), h.alias("h"))
    # Construct-cost note (r14, guide §1): building the 112 aggregate
    # cells plus the 50-element null array as pyspark Column objects
    # cost ~1.2 s of pure py4j round trips PER CALL (profiled ~800 JVM
    # calls; Catalyst analysis of the finished tree is only ~0.1 s).
    # The same expressions are therefore assembled as SQL strings — one
    # parse each — with shapes identical to the old Column-by-Column
    # form; the optimizer collapses the struct wrapper, so the executed
    # plan and every output bit are unchanged (oracle-diffchecked).
    modg = base.selectExpr(
        "event_type",
        "v_c",
        *[
            f"(CAST(conv(substring(h, {3 * w + 1}, 3), 16, 10) AS INT)"
            f" % 5) AS g{w}"
            for w in _WINDOWS
        ],
    )
    cells = [
        "CAST(count(1) AS BIGINT) AS n",
        "CAST(sum(v_c) AS BIGINT) AS s",
    ]
    for g, et in enumerate(_TYPES):
        is_g = f"event_type = '{et}'"
        cells.append(
            f"CAST(sum(CASE WHEN {is_g} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_{g}"
        )
        cells.append(
            f"CAST(sum(CASE WHEN {is_g} THEN v_c ELSE 0 END) AS BIGINT)"
            f" AS s_{g}"
        )
    for w in _WINDOWS:
        for r in _ROTS:
            is_r = f"g{w} = {r}"
            cells.append(
                f"CAST(sum(CASE WHEN {is_r} THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS pn_{w}_{r}"
            )
            cells.append(
                f"CAST(sum(CASE WHEN {is_r} THEN v_c ELSE 0 END)"
                f" AS BIGINT) AS ps_{w}_{r}"
            )
    c = modg.agg(F.expr(f"struct({', '.join(cells)})").alias("_c")).select(
        "_c.*"
    )

    def t_stat(nc: str, sc: str) -> str:
        return (
            f"abs(CAST(n AS DECIMAL(38,0)) * CAST({sc} AS DECIMAL(38,0))"
            f" - CAST({nc} AS DECIMAL(38,0)) * s)"
        )

    # The 50 null statistics |n·ps − pn·s| are hypothesis-independent:
    # compute them ONCE into an array, then each hypothesis counts the
    # elements ≥ its observed threshold with one filter+size HOF.
    tnull_sql = "array(" + ", ".join(
        t_stat(f"pn_{w}_{r}", f"ps_{w}_{r}")
        for w in _WINDOWS
        for r in _ROTS
    ) + ")"
    hyp_structs_sql = ", ".join(
        f"named_struct('event_type', '{et}', 'n_g', n_{g},"
        f" 's_g', s_{g}, 't_obs', {t_stat(f'n_{g}', f's_{g}')})"
        for g, et in enumerate(_TYPES)
    )
    # inline (not explode + x.field): t_obs arrives as a column, so the
    # filter lambda does not re-read the struct field per element
    hyp = c.selectExpr(
        f"{tnull_sql} AS tnull",
        f"inline(array({hyp_structs_sql}))",
    ).selectExpr(
        "event_type",
        "n_g",
        "s_g",
        "CAST(size(filter(tnull, t -> t >= t_obs)) AS BIGINT) AS ge_count",
    )
    ranked = hyp.withColumn(
        "rk",
        F.row_number().over(Window.orderBy("ge_count", "event_type")),
    )
    kstar = F.coalesce(
        F.max(
            F.when(
                20 * (1 + F.col("ge_count")) <= 51 * F.col("rk"),
                F.col("rk"),
            )
        ).over(Window.partitionBy()),
        F.lit(0),
    )
    return ranked.withColumn("k", kstar).select(
        "event_type", "n_g", "s_g", "ge_count",
        F.col("rk").cast("bigint").alias("p_rank"),
        F.expr("(1 + ge_count) * 10000 DIV 51").alias("p_bp"),
        F.when(F.col("rk") <= F.col("k"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("rejected"),
    )
