"""Round-6 continuation (batch d): nonparametric trend/randomness
tests, resampling inference, and operations-analytics recurrences.

Everything follows the determinism contract in ``registry``: integer
statistics throughout; every double is produced by an IDENTICAL
expression tree over identical integers on the Spark and DuckDB sides
(bit-equal IEEE-754).  The distinctive trick in this batch is the
Lindley waiting-time recurrence solved in closed form (prefix sums +
running min — the same window algebra as `evt_drawdown`), turning a
"needs a loop" stateful simulation into two windows.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .common import cents, keyed_events, t
from .registry import register


@register(
    "evt_mann_kendall",
    oracle=r"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS s_c
      FROM events WHERE value IS NOT NULL
      GROUP BY CAST(ts AS DATE)),
    e AS (
      SELECT day, s_c, count(*) OVER (PARTITION BY s_c) AS tt FROM d),
    agg AS (
      SELECT CAST(sum(CASE WHEN a.day < b.day AND b.s_c > a.s_c THEN 1
                           WHEN a.day < b.day AND b.s_c < a.s_c THEN -1
                           ELSE 0 END) AS BIGINT) AS s_stat,
             CAST(sum(CASE WHEN a.day = b.day THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_days,
             CAST(sum(CASE WHEN a.day = b.day
                           THEN (a.tt - 1) * (2 * a.tt + 5)
                           ELSE 0 END) AS BIGINT) AS tie_term
      FROM e a JOIN e b ON a.day <= b.day),
    v AS (
      SELECT n_days, s_stat,
             n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
               AS var_num
      FROM agg)
    SELECT n_days, s_stat, CAST(var_num AS BIGINT) AS var_num,
           CASE WHEN s_stat > 0
                  THEN (CAST(s_stat AS DOUBLE) - 1.0)
                       / sqrt(CAST(var_num AS DOUBLE) / 18.0)
                WHEN s_stat < 0
                  THEN (CAST(s_stat AS DOUBLE) + 1.0)
                       / sqrt(CAST(var_num AS DOUBLE) / 18.0)
                ELSE 0.0 END AS z
    FROM v
    """,
    description="Mann-Kendall trend test on the daily value series: "
    "exact integer S statistic (pairwise sign sum), tie-corrected "
    "variance numerator, continuity-corrected z — the nonparametric "
    "complement to evt_theilsen_trend's slope",
    tags=("events", "statistics", "timeseries"),
)
def evt_mann_kendall(spark, sf_dir):
    """Nonparametric monotone-trend test (Mann-Kendall).

    S = Σ_{i<j} sign(x_j − x_i) over the DAILY series — the pairwise
    comparison runs on the day-grain frame, whose size is bounded by
    the CALENDAR, not the fact count (30 days here; ~3.7k for a
    decade), so the O(|days|²) pair join is a constant-ish ~7M pairs
    at worst while the fact table is touched exactly once by the
    day-grain aggregation.  Variance carries the standard tie
    correction Σ t(t−1)(2t+5); z applies the ±1 continuity correction.
    Pairs with `evt_theilsen_trend` (median slope) the way the
    textbook recommends: MK decides IF there is a trend, Theil-Sen
    says HOW steep.

    Determinism: S, n, and the variance numerator are exact integers;
    z is one identical expression tree over them (both engines run the
    same IEEE-754 divide/sqrt on the same integers).

    Plan shape: the first version referenced the day frame four times
    (pair sides + count + tie groups), re-deriving the fact-table
    aggregation each time — 4 parquet scans in the audit.  This form
    computes ALL THREE statistics from ONE diagonal-inclusive self-join
    of a single enriched frame (tt tie-size window; a.day = b.day rows
    recover n and Σ t(t−1)(2t+5), strict rows recover S): measured
    4 scans / 5 exchanges → 2 scans / 3 exchanges, one aggregation.
    """
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum("value_c").alias("s_c")
    )
    e = d.withColumn(
        "tt", F.count(F.lit(1)).over(Window.partitionBy("s_c"))
    )
    a, b = e.alias("a"), e.alias("b")
    diag = F.col("a.day") == F.col("b.day")
    strict = F.col("a.day") < F.col("b.day")
    agg = a.join(b, F.col("a.day") <= F.col("b.day")).agg(
        F.sum(
            F.when(strict & (F.col("b.s_c") > F.col("a.s_c")), 1)
            .when(strict & (F.col("b.s_c") < F.col("a.s_c")), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat"),
        F.sum(F.when(diag, 1).otherwise(0)).cast("bigint").alias("n_days"),
        F.sum(
            F.when(
                diag, (F.col("a.tt") - 1) * (2 * F.col("a.tt") + 5)
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tie_term"),
    )
    v = agg.select(
        "n_days",
        "s_stat",
        (
            F.col("n_days")
            * (F.col("n_days") - 1)
            * (2 * F.col("n_days") + 5)
            - F.col("tie_term")
        )
        .cast("bigint")
        .alias("var_num"),
    )
    denom = F.sqrt(F.col("var_num").cast("double") / F.lit(18.0))
    return v.select(
        "n_days",
        "s_stat",
        "var_num",
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat").cast("double") - F.lit(1.0)) / denom,
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat").cast("double") + F.lit(1.0)) / denom,
        )
        .otherwise(F.lit(0.0))
        .alias("z"),
    )


@register(
    "evt_runs_test",
    oracle=r"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS s_c
      FROM events WHERE value IS NOT NULL
      GROUP BY CAST(ts AS DATE)),
    med AS (SELECT quantile_cont(CAST(s_c AS DOUBLE), 0.5) AS med FROM d),
    g AS (
      SELECT day, CASE WHEN CAST(s_c AS DOUBLE) > med THEN 1 ELSE -1 END
               AS sgn
      FROM d, med WHERE CAST(s_c AS DOUBLE) <> med),
    r AS (
      SELECT sgn, lag(sgn) OVER (ORDER BY day) AS prev FROM g),
    agg AS (
      SELECT CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above,
             CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_below,
             CAST(1 + sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
      FROM r)
    SELECT n_above, n_below, n_runs,
           1.0 + 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                 / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
             AS expected_runs,
           (CAST(n_runs AS DOUBLE)
             - (1.0 + 2.0 * CAST(n_above AS DOUBLE)
                      * CAST(n_below AS DOUBLE)
                      / (CAST(n_above AS DOUBLE)
                         + CAST(n_below AS DOUBLE))))
           / sqrt((2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                   * (2.0 * CAST(n_above AS DOUBLE)
                      * CAST(n_below AS DOUBLE)
                      - CAST(n_above AS DOUBLE) - CAST(n_below AS DOUBLE)))
                  / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                     * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                     * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)
                        - 1.0))) AS z
    FROM agg
    """,
    description="Wald-Wolfowitz runs test for randomness of the daily "
    "value series around its median: exact run/above/below counts, "
    "normal-approximation expected runs and z",
    tags=("events", "statistics", "timeseries"),
)
def evt_runs_test(spark, sf_dir):
    """Randomness check: are the daily totals serially independent?

    Days are labeled above/below the series median (exact-tie days
    dropped, the standard convention); the statistic is the number of
    RUNS of consecutive same-sign days.  Too few runs ⇒ positive
    autocorrelation (regimes), too many ⇒ oscillation — the companion
    diagnostic to `evt_autocorrelation` that needs no lag choice.

    Determinism: counts are exact integers; the median is
    ``quantile_cont`` on DOUBLES of exact integers (both engines
    interpolate (a+b)/2 on the same values bit-equally); expected runs
    and z are identical expression trees over the integer counts.

    Scale: one day-grain agg (calendar-bounded output) + one 1-row
    median + one lag window over the day frame.
    """
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum("value_c").alias("s_c")
    )
    med = d.agg(
        F.expr("percentile(CAST(s_c AS DOUBLE), 0.5)").alias("med")
    )
    g = (
        d.crossJoin(F.broadcast(med))
        .filter(F.col("s_c").cast("double") != F.col("med"))
        .select(
            "day",
            F.when(F.col("s_c").cast("double") > F.col("med"), 1)
            .otherwise(-1)
            .alias("sgn"),
        )
    )
    r = g.select(
        "sgn", F.lag("sgn").over(Window.orderBy("day")).alias("prev")
    )
    agg = r.agg(
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_above"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_below"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("sgn") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("n_runs"),
    )
    ad = F.col("n_above").cast("double")
    bd = F.col("n_below").cast("double")
    exp = F.lit(1.0) + F.lit(2.0) * ad * bd / (ad + bd)
    var = (
        F.lit(2.0) * ad * bd * (F.lit(2.0) * ad * bd - ad - bd)
    ) / ((ad + bd) * (ad + bd) * (ad + bd - F.lit(1.0)))
    return agg.select(
        "n_above",
        "n_below",
        "n_runs",
        exp.alias("expected_runs"),
        ((F.col("n_runs").cast("double") - exp) / F.sqrt(var)).alias("z"),
    )


#: permutation count (fixed: the scale axis is events, never K).
_N_PERMS = 64


@register(
    "evt_permutation_test",
    oracle=rf"""
    WITH base AS (
      SELECT md5(event_id::VARCHAR) AS h,
             CAST(round(value * 100) AS BIGINT) AS v_c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE value IS NOT NULL),
    obs AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v_c) AS BIGINT) AS s,
             CAST(sum(is_a) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN is_a = 1 THEN v_c ELSE 0 END) AS BIGINT)
               AS s_a
      FROM base),
    obs2 AS (
      SELECT n, s, n_a, s_a,
             abs(CAST(n AS HUGEINT) * CAST(s_a AS HUGEINT)
                 - CAST(n_a AS HUGEINT) * CAST(s AS HUGEINT)) AS t_obs
      FROM obs),
    perm AS (
      SELECT r.range AS k,
             CAST(sum(CASE WHEN
                 ((instr('0123456789abcdef',
                         substr(h, 1 + CAST(r.range // 4 AS INT), 1)) - 1)
                  >> CAST(r.range % 4 AS INT)) & 1 = 1
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_k,
             CAST(sum(CASE WHEN
                 ((instr('0123456789abcdef',
                         substr(h, 1 + CAST(r.range // 4 AS INT), 1)) - 1)
                  >> CAST(r.range % 4 AS INT)) & 1 = 1
                 THEN v_c ELSE 0 END) AS BIGINT) AS s_k
      FROM base, range({_N_PERMS}) r
      GROUP BY r.range),
    ge AS (
      SELECT CAST(sum(CASE WHEN
               abs(CAST(obs2.n AS HUGEINT) * CAST(perm.s_k AS HUGEINT)
                   - CAST(perm.n_k AS HUGEINT) * CAST(obs2.s AS HUGEINT))
               >= obs2.t_obs THEN 1 ELSE 0 END) AS BIGINT) AS ge_count
      FROM perm, obs2)
    SELECT obs2.n, obs2.n_a, obs2.s, obs2.s_a,
           CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(s - s_a AS DOUBLE) / CAST(n - n_a AS DOUBLE)
             AS mean_diff_c,
           ge.ge_count,
           CAST({_N_PERMS} AS BIGINT) AS n_perms,
           (1 + ge.ge_count) * 10000 // ({_N_PERMS} + 1) AS p_bp
    FROM obs2, ge
    """,
    description="permutation test for the purchase-vs-rest mean value "
    "difference: 64 deterministic label shuffles drawn from the 128 "
    "bits of ONE md5 per event, exact HUGEINT/decimal cross-product "
    "statistic |n*sA - nA*s|, integer p-value in basis points",
    tags=("events", "statistics"),
)
def evt_permutation_test(spark, sf_dir):
    """Resampling significance without any RNG state.

    Tests whether `purchase` events carry a different mean value than
    the rest.  Each event is hashed ONCE (``md5(event_id)``); the
    digest's 128 bits provide 64 independent unbiased coin flips, and
    permutation k relabels every event by bit k — so both engines
    materialize THE SAME 64 pseudo-permutations from one hash per
    event instead of 64.  The statistic is the exact cross-multiplied
    integer ``|n·sA − nA·s|`` (∝ |meanA − meanRest| with denominators
    cleared), computed in 38-digit decimals (HUGEINT on the oracle
    side) so it never overflows at any SF.  p-value uses the standard
    (1+#{T_k ≥ T_obs})/(K+1) estimator as exact integer basis points.

    Scale: ONE scan of the fact table feeding a single 132-cell
    aggregation (observed n/s/nA/sA plus 64 (n_k, s_k) pairs as
    conditional sums over the pre-extracted hex-digit values) — no row
    explosion, no per-permutation rehash; partial aggregation collapses
    each partition to one 132-cell row before the 1-row final merge.
    The first explode-by-64 version measured 4.5 s at sf1; this
    single-pass form runs 2.6 s there and scales FLAT (exp −0.06 —
    the remaining cost is the 132-expression codegen compile, not
    data), with 64× less hashing on the hot path.
    """
    # 132 aggregate cells > the default 100-field codegen limit: build
    # on the maxFields=256 CHILD session so this one stage compiles
    # (measured −36% r13) without the global raise's suite-wide codegen
    # cache churn (r13 negative result; see session.scoped_session)
    from ..session import scoped_session

    spark = scoped_session(spark, {"spark.sql.codegen.maxFields": "256"})
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    base = ev.select(
        F.md5(F.col("event_id").cast("string")).alias("h"),
        F.col("value_c").alias("v_c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_a"
        ),
    )
    # hex digit values d0..d15, extracted once per event
    b2 = base.select(
        "v_c",
        "is_a",
        *[
            F.expr(
                f"instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1"
            ).alias(f"d{i}")
            for i in range(16)
        ],
    )
    # Construct-cost note (r14, guide §1): the 132 aggregate cells and
    # the 64-struct explode array are assembled as SQL strings — the
    # Column-by-Column form cost ~1 s of py4j round trips per call
    # (same finding as evt_fdr_bh; expression shapes identical, oracle
    # bit-exact).
    aggs = [
        "CAST(count(1) AS BIGINT) AS n",
        "CAST(sum(v_c) AS BIGINT) AS s",
        "CAST(sum(is_a) AS BIGINT) AS n_a",
        "CAST(sum(CASE WHEN is_a = 1 THEN v_c ELSE 0 END) AS BIGINT)"
        " AS s_a",
    ]
    for k in range(_N_PERMS):
        bit = f"(shiftright(d{k // 4}, {k % 4}) & 1) = 1"
        aggs.append(
            f"CAST(sum(CASE WHEN {bit} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS nk{k}"
        )
        aggs.append(
            f"CAST(sum(CASE WHEN {bit} THEN v_c ELSE 0 END) AS BIGINT)"
            f" AS sk{k}"
        )
    row = b2.agg(F.expr(f"struct({', '.join(aggs)})").alias("_c")).select(
        "_c.*"
    )
    dec = "decimal(38,0)"
    obs = row.withColumn(
        "t_obs",
        F.expr(
            "abs(CAST(n AS DECIMAL(38,0)) * CAST(s_a AS DECIMAL(38,0))"
            " - CAST(n_a AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)))"
        ),
    )
    perm_structs = ", ".join(
        f"named_struct('n_k', nk{k}, 's_k', sk{k})" for k in range(_N_PERMS)
    )
    perm = obs.selectExpr(
        "n", "s", "n_a", "s_a", "t_obs",
        f"posexplode(array({perm_structs})) AS (k, p)",
    )
    ge = perm.agg(
        F.first("n").alias("n"),
        F.first("s").alias("s"),
        F.first("n_a").alias("n_a"),
        F.first("s_a").alias("s_a"),
        F.first("t_obs").alias("t_obs"),
        F.sum(
            F.when(
                F.abs(
                    F.col("n").cast(dec) * F.col("p.s_k").cast(dec)
                    - F.col("p.n_k").cast(dec) * F.col("s").cast(dec)
                )
                >= F.col("t_obs"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("ge_count"),
    )
    return ge.select(
        "n", "n_a", "s", "s_a",
        (
            F.col("s_a").cast("double") / F.col("n_a").cast("double")
            - (F.col("s") - F.col("s_a")).cast("double")
            / (F.col("n") - F.col("n_a")).cast("double")
        ).alias("mean_diff_c"),
        "ge_count",
        F.lit(_N_PERMS).cast("bigint").alias("n_perms"),
        F.expr(f"(1 + ge_count) * 10000 DIV ({_N_PERMS} + 1)").alias("p_bp"),
    )


@register(
    "rel_inventory_fill",
    oracle=r"""
    WITH li AS (
      SELECT l_partkey AS pk,
             CAST(round(l_quantity) AS BIGINT) AS qty,
             l_shipdate, l_orderkey, l_linenumber
      FROM lineitem),
    cap AS (
      SELECT p_partkey AS pk, CAST(p_size AS BIGINT) * 20 AS cap
      FROM part),
    c AS (
      SELECT li.pk, qty, cap,
             sum(qty) OVER (PARTITION BY li.pk
                            ORDER BY l_shipdate, l_orderkey, l_linenumber
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
      FROM li JOIN cap ON cap.pk = li.pk),
    f AS (
      SELECT pk,
             sum(qty) AS demand,
             sum(CASE WHEN cum <= cap THEN qty
                      WHEN cum - qty < cap THEN cap - (cum - qty)
                      ELSE 0 END) AS filled
      FROM c GROUP BY pk),
    pp AS (
      SELECT pk, demand, filled,
             (filled * 10000 // demand) // 1000 AS fill_decile
      FROM f)
    SELECT CAST(fill_decile AS BIGINT) AS fill_decile,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(demand) AS BIGINT) AS demand_units,
           CAST(sum(filled) AS BIGINT) AS filled_units
    FROM pp GROUP BY fill_decile
    """,
    description="inventory allocation: first-come-first-served fill of "
    "each part's lineitem demand (ship-date order) against a "
    "deterministic per-part capacity, with boundary partial fills — "
    "fill-rate decile histogram",
    tags=("relational", "window"),
)
def rel_inventory_fill(spark, sf_dir):
    """FCFS capacity allocation (the stock-out / backorder primitive).

    Each part has a capacity (``p_size × 20`` units — spanning
    under- and over-supplied parts); its lineitems consume capacity in
    ship-date order.  A lineitem is fully filled while the running
    total stays under capacity, PARTIALLY filled when it crosses the
    boundary (``cap − cum_before``), and backordered after.  The
    "allocate until exhausted" loop is exactly a partitioned
    cumulative sum + a three-way CASE — no iteration.

    Scale: the window partitions by partkey and the final per-part agg
    reuses that partitioning (one shuffle total for the fact table);
    the capacity join is partkey-equi (broadcast at small SF, shuffle
    co-partitioned with the window at large).  Output is the bounded
    decile histogram.
    """
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.round("l_quantity").cast("bigint").alias("qty"),
        "l_shipdate", "l_orderkey", "l_linenumber",
    )
    cap = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"),
        (F.col("p_size").cast("bigint") * 20).alias("cap"),
    )
    w = (
        Window.partitionBy("pk")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = li.join(cap, "pk").withColumn("cum", F.sum("qty").over(w))
    filled = (
        F.when(F.col("cum") <= F.col("cap"), F.col("qty"))
        .when(F.col("cum") - F.col("qty") < F.col("cap"),
              F.col("cap") - (F.col("cum") - F.col("qty")))
        .otherwise(0)
    )
    f = c.groupBy("pk").agg(
        F.sum("qty").alias("demand"),
        F.sum(filled).alias("filled"),
    )
    pp = f.select(
        "pk", "demand", "filled",
        F.expr("(filled * 10000 DIV demand) DIV 1000").alias("fill_decile"),
    )
    return pp.groupBy(
        F.col("fill_decile").cast("bigint").alias("fill_decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("demand").cast("bigint").alias("demand_units"),
        F.sum("filled").cast("bigint").alias("filled_units"),
    )


@register(
    "evt_queue_wait_lindley",
    oracle=r"""
    WITH j AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS t_us,
             (abs(CAST(round(value * 100) AS BIGINT)) % 600 + 1)
               * 1000000 AS svc_us
      FROM events WHERE value IS NOT NULL),
    x AS (
      SELECT user_id, event_id, t_us,
             coalesce(lag(svc_us) OVER w
                      - (t_us - lag(t_us) OVER w), 0) AS xi
      FROM j
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
    p AS (
      SELECT user_id, event_id, t_us,
             sum(xi) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS pi
      FROM x),
    wv AS (
      SELECT user_id,
             CASE WHEN prev_min IS NULL THEN 0
                  ELSE greatest(0, pi - prev_min) END AS w_us
      FROM (SELECT user_id, pi,
                   min(pi) OVER (PARTITION BY user_id
                                 ORDER BY t_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prev_min
            FROM p))
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_jobs,
           CAST(sum(w_us) AS BIGINT) AS total_wait_us,
           CAST(max(w_us) AS BIGINT) AS max_wait_us,
           CAST(sum(CASE WHEN w_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_delayed
    FROM wv GROUP BY user_id
    """,
    description="per-user queueing delay via the Lindley recurrence "
    "W_i = max(0, W_{i-1} + S_{i-1} - A_i) solved in closed form "
    "(prefix sums + running minimum - two windows, no loop): total/max "
    "wait and delayed-job count per user",
    tags=("events", "window", "timeseries"),
)
def evt_queue_wait_lindley(spark, sf_dir):
    """Single-server queueing delay per user — a loop-free Lindley.

    Each user's events are jobs arriving at their timestamps; service
    times derive deterministically from the value column (1-600 s).
    The waiting time follows the Lindley recurrence
    ``W_i = max(0, W_{i-1} + S_{i-1} - A_i)`` — ostensibly stateful,
    but it has the closed form ``W_i = max(0, P_i - min_{j<i} P_j)``
    where ``P`` is the prefix sum of ``X_i = S_{i-1} - A_i`` (the same
    prefix-sum/running-extremum algebra as `evt_drawdown`, applied to
    the reversed problem).  Two windows replace the per-row loop, so
    the operator parallelizes across users like `evt_sessionize`
    instead of needing applyInPandas state.

    Determinism: all arithmetic is integer microseconds.

    Scale: both windows and the final agg share the user_id
    partitioning — one shuffle of the fact table total.
    """
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    j = ev.select(
        "user_id", "event_id",
        F.unix_micros("ts").alias("t_us"),
        ((F.abs(F.col("value_c")) % 600 + 1) * 1000000).alias("svc_us"),
    )
    wo = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    x = j.select(
        "user_id", "event_id", "t_us",
        F.coalesce(
            F.lag("svc_us").over(wo)
            - (F.col("t_us") - F.lag("t_us").over(wo)),
            F.lit(0),
        ).alias("xi"),
    )
    p = x.select(
        "user_id", "event_id", "t_us",
        F.sum("xi")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("pi"),
    )
    prev_min = F.min("pi").over(
        wo.rowsBetween(Window.unboundedPreceding, -1)
    )
    wv = p.select(
        "user_id",
        F.when(prev_min.isNull(), F.lit(0))
        .otherwise(F.greatest(F.lit(0), F.col("pi") - prev_min))
        .alias("w_us"),
    )
    return wv.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_jobs"),
        F.sum("w_us").cast("bigint").alias("total_wait_us"),
        F.max("w_us").cast("bigint").alias("max_wait_us"),
        F.sum(F.when(F.col("w_us") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_delayed"),
    )
