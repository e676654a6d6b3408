"""Round-5 additions: the statistics and corpus-analysis operators the
existing families point at but don't yet cover — a two-proportion
z-test (completing the A/B readout trio: Welch for means, chi-square
for independence, this for conversion rates), value-concentration Gini,
time-series peak detection, interpolated Kneser–Ney bigram scoring
(the LM-quality filter a CCNet-style corpus pipeline runs), simplified
silhouette for cluster quality, and a MinHash-estimate accuracy audit
(sketch-vs-exact on the LSH candidate set).

All follow the determinism contract in ``registry``: exact integer
sufficient statistics wherever possible, micro-quantized integers
before any order-dependent float sum, identical division/log trees on
both engines, deterministic tie-breaks. None exist in the reference
(a pandas/MySQL pipeline, ``MAIN``/``PUSH``); all are Spark-first
extensions of its statistics/metrics surface (SURVEY §2.8/§2.10).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .common import fan_out, keyed_events, t
from .registry import register


@register(
    "evt_proportion_ztest",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS grp,
             max(CASE WHEN event_type = 'purchase' AND value > 90
                      THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id),
    s AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS x
      FROM u GROUP BY grp),
    w AS (
      SELECT max(CASE WHEN grp = 0 THEN n END) AS n1,
             max(CASE WHEN grp = 0 THEN x END) AS x1,
             max(CASE WHEN grp = 1 THEN n END) AS n2,
             max(CASE WHEN grp = 1 THEN x END) AS x2
      FROM s)
    SELECT n1, x1, n2, x2,
           round(CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2, 6)
             AS p_diff,
           round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                 / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (CAST(1 AS DOUBLE) / n1
                           + CAST(1 AS DOUBLE) / n2)),
                 6) AS z_stat
    FROM w
    """,
    description=(
        "two-proportion z-test on high-value-purchase conversion "
        "(value > 90) between user cohorts (user_id parity as the "
        "deterministic assignment): "
        "per-user conversion flags from one map-side-combined "
        "aggregate, cohort counts (n, x) as EXACT integers, then the "
        "pooled-variance z statistic as a single fixed float tree over "
        "four integers. Completes the experiment-readout trio (Welch "
        "t = means, chi-square = independence, z = rates). Shape: one "
        "shuffle on user_id, then a 2-row combine — at 100 TB the "
        "per-user collapse is the only corpus-sized stage and it "
        "partial-aggregates map-side"
    ),
    tags=("events", "statistics", "ab-test"),
)
def evt_proportion_ztest(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90), 1
            ).otherwise(0)
        ).alias("conv")
    )
    s = u.groupBy((F.col("user_id") % 2).alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("x"),
    )
    w = s.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 0, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == 1, F.col("x"))).alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    se = F.sqrt(
        pp
        * (F.lit(1) - pp)
        * (
            F.lit(1).cast("double") / F.col("n1")
            + F.lit(1).cast("double") / F.col("n2")
        )
    )
    return w.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.round(p1 - p2, 6).alias("p_diff"),
        F.round((p1 - p2) / se, 6).alias("z_stat"),
    )


@register(
    "evt_gini_value",
    oracle="""
    WITH pu AS (
      SELECT event_type, user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
      FROM events
      WHERE value IS NOT NULL AND value > 0
      GROUP BY event_type, user_id),
    r AS (
      SELECT event_type, s,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY s, user_id) AS rnk
      FROM pu),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS total_c,
             CAST(sum(rnk * s) AS BIGINT) AS rs
      FROM r GROUP BY event_type)
    SELECT event_type, n, total_c,
           round(2.0 * rs / (CAST(n AS DOUBLE) * total_c)
                 - (CAST(n AS DOUBLE) + 1) / n, 6) AS gini
    FROM g
    """,
    description=(
        "Gini coefficient of per-user value concentration per event "
        "type — the whale-spotting readout (how unequal is spend "
        "across users). Per-user totals are exact integer cents; the "
        "rank formula G = 2·Σ(rᵢxᵢ)/(n·Σx) − (n+1)/n keeps Σ(r·x) an "
        "EXACT integer (ties ranked deterministically by user_id), so "
        "the only float is the final fixed tree. Shape: one shuffle to "
        "(type,user), a per-type rank window over the collapsed frame "
        "(|users| rows, not |events|), then a per-type combine. The "
        "classic footgun — windowing the raw event log — never "
        "touches the corpus here"
    ),
    tags=("events", "statistics", "aggregate"),
)
def evt_gini_value(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    pu = ev.groupBy("event_type", "user_id").agg(
        F.sum("value_c").cast("bigint").alias("s")
    )
    w = Window.partitionBy("event_type").orderBy("s", "user_id")
    r = pu.withColumn("rnk", F.row_number().over(w))
    g = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("total_c"),
        F.sum(F.col("rnk") * F.col("s")).cast("bigint").alias("rs"),
    )
    nd = F.col("n").cast("double")
    return g.select(
        "event_type",
        "n",
        "total_c",
        F.round(
            F.lit(2.0) * F.col("rs") / (nd * F.col("total_c"))
            - (nd + 1) / F.col("n"),
            6,
        ).alias("gini"),
    )


@register(
    "evt_peak_detection",
    oracle="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    x AS (
      SELECT event_type, hr, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY hr) AS pn,
             lead(n) OVER (PARTITION BY event_type ORDER BY hr) AS nn
      FROM h)
    SELECT event_type, hr, n, pn AS prev_n, nn AS next_n
    FROM x
    WHERE pn IS NOT NULL AND nn IS NOT NULL AND n > pn AND n > nn
    """,
    description=(
        "local-maximum peak detection on the hourly volume series per "
        "event type: strict greater-than both neighbors (plateaus are "
        "not peaks — unambiguous in both engines, no prominence "
        "tie-break needed). Shape: the hourly aggregate collapses the "
        "corpus FIRST (map-side combined, |types|·|hours| rows), then "
        "lag/lead run on the tiny series — one corpus shuffle, one "
        "window over the collapsed frame. The anomaly-shaped cousin "
        "of evt_anomaly_zscore (global deviation) and evt_cusum_alarms "
        "(drift): this one finds spikes"
    ),
    tags=("events", "window", "timeseries"),
)
def evt_peak_detection(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("event_type").orderBy("hr")
    x = h.withColumn("pn", F.lag("n").over(w)).withColumn(
        "nn", F.lead("n").over(w)
    )
    return x.filter(
        F.col("pn").isNotNull()
        & F.col("nn").isNotNull()
        & (F.col("n") > F.col("pn"))
        & (F.col("n") > F.col("nn"))
    ).select(
        "event_type",
        "hr",
        "n",
        F.col("pn").alias("prev_n"),
        F.col("nn").alias("next_n"),
    )


@register(
    "doc_kn_bigram_lm",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                          ' ') AS tk
      FROM documents),
    bg AS (
      SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      FROM toks, unnest(range(1, len(tk))) AS u(i)
      WHERE len(tk) >= 2),
    dbg AS (
      SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
      FROM bg GROUP BY doc_id, w1, w2),
    c12 AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c
            FROM dbg GROUP BY w1, w2),
    cl AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cl,
                  CAST(count(*) AS BIGINT) AS n1l
           FROM c12 GROUP BY w1),
    cr AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1r
           FROM c12 GROUP BY w2),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM c12),
    scored AS (
      SELECT d.doc_id, d.k,
             CAST(round(ln(
               greatest(CAST(c.c AS DOUBLE) - 0.75, 0) / l.cl
               + (0.75 * l.n1l / l.cl) * (CAST(r.n1r AS DOUBLE) / t.bt)
             ) * 1000000) AS BIGINT) AS lp
      FROM dbg d
      JOIN c12 c ON d.w1 = c.w1 AND d.w2 = c.w2
      JOIN cl l ON d.w1 = l.w1
      JOIN cr r ON d.w2 = r.w2
      CROSS JOIN tt t)
    SELECT doc_id,
           CAST(sum(k) AS BIGINT) AS n_bigrams,
           CAST(sum(k * lp) AS BIGINT) AS lp_sum_micro,
           round((CAST(sum(k * lp) AS DOUBLE) / sum(k)) / 1000000.0, 6)
             AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    description=(
        "interpolated Kneser–Ney bigram LM scoring (D=0.75), the "
        "LM-quality filter of CCNet-style corpus pipelines, trained on "
        "the corpus itself: P(w2|w1) = max(c12−D,0)/c(w1·) + "
        "D·N1+(w1·)/c(w1·) · N1+(·w2)/|bigram types|. Per-bigram ln p "
        "quantizes to integer micro-nats BEFORE the per-doc sum "
        "(order-exact), and the doc sum runs over the (doc, bigram, k) "
        "AGGREGATE — k·lp equals k identical per-instance terms "
        "exactly, the doc_unigram_logprob treatment. Shape: bigrams "
        "via slice+zip (zero shuffle), one (w1,w2) count agg "
        "(zipf-bounded ≪ corpus), continuation counts as aggs OVER "
        "that aggregate, scalar type-count broadcast, one per-doc agg"
    ),
    tags=("documents", "text", "quality", "lm"),
)
def doc_kn_bigram_lm(spark, sf_dir):
    from ..operators.textops import tokens

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    d2 = docs.select("doc_id", tokens("text").alias("tk"))
    bg = d2.selectExpr(
        "doc_id",
        "explode(zip_with(slice(tk, 1, size(tk) - 1),"
        "                 slice(tk, 2, size(tk) - 1),"
        "                 (a, b) -> named_struct('w1', a, 'w2', b))) AS p",
    ).select("doc_id", "p.w1", "p.w2")
    dbg = (
        bg.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
        # dbg feeds the corpus-level c12 aggregate AND the final scored
        # join — unchecked, the token explode + bigram shuffle ran
        # twice (r14; plan_audit fix-pattern #4, genuine second lineage)
        .localCheckpoint()
    )
    c12 = dbg.groupBy("w1", "w2").agg(
        F.sum("k").cast("bigint").alias("c")
    )
    # continuation stats as windows over the (w1,w2) aggregate — no
    # extra lineage back to the token explode
    c12 = (
        c12.withColumn(
            "cl", F.sum("c").over(Window.partitionBy("w1")).cast("bigint")
        )
        .withColumn(
            "n1l",
            F.count(F.lit(1)).over(Window.partitionBy("w1")).cast("bigint"),
        )
        .withColumn(
            "n1r",
            F.count(F.lit(1)).over(Window.partitionBy("w2")).cast("bigint"),
        )
    )
    tt = c12.agg(F.count(F.lit(1)).cast("bigint").alias("bt"))
    lp = F.round(
        F.log(
            F.greatest(F.col("c").cast("double") - 0.75, F.lit(0))
            / F.col("cl")
            + (F.lit(0.75) * F.col("n1l") / F.col("cl"))
            * (F.col("n1r").cast("double") / F.col("bt"))
        )
        * 1000000
    ).cast("bigint")
    scored = (
        dbg.join(c12, ["w1", "w2"])
        .crossJoin(F.broadcast(tt))
        .select("doc_id", "k", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("k") * F.col("lp")).cast("bigint").alias("lp_sum_micro"),
        F.round(
            (
                F.sum(F.col("k") * F.col("lp")).cast("double")
                / F.sum("k")
            )
            / 1000000.0,
            6,
        ).alias("avg_logprob"),
    )


@register(
    "emb_silhouette",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e FROM v WHERE vec_id < 8),
    scored AS (
      SELECT v.vec_id, c.cid,
             round(list_cosine_similarity(v.e, c.e), 6) AS cs
      FROM v JOIN cent c ON v.vec_id >= 8),
    ranked AS (
      SELECT vec_id, cid, cs,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cs DESC, cid ASC) AS rnk
      FROM scored),
    pt AS (
      SELECT vec_id,
             max(CASE WHEN rnk = 1 THEN cid END) AS own,
             max(CASE WHEN rnk = 1 THEN cs END) AS cs1,
             max(CASE WHEN rnk = 2 THEN cs END) AS cs2
      FROM ranked WHERE rnk <= 2 GROUP BY vec_id),
    s AS (
      SELECT own,
             CAST(round(
               CASE WHEN 1 - cs2 = 0 THEN 0
                    ELSE (cs1 - cs2) / (1 - cs2) END * 1000000)
               AS BIGINT) AS s_micro
      FROM pt)
    SELECT own AS centroid_id,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(sum(s_micro) AS BIGINT) AS sum_s_micro,
           round((CAST(sum(s_micro) AS DOUBLE) / count(*)) / 1000000.0, 6)
             AS mean_silhouette
    FROM s GROUP BY own
    """,
    description=(
        "simplified (centroid-based) silhouette per cluster over the "
        "emb_kmeans_assign seed centroids (vec_id < 8): with cosine "
        "distance, a = 1−cs(own) and b = 1−cs(runner-up), so s = "
        "(cs1−cs2)/(1−cs2) — a ≤ b always, no per-point pairwise "
        "pass (the full silhouette is O(n²); the centroid form is the "
        "one that exists at 100 TB). Per-point s quantizes to integer "
        "micro-units before the cluster sum (order-exact); assignment "
        "ties break by centroid id exactly as the assign query. "
        "Shape: broadcast centroids → map-only scoring, one k-row agg"
    ),
    tags=("embeddings", "similarity", "evaluation"),
)
def emb_silhouette(spark, sf_dir):
    from ..operators.similarity import _as_double, cosine

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    v = emb.select("vec_id", _as_double(F.col("embedding")).alias("e"))
    cent = v.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    scored = (
        v.filter(F.col("vec_id") >= 8)
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cid",
            F.round(cosine(F.col("e"), F.col("ce")), 6).alias("cs"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cs").desc(), F.col("cid").asc()
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 2
    )
    pt = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rnk") == 1, F.col("cid"))).alias("own"),
        F.max(F.when(F.col("rnk") == 1, F.col("cs"))).alias("cs1"),
        F.max(F.when(F.col("rnk") == 2, F.col("cs"))).alias("cs2"),
    )
    s_micro = F.round(
        F.when(F.lit(1) - F.col("cs2") == 0, F.lit(0.0)).otherwise(
            (F.col("cs1") - F.col("cs2")) / (F.lit(1) - F.col("cs2"))
        )
        * 1000000
    ).cast("bigint")
    s = pt.select("own", s_micro.alias("s_micro"))
    return s.groupBy(F.col("own").alias("centroid_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
        F.sum("s_micro").cast("bigint").alias("sum_s_micro"),
        F.round(
            (F.sum("s_micro").cast("double") / F.count(F.lit(1)))
            / 1000000.0,
            6,
        ).alias("mean_silhouette"),
    )


# sketch-accuracy audit reuses the exact SQL fragments the dedup oracles
# are built from, so both engines hash/shingle identically
from .queries_ext import _SQL_MINHASH_AGGS, _SQL_SHINGLES  # noqa: E402


@register(
    "doc_minhash_estimate_error",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    hh AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h
      FROM sh),
    sig AS (
      SELECT doc_id, {_SQL_MINHASH_AGGS}
      FROM hh GROUP BY doc_id),
    banded AS (
      SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bkey FROM sig
      UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
      UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig
      UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    nm AS (
      SELECT p.id_a, p.id_b,
             CAST((CASE WHEN sa.mh0 = sb.mh0 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.mh4 = sb.mh4 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.mh5 = sb.mh5 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.mh6 = sb.mh6 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.mh7 = sb.mh7 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_match
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
              FROM sh GROUP BY doc_id),
    common AS (
      SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS c
      FROM pairs p
      JOIN sh a ON a.doc_id = p.id_a
      JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
      GROUP BY p.id_a, p.id_b)
    SELECT n.id_a, n.id_b, n.n_match,
           round(CAST(n.n_match AS DOUBLE) / 8, 6) AS jaccard_est,
           round(CAST(coalesce(c.c, 0) AS DOUBLE)
                 / (za.sz + zb.sz - coalesce(c.c, 0)), 6) AS jaccard,
           round(CAST(n.n_match AS DOUBLE) / 8
                 - CAST(coalesce(c.c, 0) AS DOUBLE)
                   / (za.sz + zb.sz - coalesce(c.c, 0)), 6) AS err
    FROM nm n
    LEFT JOIN common c ON c.id_a = n.id_a AND c.id_b = n.id_b
    JOIN sizes za ON za.doc_id = n.id_a
    JOIN sizes zb ON zb.doc_id = n.id_b
    """,
    description=(
        "sketch-accuracy audit: for every LSH candidate pair, the "
        "MinHash-estimated Jaccard (matching signature components / 8) "
        "against the EXACT 3-shingle Jaccard, plus the signed error — "
        "the measurement that justifies (or indicts) a signature "
        "length before a 100 TB dedup run commits to it. Shape: "
        "signatures are map-side, candidates come from the band "
        "equi-join, and the exact verify joins shingles ONLY through "
        "the candidate set (|pairs|·|doc shingles| rows, never the "
        "all-pairs co-occurrence join). A pair sharing a band but no "
        "shingle (hash collision) stays visible via the left join — "
        "exactly the false-positive the audit exists to count"
    ),
    tags=("documents", "dedup", "sketch", "evaluation"),
)
def doc_minhash_estimate_error(spark, sf_dir):
    from ..operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_mapside,
        shingles,
    )

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    # sig feeds the band join AND both per-side signature joins; sh
    # feeds sizes AND both sides of the common-shingle join. Spark has
    # no CSE across DataFrame references, so without a checkpoint each
    # reference re-derives the corpus scan + md5 pipeline (10 scans in
    # the executed plan); one localCheckpoint each caps the corpus cost
    # at one derivation per frame.
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8).localCheckpoint()
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
    sig_a = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k in range(8)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k in range(8)],
    )
    n_match = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(8)
    ).cast("bigint")
    nm = (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", n_match.alias("n_match"))
    )
    sh = shingles(docs, n=3).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    cand_sh = pairs.join(
        sh.select(F.col("doc_id").alias("id_a"), "shingle"), "id_a"
    )
    common = (
        cand_sh.join(
            sh.select(F.col("doc_id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    c0 = F.coalesce(F.col("c"), F.lit(0)).cast("bigint")
    est = F.col("n_match").cast("double") / 8
    jac = c0.cast("double") / (F.col("sz_a") + F.col("sz_b") - c0)
    return (
        nm.join(common, ["id_a", "id_b"], "left")
        .join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_match",
            F.round(est, 6).alias("jaccard_est"),
            F.round(jac, 6).alias("jaccard"),
            F.round(est - jac, 6).alias("err"),
        )
    )


@register(
    "rel_weighted_median_price",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
             CAST(round(l_quantity) AS BIGINT) AS w
      FROM lineitem),
    g AS (
      SELECT l_returnflag, pc, CAST(sum(w) AS BIGINT) AS w
      FROM q GROUP BY l_returnflag, pc),
    c AS (
      SELECT l_returnflag, pc, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY pc) AS cw,
             sum(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM g)
    SELECT l_returnflag,
           CAST(max(tw) AS BIGINT) AS total_w,
           CAST(min(CASE WHEN 2 * cw >= tw THEN pc END) AS BIGINT)
             AS w_median_price_c
    FROM c GROUP BY l_returnflag
    """,
    description=(
        "weighted nearest-rank median (price weighted by quantity) per "
        "return flag — the weighted-percentile primitive exact "
        "percentile functions don't give you: smallest price whose "
        "cumulative weight reaches half the total. All-integer "
        "(cents × integer weights), so the answer is EXACT and "
        "order-independent. Shape: weights collapse to one row per "
        "(flag, price) FIRST (map-side combined — the cumsum window "
        "then runs over |distinct prices|, not |lineitems|), one "
        "partitioned window, one final combine. The same cumulative-"
        "weight scan is how a 100 TB weighted quantile runs (per-key "
        "windows; a global weighted median would use the same frame "
        "after a range repartition)"
    ),
    tags=("relational", "statistics", "window"),
)
def rel_weighted_median_price(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    q = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("pc"),
        F.round(F.col("l_quantity")).cast("bigint").alias("w"),
    )
    g = q.groupBy("l_returnflag", "pc").agg(
        F.sum("w").cast("bigint").alias("w")
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("pc")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    c = g.withColumn("cw", F.sum("w").over(wc)).withColumn(
        "tw", F.sum("w").over(wt)
    )
    return c.groupBy("l_returnflag").agg(
        F.max("tw").cast("bigint").alias("total_w"),
        F.min(
            F.when(F.lit(2) * F.col("cw") >= F.col("tw"), F.col("pc"))
        )
        .cast("bigint")
        .alias("w_median_price_c"),
    )


@register(
    "doc_ppl_buckets",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
    tok AS (SELECT doc_id, w FROM toks WHERE w <> ''),
    ucnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT sum(c) AS n FROM ucnt),
    scored AS (
      SELECT tok.doc_id,
             CAST(round(ln(CAST(u.c AS DOUBLE) / t.n) * 1000000)
                  AS BIGINT) AS lp_u
      FROM tok JOIN ucnt u ON tok.w = u.w CROSS JOIN tot t),
    ds AS (
      SELECT doc_id,
             round((CAST(sum(lp_u) AS DOUBLE) / count(*)) / 1000000.0, 6)
               AS avg_lp
      FROM scored GROUP BY doc_id),
    b AS (
      SELECT doc_id, avg_lp,
             (3 * (row_number() OVER (ORDER BY avg_lp DESC, doc_id) - 1))
               // (count(*) OVER ()) + 1 AS bucket
      FROM ds)
    SELECT d.source,
           CASE b.bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                         ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS chars
    FROM b JOIN documents d ON d.doc_id = b.doc_id
    GROUP BY d.source, 2
    """,
    description=(
        "CCNet-style perplexity bucketing: score every document with "
        "the corpus-trained unigram LM (micro-nat integer sums, the "
        "doc_unigram_logprob treatment), split into head/middle/tail "
        "terciles by explicit (3*(rn-1))//n+1 arithmetic over (score "
        "desc, doc_id) — not ntile, whose remainder placement is an "
        "engine convention (scripts/parity_lint.py) — then report the "
        "per-source bucket composition — the table that drives "
        "'keep head+middle, drop tail' corpus curation. The exact "
        "tercile is a |docs|-row presentation window at test SF; at "
        "100 TB the same buckets come from two approx-quantile "
        "cutoffs + a map-side CASE (the evt_chrono_split exact-vs-"
        "scale duality, noted here rather than duplicated)"
    ),
    tags=("documents", "text", "quality", "sampling"),
)
def doc_ppl_buckets(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    tok = docs.select("doc_id", F.explode(toks).alias("w")).filter(
        F.col("w") != ""
    )
    tfd = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    ucnt = F.sum("c").over(Window.partitionBy("w"))
    tot = tok.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    lp_u = F.round(
        F.log(F.col("uc").cast("double") / F.col("n")) * 1000000
    ).cast("bigint")
    scored = (
        tfd.withColumn("uc", ucnt)
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "c", lp_u.alias("lp_u"))
    )
    ds = scored.groupBy("doc_id").agg(
        F.round(
            (
                F.sum(F.col("c") * F.col("lp_u")).cast("double")
                / F.sum("c")
            )
            / 1000000.0,
            6,
        ).alias("avg_lp")
    )
    wb = Window.orderBy(F.col("avg_lp").desc(), F.col("doc_id"))
    b = ds.select(
        "doc_id",
        "avg_lp",
        F.row_number().over(wb).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nd"),
    ).withColumn("bucket", F.expr("(3 * (rn - 1)) DIV nd + 1"))
    lab = (
        F.when(F.col("bucket") == 1, "head")
        .when(F.col("bucket") == 2, "middle")
        .otherwise("tail")
    )
    return (
        b.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
        .groupBy("source", lab.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
    )


@register(
    "doc_cluster_size_histogram",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    hh AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h
      FROM sh),
    sig AS (
      SELECT doc_id, {_SQL_MINHASH_AGGS}
      FROM hh GROUP BY doc_id),
    banded AS (
      SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bkey FROM sig
      UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
      UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig
      UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    cc AS (
      WITH RECURSIVE walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node)
      SELECT node, min(label) AS label FROM walk GROUP BY node),
    sz AS (
      SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
      FROM cc GROUP BY label)
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM sz GROUP BY cluster_size
    """,
    description=(
        "near-dup cluster-size histogram — the dedup-run audit table "
        "(how much of the corpus sits in how-big duplicate families; "
        "a fat tail here means the LSH bands are too loose or the "
        "corpus has a template problem). Composes the existing "
        "LSH → connected-components chain and adds two tiny aggregates "
        "over the |clusters| frame; the CC kernel from operators.dedup "
        "is the only graph stage"
    ),
    tags=("documents", "dedup", "evaluation"),
)
def doc_cluster_size_histogram(spark, sf_dir):
    from ..operators.dedup import (
        dedup_clusters,
        lsh_candidate_pairs,
        minhash_signatures_mapside,
    )

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
    cc = dedup_clusters(pairs, docs, id_col="doc_id")
    sz = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return sz.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )


@register(
    "evt_group_sample",
    oracle="""
    WITH r AS (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rnk
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(event_id) AS BIGINT) AS id_checksum
    FROM r WHERE rnk <= 100 GROUP BY event_type
    """,
    description=(
        "deterministic fixed-size per-group sample (100 per event "
        "type) by md5-hash rank — the balanced downsampler for "
        "eval-set construction: reproducible across engines, runs, "
        "retries, and cluster sizes because the order key is a pure "
        "function of the row (the per-group counterpart of the "
        "uniform evt_hash_sample and the embedding-space "
        "emb_class_downsample). Checksum pins the EXACT sampled id "
        "set, not just counts. At 100 TB the rank window bounds "
        "per-group state to k via the standard top-k pushdown "
        "(WindowGroupLimit pushes rnk <= 100 below the sort)"
    ),
    tags=("events", "sampling"),
)
def evt_group_sample(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    r = ev.withColumn("rnk", F.row_number().over(w))
    return (
        r.filter(F.col("rnk") <= 100)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("event_id").cast("bigint").alias("id_checksum"),
        )
    )


_RECURSIVE_SPINE_SQL = """
WITH RECURSIVE m(mon) AS (
  SELECT date_trunc('month', min(o_orderdate)) FROM orders
  UNION ALL
  SELECT mon + INTERVAL 1 MONTH FROM m
  WHERE mon < (SELECT date_trunc('month', max(o_orderdate)) FROM orders)
),
rev AS (
  SELECT date_trunc('month', o_orderdate) AS mon,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_c,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1)
SELECT m.mon, coalesce(r.rev_c, 0) AS rev_c,
       coalesce(r.n_orders, 0) AS n_orders
FROM m LEFT JOIN rev r ON r.mon = m.mon
"""


@register(
    "sql_recursive_month_spine",
    oracle=_RECURSIVE_SPINE_SQL,
    description=(
        "recursive-CTE SQL surface (Spark 4's WITH RECURSIVE): "
        "generate the complete month spine between the first and last "
        "order date and left-join monthly revenue onto it, so silent "
        "calendar gaps become explicit zero rows — the gap-filled "
        "report shape. The IDENTICAL SQL text runs on both engines "
        "(the recursion is UNION ALL over a strictly increasing month, "
        "so it terminates in ≤ date-span iterations regardless of "
        "corpus size — recursion depth scales with the CALENDAR, not "
        "the data; the revenue aggregate is the only corpus-sized "
        "stage and it map-side combines). Spark's recursive CTEs "
        "don't yet allow UNION set-dedup in the loop, so cyclic-graph "
        "recursion (the dedup CC walk) stays on the iterative "
        "operators.dedup path — this query pins the DAG-shaped half "
        "of the surface. Spark currently executes one micro-job per "
        "recursion step (~80 here), so this is an API-surface/"
        "presentation query, NOT a bench headline — for a hot path, "
        "sequence()+explode builds the same spine in one stage "
        "(evt_gap_fill's form)"
    ),
    tags=("relational", "sql-entry", "recursive"),
)
def sql_recursive_month_spine(spark, sf_dir):
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SPINE_SQL)


@register(
    "evt_time_range_rolling",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events WHERE value IS NOT NULL),
    r AS (
      SELECT event_id, user_id, ts_sec,
             CAST(sum(vc) OVER (
               PARTITION BY user_id ORDER BY ts_sec
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS roll_sum_c,
             CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY ts_sec
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS roll_n
      FROM v)
    SELECT event_id, user_id, ts_sec, roll_sum_c, roll_n FROM r
    """,
    description=(
        "TIME-RANGE window frame (the rolling surface ROWS frames "
        "can't express): per-user trailing-1-hour value sum and count "
        "via RANGE BETWEEN 3599 PRECEDING on integer epoch-seconds — "
        "events 'within the last hour' regardless of how many rows "
        "that is. Same-second events are frame peers in both engines "
        "(RANGE semantics), so the result is deterministic without a "
        "row tie-break; sums are exact integer cents. ONE shuffle on "
        "user_id; the frame is a sliding pointer pair over each "
        "partition's sorted run — at 100 TB this is the standard "
        "sessionless rolling feature (complements evt_rolling_window_"
        "stats' ROWS form and evt_sessionize's gap form)"
    ),
    tags=("events", "window", "timeseries"),
)
def evt_time_range_rolling(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    v = ev.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("ts_sec"),
        F.col("value_c").alias("vc"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return v.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.sum("vc").over(w).cast("bigint").alias("roll_sum_c"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("roll_n"),
    )


@register(
    "mm_storage_report",
    oracle="""
    WITH m AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             octet_length(encode(text)) AS n
      FROM documents)
    SELECT media_type,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(n) AS BIGINT) AS total_bytes,
           CAST(max(n) AS BIGINT) AS max_bytes,
           CAST(sum(CASE media_type
                    WHEN 'audio' THEN 1000 + n % 60000
                    WHEN 'video' THEN 5000 + n % 600000
                    ELSE 0 END) AS BIGINT) AS total_duration_ms
    FROM m GROUP BY media_type
    """,
    description=(
        "modality storage/footprint report over the media-metadata "
        "extraction (mapInPandas decode seam, deterministic stub "
        "arithmetic mirrored by the oracle): per media type, asset "
        "count, byte totals, and total playable duration — the "
        "capacity-planning readout a multimodal lake job emits before "
        "a training run. The aggregate runs on extract_media_meta's "
        "OUTPUT (one row per asset, bytes never shuffle past the "
        "decode stage); at 100 TB the Arrow batches stream through "
        "the Python seam once and the report is a |types|-row combine"
    ),
    tags=("multimodal", "aggregate"),
)
def mm_storage_report(spark, sf_dir):
    from ..operators.multimodal import documents_as_media, extract_media_meta

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    meta = extract_media_meta(documents_as_media(docs))
    return meta.groupBy("media_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.max("n_bytes").cast("bigint").alias("max_bytes"),
        F.sum("duration_ms").cast("bigint").alias("total_duration_ms"),
    )


@register(
    "src_pydatasource_agg",
    oracle="""
    WITH g AS (
      SELECT i AS event_id,
             CAST(('0x' || substring(md5(CAST(i AS VARCHAR)), 1, 4))
                  AS BIGINT) % 100 AS user_id,
             (['view', 'click', 'purchase', 'signup'])[
               (CAST(('0x' || substring(md5(CAST(i AS VARCHAR)), 5, 1))
                     AS BIGINT) % 4) + 1] AS event_type,
             CAST(('0x' || substring(md5(CAST(i AS VARCHAR)), 6, 7))
                  AS BIGINT) % 1000000 AS value_c
      FROM range(0, 10000) r(i))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(value_c) AS BIGINT) AS value_sum_c,
           CAST(sum(event_id) AS BIGINT) AS id_checksum
    FROM g GROUP BY event_type
    """,
    description=(
        "custom Python Data Source connector (PySpark 4 DataSource/"
        "DataSourceReader API, sources/pysource.py): an 8-partition "
        "deterministic generator source read through "
        "format('synthetic_events'), aggregated per event type with an "
        "id checksum pinning the EXACT row set. Every row is a pure "
        "md5 function of its row id, so the DuckDB oracle re-derives "
        "the identical rows from range() — the differential proof that "
        "the connector's partition planning covers every row exactly "
        "once (a stride gap or overlap breaks the checksum). The "
        "sf_dir is deliberately unused: the source IS the data"
    ),
    tags=("sources", "connector", "aggregate"),
)
def src_pydatasource_agg(spark, sf_dir):
    from ..sources.pysource import read_synthetic_events

    df = read_synthetic_events(spark, n_rows=10000, n_parts=8)
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct(F.col("user_id")).cast("bigint").alias("n_users"),
        F.sum("value_c").cast("bigint").alias("value_sum_c"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )


@register(
    "evt_linear_interpolate",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) * 1000000 AS tus,
             CASE WHEN value IS NOT NULL
                  THEN CAST(round(value * 100) AS BIGINT) END AS vc
      FROM events),
    w AS (
      SELECT event_id, user_id, tus, vc,
             last_value(vc IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             last_value(CASE WHEN vc IS NOT NULL THEN tus END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tus, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
             first_value(vc IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN vc IS NOT NULL THEN tus END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tus, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
      FROM v)
    SELECT event_id, user_id, tus, vc,
           CASE
             WHEN vc IS NOT NULL THEN vc
             WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt > pt THEN
               pv + CAST(floor(
                 CAST(nv - pv AS DOUBLE) * (tus - pt) / (nt - pt))
                 AS BIGINT)
             ELSE NULL
           END AS interp_c,
           CAST(vc IS NULL AND pv IS NOT NULL AND nv IS NOT NULL
                AS BOOLEAN) AS filled
    FROM w
    """,
    description=(
        "per-series LINEAR interpolation of missing values by TIME "
        "(not row position): null cells get pv + floor((nv−pv)·Δt/ΔT) "
        "between the bracketing non-null neighbors — the numeric "
        "gap-repair that complements ffill/bfill (W2: step functions) "
        "with the sloped form a sensor/price series wants. "
        "IGNORE-NULLS window endpoints carry both neighbor value and "
        "neighbor TIMESTAMP, so irregular sampling interpolates "
        "correctly; floor() on one shared double tree keeps both "
        "engines bit-identical (round() half-modes differ on negative "
        "halves). Edge rows (no bracket) stay null and are flagged. "
        "ONE shuffle on user_id, four frames over the same sort"
    ),
    tags=("events", "window", "timeseries", "cleaning"),
)
def evt_linear_interpolate(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    v = ev.select(
        "event_id",
        "user_id",
        (F.unix_timestamp("ts").cast("bigint") * 1000000).alias("tus"),
        F.when(F.col("value").isNotNull(), F.col("value_c")).alias("vc"),
    )
    order = [F.col("tus"), F.col("event_id")]
    wp = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w = (
        v.withColumn("pv", F.last("vc", ignorenulls=True).over(wp))
        .withColumn(
            "pt",
            F.last(
                F.when(F.col("vc").isNotNull(), F.col("tus")), ignorenulls=True
            ).over(wp),
        )
        .withColumn("nv", F.first("vc", ignorenulls=True).over(wn))
        .withColumn(
            "nt",
            F.first(
                F.when(F.col("vc").isNotNull(), F.col("tus")), ignorenulls=True
            ).over(wn),
        )
    )
    interp = (
        F.when(F.col("vc").isNotNull(), F.col("vc"))
        .when(
            F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
            & (F.col("nt") > F.col("pt")),
            F.col("pv")
            + F.floor(
                (F.col("nv") - F.col("pv")).cast("double")
                * (F.col("tus") - F.col("pt"))
                / (F.col("nt") - F.col("pt"))
            ).cast("bigint"),
        )
        .otherwise(F.lit(None).cast("bigint"))
    )
    return w.select(
        "event_id",
        "user_id",
        "tus",
        "vc",
        interp.alias("interp_c"),
        (
            F.col("vc").isNull()
            & F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
        ).alias("filled"),
    )


@register(
    "evt_outlier_iqr",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
      FROM events WHERE value IS NOT NULL),
    r AS (
      SELECT event_type, vc,
             row_number() OVER (PARTITION BY event_type ORDER BY vc) AS rnk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v),
    q AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             CAST(min(CASE WHEN rnk * 4 >= n THEN vc END) AS BIGINT) AS q1,
             CAST(min(CASE WHEN rnk * 4 >= 3 * n THEN vc END) AS BIGINT)
               AS q3
      FROM r GROUP BY event_type)
    SELECT q.event_type, q.n, q.q1, q.q3,
           CAST(count(CASE WHEN 2 * v.vc < 2 * q.q1 - 3 * (q.q3 - q.q1)
                             OR 2 * v.vc > 2 * q.q3 + 3 * (q.q3 - q.q1)
                           THEN 1 END) AS BIGINT) AS n_outliers
    FROM v JOIN q ON v.event_type = q.event_type
    GROUP BY q.event_type, q.n, q.q1, q.q3
    """,
    description=(
        "Tukey IQR outlier fences per event type: exact nearest-rank "
        "quartiles (rank·4 ≥ n / ≥ 3n — pure integer rank cuts, the "
        "evt_winsorize treatment), fences at q1 − 1.5·IQR / q3 + "
        "1.5·IQR kept integral by working in DOUBLED cents (2v vs "
        "2q ± 3·IQR), so the fence comparison never touches a float. "
        "Completes the robust-outlier trio (z-score = parametric, "
        "MAD = robust center, IQR = box-plot fences). Shape: one "
        "rank window per type over the value frame, a k-row quartile "
        "combine broadcast back onto the same frame"
    ),
    tags=("events", "statistics", "quality"),
)
def evt_outlier_iqr(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    v = ev.select("event_type", F.col("value_c").alias("vc"))
    wr = Window.partitionBy("event_type").orderBy("vc")
    wn = Window.partitionBy("event_type")
    r = v.withColumn("rnk", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    q = r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(F.when(F.col("rnk") * 4 >= F.col("n"), F.col("vc")))
        .cast("bigint")
        .alias("q1"),
        F.min(F.when(F.col("rnk") * 4 >= 3 * F.col("n"), F.col("vc")))
        .cast("bigint")
        .alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    j = v.join(F.broadcast(q), "event_type")
    return j.groupBy("event_type", "n", "q1", "q3").agg(
        F.count(
            F.when(
                (F.lit(2) * F.col("vc") < 2 * F.col("q1") - 3 * iqr)
                | (F.lit(2) * F.col("vc") > 2 * F.col("q3") + 3 * iqr),
                1,
            )
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice_c
FROM customer c, LATERAL (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS o_totalprice_c
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2) o
"""


@register(
    "sql_lateral_topk",
    oracle=_LATERAL_TOPK_SQL,
    description=(
        "correlated LATERAL subquery surface (SQL:2016 lateral "
        "derived tables): top-2 orders per customer via a per-row "
        "ORDER BY … LIMIT subquery — the IDENTICAL SQL text runs on "
        "both engines. Spark plans the correlation as a rewritten "
        "join + per-key limit; the semantically equal window form "
        "(row_number ≤ k, rel_topk_orders_per_segment) is the "
        "explicit scale path — this query pins the SQL SURFACE, the "
        "planner's rewrite, and the deterministic (price DESC, "
        "orderkey) tie-break"
    ),
    tags=("relational", "sql-entry", "topk"),
)
def sql_lateral_topk(spark, sf_dir):
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_TOPK_SQL)


@register(
    "stream_pydatasource_counts",
    oracle="""
    WITH g AS (
      SELECT i AS event_id,
             (['view', 'click', 'purchase', 'signup'])[
               (CAST(('0x' || substring(md5(CAST(i AS VARCHAR)), 5, 1))
                     AS BIGINT) % 4) + 1] AS event_type,
             CAST(('0x' || substring(md5(CAST(i AS VARCHAR)), 6, 7))
                  AS BIGINT) % 1000000 AS value_c
      FROM range(0, 10000) r(i))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(value_c) AS BIGINT) AS value_sum_c,
           CAST(sum(event_id) AS BIGINT) AS id_checksum
    FROM g GROUP BY event_type
    """,
    description=(
        "Structured Streaming over the custom Python Data Source "
        "connector: the stream reader's checkpointed offsets advance "
        "in 5000-row micro-batches to the 10k bound, a complete-mode "
        "aggregation accumulates per-type counts/sums across batches, "
        "and the drained result must equal the oracle's batch "
        "re-derivation of the SAME deterministic rows — proving the "
        "offset protocol delivers every generated row exactly once "
        "through the streaming engine (a dropped or replayed batch "
        "breaks the id checksum). Completes the connector surface: "
        "batch read (src_pydatasource_agg), streaming read (this), "
        "replay recovery (pytest)"
    ),
    tags=("streaming", "sources", "connector"),
)
def stream_pydatasource_counts(spark, sf_dir):
    from ..streaming.ingest import stream_pydatasource_counts as _impl

    return _impl(spark)


@register(
    "emb_logreg_eval",
    oracle=None,  # 25 GD iterations have no SQL form; the pytest twin
    # (test_logreg_matches_sequential_reference) pins the fitted weights
    # bit-exactly against a sequential numpy implementation using the
    # identical per-row micro-quantization
    description=(
        "distributed logistic-regression quality classifier "
        "(operators/logreg.py): full-batch GD on label-parity targets "
        "over the embedding table — per-iteration gradients are "
        "integer micro-unit partials (exact, partitioning-independent; "
        "the pca.py treatment), the driver holds only the (d+1) "
        "weights, scoring ships them back as plan literals "
        "(JVM zip_with dot product, no Python). Output: per-class "
        "count, correct-at-0.5 count, and mean predicted probability "
        "in micro-units — the train-then-evaluate readout a corpus "
        "quality filter runs before gating on p"
    ),
    tags=("embeddings", "ml", "iterative"),
)
def emb_logreg_eval(spark, sf_dir):
    from ..operators.logreg import logreg_fit, logreg_predict
    from ..operators.similarity import _as_double

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    base = emb.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("e"),
        (F.col("label") % 2).cast("double").alias("y"),
    ).localCheckpoint()
    w, b, _losses = logreg_fit(
        base, vec_col="e", y_col="y", n_iter=25, lr=2.0, l2=1e-3
    )
    scored = logreg_predict(base, w, b, vec_col="e")
    return scored.groupBy(F.col("y").cast("bigint").alias("y")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                ((F.col("p") >= 0.5) & (F.col("y") == 1.0))
                | ((F.col("p") < 0.5) & (F.col("y") == 0.0)),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_correct"),
        F.sum(F.round(F.col("p") * 1000000).cast("bigint"))
        .cast("bigint")
        .alias("p_sum_micro"),
    )


@register(
    "evt_partition_skew_report",
    oracle="""
    WITH k AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(max(n) AS BIGINT) AS max_key_rows
      FROM k),
    top AS (
      SELECT user_id, n,
             row_number() OVER (ORDER BY n DESC, user_id) AS rnk
      FROM k)
    SELECT s.n_keys, s.n_rows, s.max_key_rows,
           round(CAST(s.max_key_rows AS DOUBLE)
                 / (CAST(s.n_rows AS DOUBLE) / s.n_keys), 6)
             AS skew_factor,
           CAST(sum(CASE WHEN t.rnk <= 5 THEN t.n END) AS BIGINT)
             AS top5_rows
    FROM s CROSS JOIN top t
    GROUP BY s.n_keys, s.n_rows, s.max_key_rows
    """,
    description=(
        "shuffle-key skew diagnosis BEFORE the expensive job: per-key "
        "cardinality profile of the events user_id (the engine's "
        "dominant shuffle key) — key count, max-key rows, skew factor "
        "max/mean, and the top-5 key mass. This is the preflight that "
        "decides between plain groupBy, AQE skew-join, and explicit "
        "salting (operators/skew.py); at 100 TB you run it on a "
        "hash-sample and extrapolate. ONE map-side-combined aggregate "
        "over the corpus; everything after runs on |keys| rows"
    ),
    tags=("events", "operations", "skew"),
)
def evt_partition_skew_report(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    k = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = k.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_key_rows"),
    )
    # top-5 via orderBy+limit (TakeOrdered: per-partition top-5 merged
    # on the driver) — NOT a global rank window, which would move every
    # key into one partition at scale
    top5 = k.orderBy(F.desc("n"), F.asc("user_id")).limit(5)
    t5 = top5.agg(F.sum("n").cast("bigint").alias("top5_rows"))
    return s.crossJoin(F.broadcast(t5)).select(
        "n_keys",
        "n_rows",
        "max_key_rows",
        F.round(
            F.col("max_key_rows").cast("double")
            / (F.col("n_rows").cast("double") / F.col("n_keys")),
            6,
        ).alias("skew_factor"),
        "top5_rows",
    )


@register(
    "rel_join_cardinality_audit",
    oracle="""
    WITH l AS (
      SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nl
      FROM lineitem GROUP BY l_orderkey),
    o AS (
      SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS no
      FROM orders GROUP BY o_orderkey),
    j AS (
      SELECT coalesce(l.k, o.k) AS k,
             coalesce(l.nl, 0) AS nl, coalesce(o.no, 0) AS no
      FROM l FULL OUTER JOIN o ON l.k = o.k)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(nl * no) AS BIGINT) AS join_rows,
           CAST(max(nl * no) AS BIGINT) AS max_key_fanout,
           CAST(count(CASE WHEN nl > 0 AND no = 0 THEN 1 END) AS BIGINT)
             AS left_only_keys,
           CAST(count(CASE WHEN no > 0 AND nl = 0 THEN 1 END) AS BIGINT)
             AS right_only_keys
    FROM j
    """,
    description=(
        "join-explosion preflight: per-key counts on BOTH sides of the "
        "lineitem⋈orders key, full-outer merged to report the exact "
        "post-join row count Σ nl·no, the worst single-key fan-out, "
        "and dangling keys per side — the audit that catches an "
        "accidental many-to-many (or a broken FK) for the cost of two "
        "key aggregates instead of one blown-up shuffle. At 100 TB "
        "this runs on samples or footer stats first; the exact form "
        "here is also the referential-integrity companion to "
        "rel_referential_audit"
    ),
    tags=("relational", "operations", "join"),
)
def rel_join_cardinality_audit(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    left = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nl")
    )
    right = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("no")
    )
    j = left.join(right, "k", "full_outer").select(
        F.coalesce(F.col("nl"), F.lit(0)).alias("nl"),
        F.coalesce(F.col("no"), F.lit(0)).alias("no"),
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.col("nl") * F.col("no")).cast("bigint").alias("join_rows"),
        F.max(F.col("nl") * F.col("no")).cast("bigint").alias("max_key_fanout"),
        F.count(F.when((F.col("nl") > 0) & (F.col("no") == 0), 1))
        .cast("bigint")
        .alias("left_only_keys"),
        F.count(F.when((F.col("no") > 0) & (F.col("nl") == 0), 1))
        .cast("bigint")
        .alias("right_only_keys"),
    )


@register(
    "doc_bloom_decontaminate",
    oracle=None,  # the Bloom bitset has no SQL form; the pytest gate
    # (test_bloom_decontaminate_brackets_exact) asserts the invariants:
    # bloom-flagged ⊇ exact-flagged per source, fp fraction bounded
    description=(
        "decontamination via the PORTABLE Bloom artifact "
        "(operators/bloom.py): the benchmark shingle set (doc_id%17=0, "
        "same split as doc_decontaminate) builds a bitset ONCE; corpus "
        "docs test their shingles with k JVM-hashed bit probes in a "
        "map-only Arrow pass — no corpus-vs-benchmark join at all. "
        "Output per source: docs, exact-contaminated count (the "
        "broadcast-join truth), bloom-flagged count (⊇ exact by "
        "construction — a Bloom filter cannot false-negative), and "
        "the implied fp overcount. At 100 TB the artifact is the "
        "point: build once on the benchmark side (KBs–MBs), persist, "
        "apply to every training shard forever without reshuffling "
        "the benchmark — the Lee et al. decontamination shape with "
        "the membership structure made explicit"
    ),
    tags=("documents", "decontamination", "sketch"),
)
def doc_bloom_decontaminate(spark, sf_dir):
    from ..operators.bloom import bloom_build, bloom_contains, optimal_params
    from ..operators.dedup import shingles

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    bench = shingles(docs.filter(F.col("doc_id") % 17 == 0)).select(
        F.col("shingle").alias("v")
    )
    n_bench = bench.count()
    m, k = optimal_params(max(n_bench, 1), fp_rate=0.01)
    filt = bloom_build(bench, "v", m, k)

    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    cs = shingles(corpus).select("doc_id", F.col("shingle").alias("v"))
    tested = bloom_contains(cs, "v", filt, m, k)
    per_doc_bloom = tested.groupBy("doc_id").agg(
        F.max(F.col("maybe_member").cast("int")).alias("bloom_hit")
    )
    # exact truth via the broadcast-join path (same as doc_decontaminate)
    ev_h = bench.select(F.xxhash64("v").alias("h")).distinct()
    per_doc_exact = (
        cs.select("doc_id", F.xxhash64("v").alias("h"))
        .join(F.broadcast(ev_h), "h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("exact_hit", F.lit(1))
    )
    j = (
        corpus.select("doc_id", "source")
        .join(per_doc_bloom, "doc_id", "left")
        .join(per_doc_exact, "doc_id", "left")
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.coalesce(F.col("exact_hit"), F.lit(0)))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.coalesce(F.col("bloom_hit"), F.lit(0)))
        .cast("bigint")
        .alias("n_bloom"),
    )


@register(
    "doc_lsh_tuning_curve",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    hh AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h
      FROM sh),
    sig AS (
      SELECT doc_id, {_SQL_MINHASH_AGGS}
      FROM hh GROUP BY doc_id),
    b42 AS (
      SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bkey FROM sig
      UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
      UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig
      UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig),
    b24 AS (
      SELECT doc_id, 0 AS band,
             mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3 AS bkey FROM sig
      UNION ALL SELECT doc_id, 1,
             mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7 FROM sig),
    p42 AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM b42 a JOIN b42 b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    p24 AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM b24 a JOIN b24 b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT 'b4r2' AS config, id_a, id_b FROM p42
      UNION ALL SELECT 'b2r4', id_a, id_b FROM p24),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT p.config, p.id_a, p.id_b, count(*) AS c
      FROM pairs p
      JOIN sh a ON a.doc_id = p.id_a
      JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
      GROUP BY p.config, p.id_a, p.id_b),
    verified AS (
      SELECT p.config,
             count(*) AS n_candidates,
             count(CASE WHEN coalesce(c.c, 0) * 10
                          >= 3 * (sa.sz + sb.sz - coalesce(c.c, 0))
                        THEN 1 END) AS n_verified
      FROM pairs p
      LEFT JOIN common c
        ON c.config = p.config AND c.id_a = p.id_a AND c.id_b = p.id_b
      JOIN sizes sa ON sa.doc_id = p.id_a
      JOIN sizes sb ON sb.doc_id = p.id_b
      GROUP BY p.config)
    SELECT config,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_verified AS BIGINT) AS n_verified,
           CAST(round(CAST(n_verified AS DOUBLE)
                      / n_candidates * 1000000) AS BIGINT)
             AS precision_micro
    FROM verified
    """,
    description=(
        "LSH banding tuning readout: the SAME 8-hash signatures banded "
        "two ways — (bands=4, rows=2) high-recall/low-precision vs "
        "(bands=2, rows=4) low-recall/high-precision — each scored by "
        "candidate volume and exact-Jaccard(≥0.3) verified count, i.e. "
        "measured PRECISION per operating point. This is the "
        "measurement that picks (b, r) before a 100 TB dedup run "
        "commits (SCALE.md's band-selectivity response made "
        "queryable); the exact verify joins shingles only through the "
        "candidate set. The integer cross-multiplied Jaccard test "
        "(10·c ≥ 3·(sa+sb−c)) keeps the verdict float-free"
    ),
    tags=("documents", "dedup", "evaluation", "sketch"),
)
def doc_lsh_tuning_curve(spark, sf_dir):
    from ..operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_mapside,
        shingles,
    )

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    # no checkpoint on sig (r13): it has exactly ONE consumer (the
    # banded frame below, which the self-join reuses via its own
    # repartition exchange), so the eager checkpoint was a pure extra
    # blocking job — the map-side signature pipeline is derived once
    # either way
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)

    # ONE banded frame holds every (config, band) cell — both operating
    # points ride a single explode + single bucket self-join instead of
    # one candidate pipeline per config (was: 2 self-joins + 2 distincts
    # over re-derived bandings; 13 exchanges → single-join shape)
    def _bandrow(config: str, b: int, rpb: int):
        return F.struct(
            F.lit(config).alias("config"),
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"mh{b * rpb + r}") for r in range(rpb)]
            ).alias("bkey"),
        )

    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[_bandrow("b4r2", b, 2) for b in range(4)],
                *[_bandrow("b2r4", b, 4) for b in range(2)],
            )
        ).alias("bb"),
    ).select("doc_id", "bb.config", "bb.band", "bb.bkey")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.config") == F.col("b.config"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.config").alias("config"),
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
        # pairs feed the shingle-verify chain AND the final per-config
        # readout — candidate-sized, so materialize once
        .localCheckpoint()
    )
    sh = shingles(docs, n=3).localCheckpoint()
    sizes = (
        sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        # two consumers (sa, sb); doc-count-sized
        .localCheckpoint()
    )
    cand_sh = pairs.join(
        sh.select(F.col("doc_id").alias("id_a"), "shingle"), "id_a"
    )
    common = (
        cand_sh.join(
            sh.select(F.col("doc_id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("config", "id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    c0 = F.coalesce(F.col("c"), F.lit(0))
    v = (
        pairs.join(common, ["config", "id_a", "id_b"], "left")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy("config")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.count(
                F.when(
                    c0 * 10 >= 3 * (F.col("sz_a") + F.col("sz_b") - c0), 1
                )
            )
            .cast("bigint")
            .alias("n_verified"),
        )
    )
    return v.select(
        "config",
        "n_candidates",
        "n_verified",
        F.round(
            F.col("n_verified").cast("double") / F.col("n_candidates")
            * 1000000
        )
        .cast("bigint")
        .alias("precision_micro"),
    )


@register(
    "evt_geo_hotspot_grid",
    oracle="""
    WITH pt AS (
      SELECT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 180000000 - 90000000 AS lat_u,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 9, 8))
                  AS BIGINT) % 360000000 - 180000000 AS lon_u
      FROM events),
    cells AS (
      SELECT CAST(floor(lat_u / 1000000.0) AS BIGINT) AS cla,
             CAST(floor(lon_u / 1000000.0) AS BIGINT) AS clo,
             CAST(count(*) AS BIGINT) AS n
      FROM pt GROUP BY 1, 2),
    stencil AS (
      SELECT c.cla + dx.d AS cla, c.clo + dy.d AS clo, c.n
      FROM cells c,
           (SELECT unnest([-1, 0, 1]) AS d) dx,
           (SELECT unnest([-1, 0, 1]) AS d) dy),
    neigh AS (
      SELECT cla, clo, CAST(sum(n) AS BIGINT) AS neigh_n
      FROM stencil GROUP BY cla, clo),
    scored AS (
      SELECT c.cla, c.clo, c.n, g.neigh_n,
             row_number() OVER (ORDER BY g.neigh_n DESC, c.cla, c.clo)
               AS rnk
      FROM cells c JOIN neigh g ON g.cla = c.cla AND g.clo = c.clo)
    SELECT cla, clo, n, neigh_n, CAST(rnk AS BIGINT) AS rnk
    FROM scored WHERE rnk <= 10
    """,
    description=(
        "spatial grid hotspot detection (geohash-style binning without "
        "a geo library): deterministic synthetic coordinates from "
        "md5(user_id) in integer micro-degrees, 1°-cell aggregation, "
        "then a 3×3 NEIGHBORHOOD STENCIL — each cell's count scatters "
        "to its 9 neighbors via a constant explode and one re-group, "
        "so 'dense area' means the smoothed neighborhood sum, not one "
        "lucky cell. Top-10 with full deterministic tie-break. Shape: "
        "one corpus-sized cell aggregate (map-side combined); the "
        "stencil multiplies only the CELL table by 9 — the standard "
        "trick that turns spatial neighbor joins into equi-joins (no "
        "range/theta join anywhere), which is exactly how it survives "
        "100 TB of points"
    ),
    tags=("events", "spatial", "aggregate", "topk"),
)
def evt_geo_hotspot_grid(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    h1 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    h2 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 9, 8), 16, 10
    ).cast("bigint")
    pt = ev.select(
        (h1 % 180000000 - 90000000).alias("lat_u"),
        (h2 % 360000000 - 180000000).alias("lon_u"),
    )
    cells = pt.groupBy(
        F.floor(F.col("lat_u") / 1000000.0).cast("bigint").alias("cla"),
        F.floor(F.col("lon_u") / 1000000.0).cast("bigint").alias("clo"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    offs = F.explode(
        F.array(*[F.lit(d) for d in (-1, 0, 1)])
    )
    stencil = (
        cells.withColumn("dx", offs)
        .withColumn("dy", F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])))
        .select(
            (F.col("cla") + F.col("dx")).alias("cla"),
            (F.col("clo") + F.col("dy")).alias("clo"),
            "n",
        )
    )
    neigh = stencil.groupBy("cla", "clo").agg(
        F.sum("n").cast("bigint").alias("neigh_n")
    )
    scored = cells.join(neigh, ["cla", "clo"])
    w = Window.orderBy(F.desc("neigh_n"), "cla", "clo")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 10)
        .select("cla", "clo", "n", "neigh_n", "rnk")
    )


@register(
    "evt_geo_radius_join",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 180000000 - 90000000 AS lat_u,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 9, 8))
                  AS BIGINT) % 360000000 - 180000000 AS lon_u
      FROM events),
    poi AS (
      SELECT i AS poi_id,
             CAST(('0x' || substring(md5('poi' || CAST(i AS VARCHAR)), 1, 8))
                  AS BIGINT) % 180000000 - 90000000 AS plat,
             CAST(('0x' || substring(md5('poi' || CAST(i AS VARCHAR)), 9, 8))
                  AS BIGINT) % 360000000 - 180000000 AS plon
      FROM range(0, 20) r(i)),
    uc AS (
      SELECT user_id, lat_u, lon_u,
             CAST(floor(lat_u / 10000000.0) AS BIGINT) AS cla,
             CAST(floor(lon_u / 10000000.0) AS BIGINT) AS clo
      FROM u),
    pc AS (
      SELECT poi_id, plat, plon,
             CAST(floor(plat / 10000000.0) AS BIGINT) + dx.d AS cla,
             CAST(floor(plon / 10000000.0) AS BIGINT) + dy.d AS clo
      FROM poi,
           (SELECT unnest([-1, 0, 1]) AS d) dx,
           (SELECT unnest([-1, 0, 1]) AS d) dy),
    hits AS (
      SELECT p.poi_id, u.user_id
      FROM pc p JOIN uc u ON u.cla = p.cla AND u.clo = p.clo
      WHERE (u.lat_u - p.plat) * (u.lat_u - p.plat)
            + (u.lon_u - p.plon) * (u.lon_u - p.plon)
            <= CAST(10000000 AS BIGINT) * 10000000)
    SELECT poi_id,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(user_id) AS BIGINT) AS user_checksum
    FROM hits GROUP BY poi_id
    """,
    description=(
        "point-in-radius spatial join, the canonical scalable form: "
        "bucket both sides on a 10°-cell grid, replicate the SMALL side "
        "(20 POIs × 9 stencil cells) so candidate pairs resolve in a "
        "broadcast EQUI-join, then refine with the exact integer "
        "squared-distance test (micro-degree planar metric — the "
        "deterministic stand-in for haversine; swap the refine "
        "expression for real geodesics). The cell size equals the "
        "radius, so the 3×3 stencil provably covers every qualifying "
        "pair (no range join, no cross join anywhere). User checksum "
        "pins the exact membership. At 100 TB: points shuffle once to "
        "cells at most — here not even that, the POI side broadcasts"
    ),
    tags=("events", "spatial", "join"),
)
def evt_geo_radius_join(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    h1 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    h2 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 9, 8), 16, 10
    ).cast("bigint")
    u = (
        ev.select("user_id").distinct()
        .select(
            "user_id",
            (h1 % 180000000 - 90000000).alias("lat_u"),
            (h2 % 360000000 - 180000000).alias("lon_u"),
        )
    )
    spark_range = u.sparkSession.range(0, 20).select(
        F.col("id").cast("bigint").alias("poi_id")
    )
    p1 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("poi"), F.col("poi_id").cast("string"))),
            1, 8,
        ), 16, 10,
    ).cast("bigint")
    p2 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("poi"), F.col("poi_id").cast("string"))),
            9, 8,
        ), 16, 10,
    ).cast("bigint")
    poi = spark_range.select(
        "poi_id",
        (p1 % 180000000 - 90000000).alias("plat"),
        (p2 % 360000000 - 180000000).alias("plon"),
    )
    cell = lambda c: F.floor(c / 10000000.0).cast("bigint")  # noqa: E731
    uc = u.select(
        "user_id", "lat_u", "lon_u",
        cell(F.col("lat_u")).alias("cla"), cell(F.col("lon_u")).alias("clo"),
    )
    d = F.explode(F.array(*[F.lit(x) for x in (-1, 0, 1)]))
    pc = (
        poi.withColumn("dx", d)
        .withColumn("dy", F.explode(F.array(*[F.lit(x) for x in (-1, 0, 1)])))
        .select(
            "poi_id", "plat", "plon",
            (cell(F.col("plat")) + F.col("dx")).alias("cla"),
            (cell(F.col("plon")) + F.col("dy")).alias("clo"),
        )
    )
    r = F.lit(10000000).cast("bigint")
    hits = (
        uc.join(F.broadcast(pc), ["cla", "clo"])
        .filter(
            (F.col("lat_u") - F.col("plat")) * (F.col("lat_u") - F.col("plat"))
            + (F.col("lon_u") - F.col("plon"))
            * (F.col("lon_u") - F.col("plon"))
            <= r * r
        )
    )
    return hits.groupBy("poi_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("user_id").cast("bigint").alias("user_checksum"),
    )


@register(
    "doc_substring_search_trgm",
    oracle=r"""
    WITH nt AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS ntext
      FROM documents),
    tg AS (
      SELECT DISTINCT doc_id, substring(ntext, i, 3) AS tri
      FROM nt, unnest(range(1, length(ntext) - 1)) AS u(i)
      WHERE length(ntext) >= 3),
    needle AS (
      SELECT unnest(['tab', 'abl', 'ble']) AS tri),
    cand AS (
      SELECT tg.doc_id
      FROM tg JOIN needle n ON tg.tri = n.tri
      GROUP BY tg.doc_id
      HAVING count(*) = 3),
    hits AS (
      SELECT nt.doc_id,
             CAST((length(nt.ntext)
                   - length(replace(nt.ntext, 'table', ''))) / 5 AS BIGINT)
               AS n_occ
      FROM cand JOIN nt ON nt.doc_id = cand.doc_id
      WHERE nt.ntext LIKE '%table%')
    SELECT doc_id, n_occ FROM hits WHERE n_occ > 0
    """,
    description=(
        "substring (LIKE '%needle%') search through a TRIGRAM index — "
        "the pg_trgm pattern that turns an un-indexable contains() "
        "scan into posting-list intersection: docs must contain ALL "
        "trigrams of 'table' (equi-join + count=|trigrams| — a "
        "necessary condition, so recall is exact), then the candidate "
        "set alone pays the exact LIKE verify and the "
        "occurrence count via the length/replace identity (integer-"
        "exact both engines). At serving scale the trigram postings "
        "persist bucketed like the phrase index (build_postings); "
        "needle trigrams broadcast; the corpus is never re-scanned "
        "per query. Complements term search (BM25/phrase): this one "
        "finds substrings WITHIN tokens"
    ),
    tags=("documents", "text", "search"),
)
def doc_substring_search_trgm(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    nt = docs.select(
        "doc_id",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias(
            "ntext"
        ),
    ).localCheckpoint()
    tris = F.array_distinct(
        F.expr(
            "transform(sequence(1, greatest(length(ntext) - 2, 0)),"
            " i -> substring(ntext, i, 3))"
        )
    )
    tg = nt.filter(F.length("ntext") >= 3).select(
        "doc_id", F.explode(tris).alias("tri")
    )
    needle = nt.sparkSession.createDataFrame(
        [("tab",), ("abl",), ("ble",)], "tri string"
    )
    cand = (
        tg.join(F.broadcast(needle), "tri")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") == 3)
        .select("doc_id")
    )
    n_occ = (
        (
            F.length("ntext")
            - F.length(F.replace(F.col("ntext"), F.lit("table")))
        )
        / 5
    ).cast("bigint")
    return (
        cand.join(nt, "doc_id")
        .filter(F.col("ntext").contains("table"))
        .select("doc_id", n_occ.alias("n_occ"))
        .filter(F.col("n_occ") > 0)
    )


@register(
    "evt_ltv_discounted",
    oracle="""
    WITH RECURSIVE g(d, fac) AS (
      SELECT 0, CAST(1000000 AS BIGINT)
      UNION ALL
      SELECT d + 1, fac * 19 // 20 FROM g WHERE d < 365),
    f AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0
      FROM events GROUP BY user_id),
    v AS (
      SELECT e.user_id,
             CAST(round(e.value * 100) AS BIGINT) * g.fac AS dv
      FROM events e
      JOIN f ON f.user_id = e.user_id
      JOIN g ON g.d = CAST(ts AS DATE) - f.d0
      WHERE e.value IS NOT NULL AND e.value > 0),
    ltv AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(dv) AS BIGINT) AS ltv_micro_c
      FROM v GROUP BY user_id),
    d AS (
      SELECT user_id, n_events, ltv_micro_c,
             (10 * (row_number() OVER (ORDER BY ltv_micro_c DESC, user_id)
                    - 1)) // (count(*) OVER ()) + 1 AS decile
      FROM ltv)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(ltv_micro_c) AS BIGINT) AS decile_ltv_micro_c
    FROM d GROUP BY decile
    """,
    description=(
        "exponentially time-discounted lifetime value (gamma=0.95 per "
        "day since each user's first activity) rolled into LTV "
        "deciles — the retention-weighted ranking that plain spend "
        "totals miss (early spenders who churn discount toward their "
        "head; steady users keep accruing). Determinism: gamma^d is a "
        "PURE-INTEGER recurrence g_d = g_(d-1)*19 div 20 in micro-"
        "units (0.95 = 19/20) — the transcendental form structurally "
        "lands on .5 grid boundaries (0.95^2·1000 = 902.5 exactly) "
        "where JVM and libm exp() round apart, so no float ever "
        "enters the value path; deciles are explicit (10*(rn-1))//n+1 "
        "arithmetic tie-broken on user_id (ntile remainders are an "
        "engine convention — scripts/parity_lint.py). d0 is "
        "first activity over ALL events (not just positive-value ones) "
        "— matching the oracle's f CTE exactly. "
        "Shape: first-activity dates are one map-side-combined agg "
        "shuffle-joined back on user_id (NO broadcast hint: f is "
        "user-cardinality — billions of rows at 100 TB — so the hint "
        "would force an OOM; AQE picks the strategy and the exchange "
        "is reused by the downstream groupBy(user_id)); the decile "
        "window is a |users|-row presentation stage (approx-quantile "
        "cutoffs at 100 TB, the RFM seam)"
    ),
    tags=("events", "aggregate", "statistics"),
)
def evt_ltv_discounted(spark, sf_dir):
    all_ev = keyed_events(spark, sf_dir)
    # d0 over ALL events (oracle's f CTE has no value filter); only the
    # discounted-value stage restricts to positive spend.
    f = all_ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    ev = all_ev.filter(F.col("value").isNotNull() & (F.col("value") > 0))
    # exact integer decay table (Python ints == DuckDB BIGINT division)
    fac, facs = 1000000, []
    for day in range(366):
        facs.append((day, fac))
        fac = fac * 19 // 20
    g = F.broadcast(
        ev.sparkSession.createDataFrame(facs, "d int, fac long")
    )
    v = (
        ev.join(f, "user_id")
        .withColumn("d", F.datediff(F.to_date("ts"), F.col("d0")))
        .join(g, "d")
        .select("user_id", (F.col("value_c") * F.col("fac")).alias("dv"))
    )
    ltv = v.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("dv").cast("bigint").alias("ltv_micro_c"),
    )
    wd = Window.orderBy(F.desc("ltv_micro_c"), F.asc("user_id"))
    d = ltv.select(
        "ltv_micro_c",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nu"),
    ).withColumn("decile", F.expr("(10 * (rn - 1)) DIV nu + 1"))
    return d.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("ltv_micro_c").cast("bigint").alias("decile_ltv_micro_c"),
    )


@register(
    "emb_davies_bouldin",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e FROM v WHERE vec_id < 8),
    scored AS (
      SELECT v.vec_id, c.cid,
             round(list_cosine_similarity(v.e, c.e), 6) AS cs
      FROM v JOIN cent c ON v.vec_id >= 8),
    ranked AS (
      SELECT vec_id, cid, cs,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cs DESC, cid ASC) AS rnk
      FROM scored),
    assign AS (
      SELECT vec_id, cid,
             CAST(round((1 - cs) * 1000000) AS BIGINT) AS d_micro
      FROM ranked WHERE rnk = 1),
    scatter AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d_micro) AS BIGINT) AS sd
      FROM assign GROUP BY cid),
    cm AS (
      SELECT a.cid AS ci, b.cid AS cj,
             CAST(round((1 - round(list_cosine_similarity(a.e, b.e), 6))
                        * 1000000) AS BIGINT) AS m_micro
      FROM cent a JOIN cent b ON a.cid <> b.cid),
    r AS (
      SELECT i.cid AS ci, c.cj,
             round((CAST(i.sd AS DOUBLE) / i.n
                    + CAST(j.sd AS DOUBLE) / j.n) / c.m_micro, 6) AS rij
      FROM scatter i
      JOIN cm c ON c.ci = i.cid
      JOIN scatter j ON j.cid = c.cj),
    db AS (
      SELECT ci, cj, rij,
             row_number() OVER (PARTITION BY ci
                                ORDER BY rij DESC, cj ASC) AS rk
      FROM r)
    SELECT ci AS centroid_id, cj AS worst_partner, rij AS db_component
    FROM db WHERE rk = 1
    """,
    description=(
        "Davies–Bouldin cluster-quality components over the same seed "
        "centroids as emb_kmeans_assign / emb_silhouette: per cluster, "
        "within-cluster scatter S_i (micro-quantized cosine distance "
        "to own centroid, integer-summed) and the WORST partner ratio "
        "max_j (S_i+S_j)/M_ij — the 'which two clusters should merge' "
        "readout silhouette's per-point view doesn't give. All pair "
        "math runs on the k×k centroid frame (64 rows here), the "
        "corpus pays exactly the one broadcast assignment pass. "
        "Deterministic: distances rounded to 1e-6 before any ratio, "
        "partner ties break on cluster id"
    ),
    tags=("embeddings", "similarity", "evaluation"),
)
def emb_davies_bouldin(spark, sf_dir):
    from ..operators.similarity import _as_double, cosine

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    v = emb.select("vec_id", _as_double(F.col("embedding")).alias("e"))
    cent = v.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    scored = (
        v.filter(F.col("vec_id") >= 8)
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cid",
            F.round(cosine(F.col("e"), F.col("ce")), 6).alias("cs"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cs").desc(), F.col("cid").asc()
    )
    assign = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "cid",
            F.round((F.lit(1) - F.col("cs")) * 1000000)
            .cast("bigint")
            .alias("d_micro"),
        )
    )
    scatter = assign.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d_micro").cast("bigint").alias("sd"),
    )
    ca = cent.select(F.col("cid").alias("ci"), F.col("ce").alias("ea"))
    cb = cent.select(F.col("cid").alias("cj"), F.col("ce").alias("eb"))
    cm = (
        ca.crossJoin(cb)
        .filter(F.col("ci") != F.col("cj"))
        .select(
            "ci",
            "cj",
            F.round(
                (F.lit(1) - F.round(cosine(F.col("ea"), F.col("eb")), 6))
                * 1000000
            )
            .cast("bigint")
            .alias("m_micro"),
        )
    )
    si = scatter.select(
        F.col("cid").alias("ci"),
        (F.col("sd").cast("double") / F.col("n")).alias("si"),
    )
    sj = scatter.select(
        F.col("cid").alias("cj"),
        (F.col("sd").cast("double") / F.col("n")).alias("sj"),
    )
    r = (
        cm.join(si, "ci")
        .join(sj, "cj")
        .select(
            "ci",
            "cj",
            F.round(
                (F.col("si") + F.col("sj")) / F.col("m_micro"), 6
            ).alias("rij"),
        )
    )
    wr = Window.partitionBy("ci").orderBy(F.desc("rij"), F.asc("cj"))
    return (
        r.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            F.col("ci").alias("centroid_id"),
            F.col("cj").alias("worst_partner"),
            F.col("rij").alias("db_component"),
        )
    )
