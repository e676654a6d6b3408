"""Round-7 batch f: series dynamics + duplicate-graph structure.

- ``evt_cusum_squares`` — variance-changepoint location per series
  (CUSUM of squares), the volatility sibling of `evt_changepoint_sse`.
- ``evt_rescaled_range`` — Hurst rescaled-range statistic per series
  (long-memory diagnostic).
- ``doc_boilerplate_prefixes`` — shared-opening detection (docs whose
  first 10 tokens are identical), the cheap boilerplate finder that
  runs before any MinHash machinery.
- ``doc_dupgraph_kcore`` — two unrolled k-core peeling rounds (k=2)
  over the SAME LSH candidate graph as `doc_dupgraph_triangles`: the
  density skeleton that separates duplicate cliques from stringy
  false-positive chains.

Determinism: the changepoint/range statistics are n-cleared integer
cross products (n·S_k − k·S_n — the mean never exists as a float);
argmax ties break to the earliest position via struct comparison;
ratios are single identical trees.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.dedup import lsh_candidate_pairs, minhash_signatures_mapside
from .common import fan_out, keyed_events, t
from .queries_ext import _SQL_MINHASH_AGGS, _SQL_SHINGLES
from .registry import register

#: shared oracle prefix: per-series cumulative sums over value cents.
_SQL_SERIES_CUM = """
    s AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL),
    c AS (
      SELECT user_id, event_type, x,
             row_number() OVER o AS k,
             CAST(sum(x) OVER oc AS HUGEINT) AS sk,
             CAST(sum(CAST(x AS HUGEINT) * x) OVER oc AS HUGEINT) AS qk,
             CAST(count(*) OVER p AS BIGINT) AS n,
             CAST(sum(x) OVER p AS HUGEINT) AS sn,
             CAST(sum(CAST(x AS HUGEINT) * x) OVER p AS HUGEINT) AS qn
      FROM s
      WINDOW o AS (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id),
             oc AS (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING),
             p AS (PARTITION BY user_id, event_type))
"""


@register(
    "evt_cusum_squares",
    oracle=f"""
    WITH {_SQL_SERIES_CUM},
    d AS (
      SELECT user_id, event_type, n, qn, k,
             abs(n * qk - k * qn) AS dev
      FROM c),
    best AS (
      SELECT user_id, event_type, n, qn, k, dev,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY dev DESC, k ASC) AS rnk
      FROM d)
    SELECT user_id, event_type, n,
           CAST(k AS BIGINT) AS k_star,
           CAST(dev AS BIGINT) AS dev_n,
           CAST(dev AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(qn AS DOUBLE))
             AS d_stat
    FROM best
    WHERE rnk = 1 AND n >= 4 AND qn > 0
    """,
    description=(
        "CUSUM-of-squares variance changepoint per (user, event_type) "
        "series: the classic Brown-Durbin-Evans statistic D_k = "
        "|S²_k/S²_n − k/n| located exactly as the integer argmax of "
        "|n·Q_k − k·Q_n| over cumulative squared cents (ties to the "
        "earliest k), with the normalized D as one identical tree — "
        "evt_changepoint_sse finds LEVEL shifts, this finds "
        "VOLATILITY shifts (the risk-regime break). Shape: one series "
        "shuffle; the ordered cumulative window, the partition totals, "
        "and the rank ride the same sort"
    ),
    tags=("events", "statistics", "timeseries"),
)
def evt_cusum_squares(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    s = ev.select(
        "user_id", "event_type", "ts", "event_id", F.col("value_c").alias("x")
    )
    dec = "decimal(38,0)"
    o = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    oc = o.rowsBetween(Window.unboundedPreceding, 0)
    p = Window.partitionBy("user_id", "event_type")
    q = F.col("x").cast(dec) * F.col("x")
    c = s.select(
        "user_id",
        "event_type",
        F.row_number().over(o).alias("k"),
        F.sum(q).over(oc).cast(dec).alias("qk"),
        F.count(F.lit(1)).over(p).cast("bigint").alias("n"),
        F.sum(q).over(p).cast(dec).alias("qn"),
    )
    dev = F.abs(F.col("n") * F.col("qk") - F.col("k") * F.col("qn"))
    best = c.select(
        "user_id", "event_type", "n", "qn", "k", dev.alias("dev")
    ).groupBy("user_id", "event_type").agg(
        F.max(F.struct(F.col("dev"), (-F.col("k")).alias("nk"),
                       F.col("n"), F.col("qn"))).alias("b")
    ).select("user_id", "event_type", "b.*")
    return best.filter((F.col("n") >= 4) & (F.col("qn") > 0)).select(
        "user_id",
        "event_type",
        "n",
        (-F.col("nk")).cast("bigint").alias("k_star"),
        F.col("dev").cast("bigint").alias("dev_n"),
        (
            F.col("dev").cast("double")
            / (F.col("n").cast("double") * F.col("qn").cast("double"))
        ).alias("d_stat"),
    )


@register(
    "evt_rescaled_range",
    oracle=f"""
    WITH {_SQL_SERIES_CUM},
    d AS (
      SELECT user_id, event_type, n, sn, qn,
             n * sk - k * sn AS cumdev
      FROM c),
    agg AS (
      SELECT user_id, event_type,
             max(n) AS n, max(sn) AS sn, max(qn) AS qn,
             max(cumdev) - min(cumdev) AS r_int
      FROM d GROUP BY user_id, event_type)
    SELECT user_id, event_type, CAST(n AS BIGINT) AS n,
           CAST(r_int AS BIGINT) AS r_n,
           CAST(n * qn - sn * sn AS BIGINT) AS var_n2,
           CAST(r_int AS DOUBLE)
             / sqrt(CAST(n AS DOUBLE) * CAST(n * qn - sn * sn AS DOUBLE))
             AS rs
    FROM agg
    WHERE n >= 8 AND n * qn - sn * sn > 0
    """,
    description=(
        "Hurst rescaled-range (R/S) statistic per series: cumulative "
        "mean-cleared deviations as the exact integers n·S_k − k·S_n "
        "(the mean never exists as a float), range R over the series, "
        "and R/S = R_int / sqrt(n·(n·Q − S²)) as one identical tree — "
        "log(R/S)/log(n) ≈ the Hurst exponent; > 0.5 flags trending "
        "(long-memory) series whose windows leak future information "
        "into features if split naively. Shape: same single series "
        "shuffle as every windowed series operator"
    ),
    tags=("events", "statistics", "timeseries"),
)
def evt_rescaled_range(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    s = ev.select(
        "user_id", "event_type", "ts", "event_id", F.col("value_c").alias("x")
    )
    dec = "decimal(38,0)"
    o = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    oc = o.rowsBetween(Window.unboundedPreceding, 0)
    p = Window.partitionBy("user_id", "event_type")
    q = F.col("x").cast(dec) * F.col("x")
    c = s.select(
        "user_id",
        "event_type",
        F.row_number().over(o).alias("k"),
        F.sum("x").over(oc).cast(dec).alias("sk"),
        F.count(F.lit(1)).over(p).cast("bigint").alias("n"),
        F.sum("x").over(p).cast(dec).alias("sn"),
        F.sum(q).over(p).cast(dec).alias("qn"),
    )
    cumdev = F.col("n") * F.col("sk") - F.col("k") * F.col("sn")
    agg = (
        c.select("user_id", "event_type", "n", "sn", "qn",
                 cumdev.alias("cumdev"))
        .groupBy("user_id", "event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("sn").alias("sn"),
            F.max("qn").alias("qn"),
            (F.max("cumdev") - F.min("cumdev")).alias("r_int"),
        )
    )
    var_n2 = F.col("n") * F.col("qn") - F.col("sn") * F.col("sn")
    return agg.filter((F.col("n") >= 8) & (var_n2 > 0)).select(
        "user_id",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("r_int").cast("bigint").alias("r_n"),
        var_n2.cast("bigint").alias("var_n2"),
        (
            F.col("r_int").cast("double")
            / F.sqrt(F.col("n").cast("double") * var_n2.cast("double"))
        ).alias("rs"),
    )


@register(
    "doc_boilerplate_prefixes",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
                                         'g'), ' ') AS t
      FROM documents),
    fp AS (
      SELECT doc_id, source,
             md5(array_to_string(list_slice(t, 1, 10), ' ')) AS fp
      FROM toks WHERE len(t) >= 10),
    g AS (
      SELECT fp,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(min(doc_id) AS BIGINT) AS min_doc_id
      FROM fp GROUP BY fp)
    SELECT fp, n_docs, n_sources, min_doc_id
    FROM g WHERE n_docs >= 2
    """,
    description=(
        "shared-opening boilerplate detection: group docs by the md5 "
        "of their first 10 tokens and report groups of 2+ — the cheap "
        "map-side pass (one hash per doc, no shingling, no pairwise "
        "anything) that catches templated headers/licenses/navbars "
        "BEFORE the MinHash machinery spends real money on them; "
        "n_sources > 1 flags cross-site mirror templates. Shape: "
        "map-only fingerprint, one fingerprint-keyed aggregate"
    ),
    tags=("documents", "dedup"),
)
def doc_boilerplate_prefixes(spark, sf_dir):
    from ..operators.dedup import _tokens

    docs = t(spark, sf_dir, "documents")
    # tokens in their own projection, read twice above it (size guard +
    # head slice) so CollapseProject keeps it apart. No Filter on the
    # size: predicate pushdown would substitute the tokeniser into it
    # and tokenise every doc twice. Short docs get a NULL fingerprint
    # instead, which count("fp") skips, so their group has n_docs = 0
    # and falls to the n_docs >= 2 filter.
    tk = F.col("_tk")
    fp = docs.select("doc_id", "source", _tokens("text").alias("_tk")).select(
        "doc_id",
        "source",
        F.when(
            F.size(tk) >= 10, F.md5(F.concat_ws(" ", F.slice(tk, 1, 10)))
        ).alias("fp"),
    )
    return (
        fp.groupBy("fp")
        .agg(
            F.count("fp").cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "doc_dupgraph_kcore",
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
    deg0 AS (
      SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT id_a AS id FROM pairs
        UNION ALL SELECT id_b FROM pairs) GROUP BY id),
    alive1 AS (SELECT id FROM deg0 WHERE d >= 2),
    e1 AS (
      SELECT p.id_a, p.id_b FROM pairs p
      JOIN alive1 x ON x.id = p.id_a
      JOIN alive1 y ON y.id = p.id_b),
    deg1 AS (
      SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT id_a AS id FROM e1
        UNION ALL SELECT id_b FROM e1) GROUP BY id),
    alive2 AS (SELECT id FROM deg1 WHERE d >= 2),
    e2 AS (
      SELECT p.id_a, p.id_b FROM e1 p
      JOIN alive2 x ON x.id = p.id_a
      JOIN alive2 y ON y.id = p.id_b),
    deg2 AS (
      SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT id_a AS id FROM e2
        UNION ALL SELECT id_b FROM e2) GROUP BY id)
    SELECT d2.id AS doc_id, d0.d AS deg0, d2.d AS deg2
    FROM deg2 d2 JOIN deg0 d0 ON d0.id = d2.id
    """,
    description=(
        "two unrolled 2-core peeling rounds over the SAME LSH "
        "candidate graph as doc_dupgraph_triangles: drop degree-<2 "
        "nodes, recompute degrees on the induced subgraph, drop again, "
        "report survivors with original and final degrees — the "
        "density skeleton that separates duplicate CLIQUES (survive "
        "peeling) from stringy chain false positives (peel away). The "
        "fixed 2-round unroll keeps it hash-checkable; the production "
        "iterate-to-fixpoint form is the same per-round shape "
        "(edges-filtered-by-alive, degree agg) run until no node "
        "drops. Shape: pairs frame is checkpointed once (LSH-sparse), "
        "each round is two semi joins + one degree aggregate on it"
    ),
    tags=("documents", "dedup", "graph"),
)
def doc_dupgraph_kcore(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2).localCheckpoint()

    def degrees(edges):
        return (
            edges.select(F.col("id_a").alias("id"))
            .unionAll(edges.select(F.col("id_b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        )

    deg0 = degrees(pairs).localCheckpoint(eager=False)
    alive1 = deg0.filter(F.col("d") >= 2).select("id")
    e1 = (
        pairs.join(alive1.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
        .join(alive1.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
        .localCheckpoint(eager=False)
    )
    alive2 = degrees(e1).filter(F.col("d") >= 2).select("id")
    e2 = (
        e1.join(alive2.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
        .join(alive2.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
    )
    deg2 = degrees(e2)
    return deg2.join(deg0.withColumnRenamed("d", "deg0"), "id").select(
        F.col("id").alias("doc_id"),
        "deg0",
        F.col("d").alias("deg2"),
    )
