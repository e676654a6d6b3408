"""Round-8 batch e: a fully oracle-paired STREAMING sketch, graph
partition quality, and the econometrics classic.

- ``stream_hll_portable_distinct`` — the portable-register HLL run AS
  A STREAM: the register table (event_type × bucket → max rho) is an
  ordinary streaming max-aggregate in complete mode, so the sketch
  state is engine-portable relational rows and the drain folds to the
  exact same estimate the batch recipe computes — the first streaming
  SKETCH in the registry with a full value-hash oracle (the
  DataSketches-binary forms are rows-only by nature).
- ``doc_dupgraph_modularity`` — Newman modularity of the connected-
  component partition over the LSH candidate graph, exact integers
  via Q·4m² = Σ_c (4m·e_c − d_c²): the single quality number that
  says whether near-dup clusters are real communities or chains of
  LSH false positives.
- ``evt_cointegration_lite`` — Engle-Granger step 1+2 on the daily
  (view, purchase) value series: OLS in exact 128-bit moments, then
  the residual lag-1 autocorrelation (the DF-regression readout)
  with every double sum computed as an ORDERED single-accumulator
  array fold (the sorted-array recipe; DuckDB multi-field struct
  folds are unreliable — see queries_r8c).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .common import fan_out, keyed_events, t
from .queries_ext import _SQL_MINHASH_AGGS, _SQL_SHINGLES
from .registry import register


@register(
    "stream_hll_portable_distinct",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM (SELECT DISTINCT event_type, user_id FROM events)),
    r AS (
      SELECT event_type, hv % 256 AS bucket,
             max(CASE WHEN hv // 256 = 0 THEN 25
                      ELSE 25 - length(bin(hv // 256)) END) AS reg
      FROM h GROUP BY event_type, bucket),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(CAST(1 AS BIGINT) << (25 - reg)) AS BIGINT)
               AS sum_present
      FROM r GROUP BY event_type)
    SELECT event_type,
           CAST(256 - n_buckets AS BIGINT) AS zero_registers,
           CAST(sum_present + (256 - n_buckets) * 33554432 AS BIGINT)
             AS sum_scaled,
           round(1579498136381.3938
                 / (sum_present + (256 - n_buckets) * 33554432), 6)
             AS hll_users
    FROM agg
    """,
    description=(
        "HyperLogLog distinct-users as a STREAMING aggregate with "
        "fully portable state: registers are ordinary (type, bucket, "
        "max rho) rows maintained by a complete-mode streaming max — "
        "the sketch's mergeability IS max-merge, so the streaming "
        "state store and a batch GROUP BY hold byte-identical "
        "register tables, and the drained readout hash-matches the "
        "from-scratch SQL oracle (the first streaming SKETCH in the "
        "registry with a full value oracle; stream_hll_distinct holds "
        "the same registers in foreachBatch-versioned parquet state "
        "instead of the streaming state store — same recipe, "
        "different state tier, both oracle-paired since round 12). "
        "State "
        "is ≤ types·256 rows regardless of user cardinality — "
        "strictly smaller than the dedup key-set the TTL-dedup "
        "stream keeps. Readout: zero registers, exact BIGINT "
        "harmonic denominator, one shared-literal division"
    ),
    tags=("streaming", "sketch", "aggregate"),
)
def stream_hll_portable_distinct(spark, sf_dir):
    from ..operators.dedup import _base_hash
    from ..streaming.ingest import _drain_to_table, _events_stream

    M, WBITS = 256, 25
    NUM = 1579498136381.3938
    ev = _events_stream(spark, sf_dir)
    h = ev.select(
        "event_type", _base_hash(F.col("user_id").cast("string")).alias("hv")
    )
    w = F.floor(F.col("hv") / M).cast("bigint")
    rho = F.when(w == 0, F.lit(WBITS)).otherwise(
        F.lit(WBITS) - F.length(F.bin(w))
    )
    regs = h.groupBy(
        "event_type", (F.col("hv") % M).alias("bucket")
    ).agg(F.max(rho).alias("reg"))
    drained = _drain_to_table(regs, mode="complete")
    agg = drained.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 25 - reg)"))
        .cast("bigint")
        .alias("sum_present"),
    )
    return agg.select(
        "event_type",
        (F.lit(M) - F.col("n_buckets")).cast("bigint").alias("zero_registers"),
        (
            F.col("sum_present")
            + (F.lit(M) - F.col("n_buckets")) * F.lit(1 << WBITS)
        )
        .cast("bigint")
        .alias("sum_scaled"),
    ).withColumn("hll_users", F.round(F.lit(NUM) / F.col("sum_scaled"), 6))


@register(
    "doc_dupgraph_modularity",
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
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node)
      SELECT node, min(label) AS label FROM walk GROUP BY node),
    deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
    m AS (SELECT count(*) AS m FROM pairs),
    ec AS (
      SELECT ca.label, count(*) AS e_c
      FROM pairs p
      JOIN cc ca ON ca.node = p.id_a
      JOIN cc cb ON cb.node = p.id_b AND cb.label = ca.label
      GROUP BY ca.label),
    dc AS (
      SELECT cc.label, sum(deg.d) AS d_c
      FROM cc JOIN deg ON deg.node = cc.node
      GROUP BY cc.label),
    q AS (
      SELECT CAST(count(*) AS BIGINT) AS n_communities,
             CAST(sum(4 * m.m * coalesce(ec.e_c, 0) - dc.d_c * dc.d_c)
                  AS BIGINT) AS q_num,
             CAST(4 * max(m.m) * max(m.m) AS BIGINT) AS q_den
      FROM dc LEFT JOIN ec USING (label), m)
    SELECT n_communities, q_num, q_den,
           round(CAST(q_num AS DOUBLE) / q_den, 6) AS modularity
    FROM q
    """,
    description=(
        "Newman modularity of the connected-component partition over "
        "the LSH candidate graph — the single partition-quality "
        "number that separates real near-dup communities (high Q: "
        "edges concentrate inside clusters) from chains of LSH false "
        "positives (Q near the random-graph baseline), read BEFORE "
        "trusting cluster-level dedup decisions; complements "
        "doc_dupgraph_triangles' per-node density view. Exact "
        "integers via Q·4m² = Σ_c (4m·e_c − d_c²) — one intra-edge "
        "count and one degree fold per community, no floats until "
        "the final shared division. Shape: the standard LSH chain + "
        "two label joins on the candidate-sized pair frame; the CC "
        "labels ride the production dedup_clusters operator"
    ),
    tags=("documents", "dedup", "graph"),
)
def doc_dupgraph_modularity(spark, sf_dir):
    from ..operators.dedup import (
        dedup_clusters,
        lsh_candidate_pairs,
        minhash_signatures_mapside,
    )

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
    # lazy: dedup_clusters' pair count is the first job to read the
    # pairs, and it fills this checkpoint on the way
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2).localCheckpoint(
        eager=False
    )
    # CC labels over edge-touched nodes only (the production operator
    # left-joins isolated docs back as singletons; modularity is over
    # the graph, so restrict to touched nodes)
    touched = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # the candidate graph is far below dedup.LOCAL_GRAPH_MAX_PAIRS at
    # every registry scale, so the labels come from one union-find pass
    labels = dedup_clusters(pairs, touched).localCheckpoint(eager=False)
    edges = pairs.unionByName(
        pairs.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    )
    deg = edges.groupBy(F.col("id_a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    la = labels.select(F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("ca"))
    lb = labels.select(F.col("doc_id").alias("id_b"), F.col("cluster_id").alias("cb"))
    ec = (
        pairs.join(F.broadcast(la), "id_a")
        .join(F.broadcast(lb), "id_b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    dc = (
        labels.join(
            F.broadcast(deg), labels.doc_id == deg.node
        )
        .groupBy(F.col("cluster_id").alias("label"))
        .agg(F.sum("d").alias("d_c"))
    )
    m = pairs.agg(F.count(F.lit(1)).alias("m"))
    q = (
        dc.join(ec, "label", "left")
        .crossJoin(F.broadcast(m))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_communities"),
            F.sum(
                4 * F.col("m") * F.coalesce(F.col("e_c"), F.lit(0))
                - F.col("d_c") * F.col("d_c")
            )
            .cast("bigint")
            .alias("q_num"),
            (4 * F.max("m") * F.max("m")).cast("bigint").alias("q_den"),
        )
    )
    return q.select(
        "n_communities",
        "q_num",
        "q_den",
        F.round(F.col("q_num").cast("double") / F.col("q_den"), 6).alias(
            "modularity"
        ),
    )


@register(
    "evt_cointegration_lite",
    oracle="""
    WITH d AS (
      SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS t,
             CAST(sum(CASE WHEN event_type = 'view'
                      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
        AND event_type IN ('view', 'purchase')
      GROUP BY CAST(ts AS DATE)),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             list_sort(list(struct_pack(t := t, x := x, y := y))) AS rows_
      FROM d),
    ab AS (
      SELECT n, rows_,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS beta,
             (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS alpha
      FROM s),
    e AS (
      SELECT n, beta, alpha,
             list_transform(rows_, r -> CAST(r.y AS DOUBLE)
                                        - alpha - beta * r.x) AS ev
      FROM ab),
    f AS (
      SELECT n, beta, alpha, ev,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(2, len(ev) + 1),
                              i -> ev[i] * ev[i - 1])),
               (acc, v) -> acc + v) AS s_ee1,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(ev[:len(ev)-1], v -> v * v)),
               (acc, v) -> acc + v) AS s_e2
      FROM e)
    SELECT CAST(n AS BIGINT) AS n_days,
           round(beta, 6) AS beta,
           round(alpha, 6) AS alpha,
           round(s_ee1 / s_e2, 6) AS resid_rho1
    FROM f
    """,
    description=(
        "Engle-Granger cointegration readout on the daily (view, "
        "purchase) value series — the econometrics classic for an "
        "economic-news pipeline: step 1 fits y = α + βx by OLS with "
        "EXACT 128-bit integer moments (one int→double cast per "
        "moment, then an identical five-op float sequence for α, β "
        "both engines); step 2 computes the residual lag-1 "
        "autocorrelation ρ = Σe_t·e_{t−1} / Σe²_{t−1} — the "
        "DF-regression statistic whose distance below 1 is the "
        "mean-reversion evidence (ρ≈1 ⇒ residuals random-walk ⇒ NOT "
        "cointegrated). Residual sums are ORDERED single-accumulator "
        "array folds over the day-sorted series (the sorted-array "
        "recipe; DuckDB multi-field struct folds are unreliable — "
        "queries_r8c), so every float op has one fixed sequence. "
        "Shape: one daily rollup; everything else is ≤366-element "
        "array arithmetic on one row"
    ),
    tags=("events", "statistics", "timeseries"),
)
def evt_cointegration_lite(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("view", "purchase")
    )
    d = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("t")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "view", F.col("value_c")).otherwise(0)
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value_c")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("y"),
    )
    dec = "decimal(38,0)"
    s = d.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.array_sort(
            F.collect_list(F.struct(F.col("t"), F.col("x"), F.col("y")))
        ).alias("rows_"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ab = s.select(
        "n",
        "rows_",
        beta.alias("beta"),
        (
            (
                F.col("sy").cast("double")
                - beta * F.col("sx").cast("double")
            )
            / F.col("n").cast("double")
        ).alias("alpha"),
    )
    e = ab.select(
        "n",
        "beta",
        "alpha",
        F.transform(
            F.col("rows_"),
            lambda r: r["y"].cast("double")
            - F.col("alpha")
            - F.col("beta") * r["x"],
        ).alias("ev"),
    )

    def fold_sum(arr):
        return F.aggregate(
            arr, F.lit(0.0), lambda acc, v: acc + v
        )

    n_ev = F.size("ev")
    f = e.select(
        "n",
        "beta",
        "alpha",
        fold_sum(
            F.zip_with(
                F.slice(F.col("ev"), 2, n_ev - 1),
                F.slice(F.col("ev"), 1, n_ev - 1),
                lambda a, b: a * b,
            )
        ).alias("s_ee1"),
        fold_sum(
            F.transform(
                F.slice(F.col("ev"), 1, n_ev - 1), lambda v: v * v
            )
        ).alias("s_e2"),
    )
    return f.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round("beta", 6).alias("beta"),
        F.round("alpha", 6).alias("alpha"),
        F.round(F.col("s_ee1") / F.col("s_e2"), 6).alias("resid_rho1"),
    )
