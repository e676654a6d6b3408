"""Round-4 query registry: the partition-pruned merge upsert (S9 at
scale) and the JVM hot-path twin of the robust-stats UDAF.

All follow the determinism contract in ``registry`` — integer-exact
aggregation, identical division trees, deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import cents, fan_out, keyed_events, t
from .registry import register


@register(
    "evt_upsert_merge_partitioned",
    oracle="""
    WITH base AS (
      SELECT event_id, ts, user_id, event_type,
             CAST(ts AS DATE) AS event_date,
             CAST(round(value*100) AS BIGINT) AS value_c
      FROM events),
    existing AS (
      SELECT * FROM base WHERE event_id % 5 <> 0),
    incoming AS (
      SELECT event_id, ts, user_id, event_type, event_date,
             value_c + 1 AS value_c
      FROM base
      WHERE event_id % 3 = 0 AND EXTRACT(day FROM ts) >= 20),
    touched AS (SELECT DISTINCT event_date FROM incoming),
    unioned AS (
      SELECT e.event_id, e.ts, e.user_id, e.event_type, e.event_date,
             e.value_c, 0 AS pri
      FROM existing e
      WHERE e.event_date IN (SELECT event_date FROM touched)
      UNION ALL
      SELECT i.event_id, i.ts, i.user_id, i.event_type, i.event_date,
             i.value_c, 1 AS pri
      FROM incoming i),
    merged AS (
      SELECT user_id, event_type, event_date, event_id, value_c,
             row_number() OVER (
               PARTITION BY user_id, event_type, event_date
               ORDER BY pri DESC, ts DESC, event_id DESC) AS rn
      FROM unioned)
    SELECT user_id, event_type, event_date, event_id, value_c
    FROM merged WHERE rn = 1
    UNION ALL
    SELECT user_id, event_type, event_date, event_id, value_c
    FROM existing
    WHERE event_date NOT IN (SELECT event_date FROM touched)
    """,
    description=(
        "partition-pruned incremental merge (S9 at scale, PUSH:175-188 "
        "semantics): an incremental batch (every 3rd event from the last "
        "third of the month, values bumped +1¢ to prove incoming wins) "
        "merges into the existing table (every event off the 5-grid) — "
        "keep-newest-per-(user,event_type,day) runs ONLY over the "
        "partitions the batch touches, while untouched days pass through "
        "without entering the dedup shuffle at all. This is the plan "
        "shape that makes monthly ingest O(batch) instead of O(table) at "
        "100 TB: bounded distinct() on the partition column, pruned "
        "read-back, untouched partitions' files carried by reference "
        "(write side: sources/txn.py merge_upsert, one atomic commit; "
        "its equality with this relational core is asserted by "
        "test_merge_upsert_partition_pruned)"
    ),
    tags=("events", "upsert", "merge", "partitioning"),
)
def evt_upsert_merge_partitioned(spark, sf_dir):
    from ..operators.upsert import merge_upsert_partitioned

    base = keyed_events(spark, sf_dir).withColumn("event_date", F.to_date("ts"))
    existing = base.filter(F.col("event_id") % 5 != 0)
    incoming = (
        base.filter(
            (F.col("event_id") % 3 == 0) & (F.dayofmonth("ts") >= 20)
        )
        .withColumn("value_c", F.col("value_c") + 1)
    )
    result, _ = merge_upsert_partitioned(
        existing,
        incoming,
        key=("user_id", "event_type", "event_date"),
        recency_col="ts",
        tie_cols=("event_id",),
        partition_col="event_date",
    )
    return result.select(
        "user_id", "event_type", "event_date", "event_id", "value_c"
    )


@register(
    "evt_series_mad_fast",
    oracle="""
    WITH v AS (
      SELECT user_id, event_type, event_id,
             CAST(round(value*100) AS BIGINT) AS value_c
      FROM events WHERE value IS NOT NULL),
    r AS (
      SELECT user_id, event_type, value_c,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY value_c, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type) AS n
      FROM v),
    med AS (
      SELECT user_id, event_type,
             min(CASE WHEN rn = (n+1) // 2 THEN value_c END) AS med_c,
             CAST(max(n) AS BIGINT) AS n
      FROM r GROUP BY user_id, event_type),
    dev AS (
      SELECT v.user_id, v.event_type,
             abs(v.value_c - m.med_c) AS d,
             row_number() OVER (PARTITION BY v.user_id, v.event_type
                                ORDER BY abs(v.value_c - m.med_c)) AS rn,
             count(*) OVER (PARTITION BY v.user_id, v.event_type) AS nn
      FROM v JOIN med m ON v.user_id = m.user_id
                       AND v.event_type = m.event_type)
    SELECT d.user_id, d.event_type, m.n,
           CAST(m.med_c AS BIGINT) AS med_c,
           CAST(min(CASE WHEN d.rn = (d.nn+1) // 2 THEN d.d END) AS BIGINT)
             AS mad_c
    FROM dev d JOIN med m ON d.user_id = m.user_id
                         AND d.event_type = m.event_type
    GROUP BY d.user_id, d.event_type, m.n, m.med_c
    """,
    description=(
        "per-series nearest-rank median + MAD, pure JVM (the hot-path "
        "twin of the GROUPED_AGG pandas-UDAF seam): double row_number "
        "construction — rank values per series, pick rank (n+1) div 2 "
        "for the median (an actual element, never interpolated), join "
        "the median back on the series key (same partitioning as the "
        "window → no extra exchange) and rank absolute deviations for "
        "the MAD. Whole-stage codegen end to end, no Python workers, no "
        "per-group Arrow round-trips — the form for 10⁶+ series; the "
        "UDAF demo stays as a tested API seam "
        "(tests/test_operators.py::test_series_mad_udaf_matches_fast)"
    ),
    tags=("events", "window", "robust-stats"),
)
def evt_series_mad_fast(spark, sf_dir):
    from ..operators.grouped import series_robust_stats_fast

    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    return series_robust_stats_fast(
        ev,
        key=("user_id", "event_type"),
        value_col="value_c",
        tie_col="event_id",
    )


@register(
    "emb_ivfpq_residual_topk",
    oracle=None,  # iteratively-fit residual codebooks + IVF probing: no
    # SQL form; retrieval quality gated by test_ivfpq_recall_at_k (≥0.6)
    description=(
        "IVF-PQ with RESIDUAL encoding + exact re-rank — the quality "
        "form of the billion-vector serving shape at the SAME candidate "
        "set: corpus residuals (v − cell centroid, map-side zip_with "
        "against the broadcast centroid join) are PQ-encoded so the "
        "code budget covers the within-cell distribution instead of "
        "the whole space; per-(query, probed-cell) residual ADC lookup "
        "rows ride one tiny broadcast keyed by (query_id, cell); the "
        "integer ADC ordering shortlists top-R per query and only that "
        "shortlist gets exact float L2 against real vectors (|q|·R "
        "distances — ADC error decides ranks below R, never the final "
        "top-k). Measured recall@5 on the fixture: 0.39 plain → 0.65 "
        "residual+re-rank at identical code size and nprobe"
    ),
    tags=("embeddings", "similarity", "pq", "ivf", "rerank"),
)
def emb_ivfpq_residual_topk(spark, sf_dir):
    from ..operators.pq import ivfpq_topk_residual, train_codebooks_residual
    from ..operators.similarity import _as_double

    emb = t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    books = train_codebooks_residual(emb, centroids, m=16, k=32)
    return ivfpq_topk_residual(
        emb, books, centroids,
        encode_partitions=spark.sparkContext.defaultParallelism,
    )


@register(
    "doc_pii_scrub",
    oracle=r"""
    WITH injected AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN
               text || ' contact user' || doc_id || '@example.com or +1 555-000-'
                    || (doc_id % 9973) || ' at 10.0.' || (doc_id % 256) || '.'
                    || ((doc_id // 7) % 256)
             ELSE text END AS t
      FROM documents),
    counted AS (
      SELECT doc_id, t,
        CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        CAST(len(regexp_extract_all(t, '\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]+')) AS INT) AS n_phone,
        CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ipv4
      FROM injected)
    SELECT doc_id, n_email, n_phone, n_ipv4,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]+', '<PHONE>', 'g'),
                 '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IPV4>', 'g')
           ) AS scrub_digest
    FROM counted
    """,
    description=(
        "PII scrub (pre-training corpus hygiene): deterministic PII "
        "injection on every 7th doc (emails/phones/IPv4s derived from "
        "doc_id so the fixture exercises nonzero redactions), then one "
        "map-only count+redact pass per pattern — JVM regex, no shuffle, "
        "linear in corpus bytes; the scrubbed text is digested so the "
        "oracle hash-checks the exact redaction output"
    ),
    tags=("documents", "text", "scrub"),
)
def doc_pii_scrub(spark, sf_dir):
    from ..operators.textops import pii_scrub

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com or +1 555-000-"),
                (F.col("doc_id") % 9973).cast("string"),
                F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"),
                F.lit("."), ((F.col("doc_id") / 7).cast("bigint") % 256).cast("string"),
            ),
        ).otherwise(F.col("text")).alias("t"),
    )
    scrubbed = pii_scrub(injected, text_col="t")
    return scrubbed.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.md5(F.col("t")).alias("scrub_digest"),
    )


@register(
    "doc_pack_sequences",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, source,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
      FROM documents),
    tok AS (
      SELECT doc_id, source,
             CAST(len(string_split(nt, ' ')) AS BIGINT) AS n_tokens
      FROM norm),
    cum AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tb
      FROM tok)
    SELECT doc_id, source, n_tokens,
           CAST(floor(tb / 128.0) AS BIGINT) AS pack_id,
           CAST(tb % 128 AS BIGINT) AS pack_offset
    FROM cum
    """,
    description=(
        "greedy streaming sequence packing: fixed-capacity (128-token) "
        "training bins assigned by a window cumsum WITHIN each source "
        "shard — the padding-free batching step of a training-data "
        "pipeline; per-shard packing is the scale shape (no global "
        "order, the shard is the parallelism unit)"
    ),
    tags=("documents", "text", "packing"),
)
def doc_pack_sequences(spark, sf_dir):
    from ..operators.textops import pack_sequences

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    return pack_sequences(docs, max_tokens=128, group_col="source")


@register(
    "emb_semantic_dedup",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents AS (
      SELECT vec_id AS cid, e AS cv FROM v
      WHERE vec_id < GREATEST(2, LEAST(4096,
              (SELECT COUNT(*) FROM embeddings) // 250))),
    sims AS (
      SELECT v.vec_id, c.cid,
             round(list_cosine_similarity(v.e, c.cv), 6) AS s
      FROM v CROSS JOIN cents c),
    assigned AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cid ASC) AS rn
        FROM sims) WHERE rn = 1),
    dropped AS (
      SELECT DISTINCT b.vec_id AS did
      FROM assigned a
      JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
      WHERE round(list_cosine_similarity(va.e, vb.e), 6) >= 0.3)
    SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
           CAST(CASE WHEN d.did IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM assigned a LEFT JOIN dropped d ON d.did = a.vec_id
    """,
    description=(
        "SemDeDup-style semantic dedup: nearest-centroid cell assignment "
        "(map-only literal-centroid argmax), near-dup comparison ONLY "
        "within a cell (equi-join on cell — the clustering trick that "
        "turns all-pairs O(n²) into Σ|cell|²), drop the higher id of any "
        "pair with cosine ≥ 0.3 (keep-lowest survivor rule). The cell "
        "count scales WITH the corpus (n/250, floor 2, cap 4096) exactly "
        "as SemDeDup scales its cluster count — fixed cells measured "
        "24.5× at 10× data (within-cell pairs grow (n/c)²); scaled cells "
        "keep |cell| constant, making the compare Σ|cell|² ≈ n·|cell| "
        "linear. Beyond the cap, production swaps the literal dictionary "
        "for hierarchical/IVF assignment"
    ),
    tags=("embeddings", "similarity", "dedup"),
)
def emb_semantic_dedup(spark, sf_dir):
    from ..operators.pq import _centroid_rows
    from ..operators.similarity import _as_double, semantic_dedup

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    k_cells = max(2, min(4096, emb.count() // 250))
    centroids = emb.filter(F.col("vec_id") < k_cells).select(
        F.col("vec_id").alias("centroid_id"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    return semantic_dedup(emb, _centroid_rows(centroids), threshold=0.3)


def _register_lsh_selective():
    # deferred so queries_ext's SQL fragments are importable without a
    # circular import at package-init time
    from .queries_ext import _SQL_MINHASH_AGGS, _SQL_SHINGLES

    @register(
        "doc_minhash_lsh_selective",
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
          SELECT doc_id, 0 AS band,
                 mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3 AS bkey FROM sig
          UNION ALL
          SELECT doc_id, 1,
                 mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7 FROM sig),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        SELECT id_a, id_b FROM pairs
        """,
        description=(
            "the LSH corpus-growth knob, runnable: SAME 8 minhashes as "
            "doc_minhash_lsh_candidates but banded 2×4 instead of 4×2 — "
            "r=4 band keys collide on s⁴ not s², so false-positive "
            "candidates stop tracking n². Measured on the sf1 probe: "
            "candidates 829→41,939 (51×) at r=2 vs 249→1,703 (6.8×, "
            "sub-linear) at r=4. Production grows r (and adds bands to "
            "hold recall ≈ 1-(1-s^r)^b) as the corpus grows; SCALE.md "
            "'Measured sf0.1 → sf1 scaling'"
        ),
        tags=("documents", "dedup", "lsh"),
    )
    def doc_minhash_lsh_selective(spark, sf_dir):
        from ..operators.dedup import lsh_candidate_pairs, minhash_signatures_mapside

        docs = fan_out(spark, t(spark, sf_dir, "documents"))
        sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
        return lsh_candidate_pairs(sig, bands=2, rows_per_band=4)


_register_lsh_selective()


@register(
    "doc_stratified_split",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents)
    SELECT doc_id, lang,
           CASE WHEN rn * 10 <= n * 8 THEN 'train'
                WHEN rn * 10 <= n * 9 THEN 'val'
                ELSE 'test' END AS split
    FROM ranked
    """,
    description=(
        "stratified 80/10/10 split BY LANGUAGE: docs ranked inside each "
        "stratum by md5(doc_id) (a deterministic pseudo-random order — "
        "both engines hash identically) and cut at exact per-stratum "
        "proportions, so every language keeps its 80/10/10 regardless of "
        "corpus mix — the split a multilingual training set needs "
        "(global hash sampling under-represents small languages' "
        "val/test). Integer-exact cuts (rn·10 ≤ n·8, no float "
        "thresholds); the window shuffles once on the stratum key, "
        "strata are the parallelism unit. Completes the split family: "
        "chronological (evt_chrono_split), uniform hash "
        "(evt_hash_sample), k-fold (emb_kfold_assign), stratified"
    ),
    tags=("documents", "split", "sampling"),
)
def doc_stratified_split(spark, sf_dir):
    from pyspark.sql import Window

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("lang")
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.select(
        "doc_id",
        "lang",
        F.when(F.col("rn") * 10 <= F.col("n") * 8, F.lit("train"))
        .when(F.col("rn") * 10 <= F.col("n") * 9, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def _register_pagerank():
    # deferred import of queries_ext's SQL fragments (same pattern as
    # the selective-LSH registration above)
    from .queries_ext import _SQL_MINHASH_AGGS, _SQL_SHINGLES

    # 5 fixed iterations, all-integer state: pr quantized to micro-units
    # (pr0 = 1_000_000), per-node contribution = pr div out_degree
    # (INTEGER division — both engines truncate identically), damping
    # 0.85 applied as (85·Σ) div 100. Bit-exact across engines by
    # construction; no floats anywhere in the iteration.
    _ITERS = 5

    def _iter_sql(i: int) -> str:
        prev = f"pr{i - 1}"
        return f"""
    pr{i} AS (
      SELECT n.doc_id,
             150000 + (85 * COALESCE(SUM(p.pr // d.deg), 0)) // 100 AS pr
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.doc_id
      LEFT JOIN {prev} p ON p.doc_id = e.src
      LEFT JOIN deg d ON d.doc_id = e.src
      GROUP BY n.doc_id)"""

    @register(
        "doc_pagerank_authority",
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
        nodes AS (SELECT doc_id FROM documents),
        deg AS (SELECT src AS doc_id, count(*) AS deg FROM edges GROUP BY src),
        pr0 AS (SELECT doc_id, 1000000 AS pr FROM nodes),
        {",".join(_iter_sql(i) for i in range(1, _ITERS + 1))}
        SELECT doc_id, CAST(pr AS BIGINT) AS pr_u
        FROM pr{_ITERS}
        """,
        description=(
            "integer-quantized PageRank (5 fixed iterations, damping "
            "0.85) over the symmetric MinHash-LSH near-dup graph — the "
            "link-based document-authority score a corpus-quality "
            "pipeline derives from its duplicate structure. All-integer "
            "state (micro-unit pr, contribution = pr div out_degree, "
            "damping as (85·Σ) div 100) makes every iteration bit-exact "
            "across engines, so the whole iterative computation "
            "hash-checks against chained CTEs — same determinism "
            "treatment as the CC/k-means family. Per iteration: one "
            "broadcast-or-shuffle join of the edge list to the rank "
            "vector + one sum agg on dst; the plan is 5 fixed stages, "
            "no driver-side loop state"
        ),
        tags=("documents", "dedup", "graph", "iterative"),
    )
    def doc_pagerank_authority(spark, sf_dir):
        from ..operators.dedup import lsh_candidate_pairs, minhash_signatures_mapside

        docs = fan_out(spark, t(spark, sf_dir, "documents"))
        sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
        pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
        edges = (
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            .unionByName(
                pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
            )
            .distinct()
            # localCheckpoint, not persist (r13): persist reuses the
            # DATA but keeps the whole LSH lineage in the logical plan,
            # so every iteration's join re-embedded and re-analyzed it —
            # pure plan-building overhead per round. The lazy checkpoint
            # truncates the plan to an RDD scan and still runs the LSH
            # chain exactly once (materialized by the first action).
            # TRADE (§5): checkpoint blocks live in executor storage —
            # under executor loss / dynamic allocation the truncated
            # lineage is unrecoverable; a cluster run should use
            # reliable checkpoint() to a checkpoint dir instead.
            .localCheckpoint(eager=False)
        )
        # id list for the damping term: a fresh column-pruned scan, NOT
        # the fan_out'ed docs frame — the repartition exchange is for
        # the shingling compute and has no business under a 1-column
        # id readout that re-runs every iteration (r13)
        nodes = t(spark, sf_dir, "documents").select("doc_id")
        deg = edges.groupBy(F.col("src").alias("doc_id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        e_with_deg = edges.join(
            deg.select(F.col("doc_id").alias("src"), "deg"), "src"
        ).localCheckpoint(eager=False)

        pr = nodes.select("doc_id", F.lit(1000000).cast("bigint").alias("pr"))
        for _ in range(_ITERS):
            # one aggregate per round (r13): incoming contributions
            # unioned with a zero row per node, single sum — replaces
            # the old groupBy-then-left-join-to-nodes, which shuffled
            # the |nodes| frame a second time each round (guide §2.4).
            # sum(contribs ∪ {0}) ≡ coalesce(sum(contribs), 0), so the
            # integer damping arithmetic is unchanged bit-for-bit.
            contrib_rows = e_with_deg.join(
                pr.select(F.col("doc_id").alias("src"), "pr"), "src"
            ).select(
                F.col("dst").alias("doc_id"),
                F.expr("pr div deg").alias("contrib"),
            )
            zero_rows = nodes.select(
                "doc_id", F.lit(0).cast("bigint").alias("contrib")
            )
            pr = (
                contrib_rows.unionByName(zero_rows)
                .groupBy("doc_id")
                .agg(F.sum("contrib").alias("s"))
                .select(
                    "doc_id",
                    (
                        F.lit(150000) + F.expr("85 * s div 100")
                    ).cast("bigint").alias("pr"),
                )
                # cut the lineage every round: without this the final plan
                # nests all 5 iterations (measured 74 exchanges / 46
                # scans in the executed plan); the checkpointed state is
                # |nodes| rows of two longs
                .localCheckpoint(eager=False)
            )
        return pr.select("doc_id", F.col("pr").alias("pr_u"))

_register_pagerank()


@register(
    "doc_bigram_lm_score",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents),
    big AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2),
    bd AS (
      SELECT doc_id, w1, w2, count(*) AS cd FROM big
      WHERE w1 <> '' AND w2 <> '' GROUP BY doc_id, w1, w2),
    cc AS (
      SELECT doc_id, cd,
             sum(cd) OVER (PARTITION BY w1, w2) AS c2,
             sum(cd) OVER (PARTITION BY w1) AS c1
      FROM bd),
    terms AS (
      SELECT doc_id, cd,
             CAST(round(ln(CAST(c2 AS DOUBLE) / c1) * 1000000) AS BIGINT) AS lp_u
      FROM cc)
    SELECT doc_id,
           CAST(sum(cd) AS BIGINT) AS n_bigrams,
           CAST(sum(cd * lp_u) AS BIGINT) AS logprob_sum_u,
           round(CAST(sum(cd * lp_u) AS DOUBLE) / sum(cd) / 1000000.0, 6)
             AS avg_logprob
    FROM terms GROUP BY doc_id
    """,
    description=(
        "bigram-LM document scoring (the CCNet-style perplexity filter "
        "one step up from the unigram LM): per-doc average log "
        "p(w2|w1), with the conditional MLE c(w1,w2)/c(w1·) taken from "
        "the corpus's own bigram statistics. BOTH corpus counts are "
        "window sums over the single per-doc bigram aggregate (c2 over "
        "the (w1,w2) partition, the context marginal c1 over w1) — one "
        "token-pair explode feeds everything, no dictionary join-back, "
        "no second lineage; log terms micro-int quantized so the "
        "per-doc sums are exact integers cross-engine"
    ),
    tags=("documents", "text", "lm"),
)
def doc_bigram_lm_score(spark, sf_dir):
    from pyspark.sql import Window

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    d = docs.select("doc_id", toks.alias("t"))
    idx = F.sequence(F.lit(0), F.size("t") - 2)
    pairs = (
        d.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("t", i + 1).alias("w1"),
                        F.element_at("t", i + 2).alias("w2"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    bd = pairs.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("cd"))
    cc = bd.withColumn(
        "c2", F.sum("cd").over(Window.partitionBy("w1", "w2"))
    ).withColumn("c1", F.sum("cd").over(Window.partitionBy("w1")))
    lp_u = (
        F.round(F.log(F.col("c2").cast("double") / F.col("c1")) * 1000000)
        .cast("bigint")
    )
    terms = cc.select("doc_id", "cd", lp_u.alias("lp_u"))
    return terms.groupBy("doc_id").agg(
        F.sum("cd").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("cd") * F.col("lp_u")).cast("bigint").alias("logprob_sum_u"),
        F.round(
            F.sum(F.col("cd") * F.col("lp_u")).cast("double")
            / F.sum("cd")
            / F.lit(1000000.0),
            6,
        ).alias("avg_logprob"),
    )


@register(
    "rel_forecast_revenue",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(coalesce(sum(
             CAST(round(l_extendedprice*100) AS BIGINT)
             * CAST(round(l_discount*100) AS BIGINT)), 0) AS BIGINT)
             AS revenue_c3
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND CAST(round(l_discount*100) AS BIGINT) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
    description=(
        "TPC-H Q6 forecasting-revenue-change: the pure scan-side query "
        "— three pushable predicates (ship-date year, discount band, "
        "quantity cap) over ONE table and a single global sum, no join, "
        "no shuffle beyond the final 1-row aggregate. At 100 TB this is "
        "the query that proves predicate pushdown + column pruning: the "
        "parquet scan reads 4 of 16 columns and row-group min/max stats "
        "skip everything outside 1995 when the table is date-sorted "
        "(sinks.save_sorted). Revenue in exact c3 integer units "
        "(price-cents x discount-hundredths)"
    ),
    tags=("relational", "scan", "aggregate"),
)
def rel_forecast_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    dc = cents("l_discount")
    sel = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & dc.between(5, 7)
        & (F.col("l_quantity") < 24)
    )
    return sel.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.coalesce(F.sum(cents("l_extendedprice") * dc), F.lit(0))
        .cast("bigint")
        .alias("revenue_c3"),
    )


@register(
    "doc_chunk_dedup",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents),
    chunks AS (
      SELECT doc_id, CAST(u.s AS INT) AS start,
             array_to_string(
               list_slice(t, u.s + 1, least(u.s + 20, len(t))), ' ') AS ctext
      FROM toks, unnest(range(0, len(t), 20)) AS u(s)
      WHERE len(t) > 0 AND t != ['']),
    ranked AS (
      SELECT doc_id, start, ctext,
             row_number() OVER (PARTITION BY md5(ctext)
                                ORDER BY doc_id, start) AS rn
      FROM chunks)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(ctext, ' ' ORDER BY start)
                      FILTER (WHERE rn = 1), '') AS cleaned_text
    FROM ranked GROUP BY doc_id
    """,
    description=(
        "C4/RefinedWeb-style duplicate-SPAN removal across the whole "
        "corpus: every doc is cut into non-overlapping 20-token chunks, "
        "a chunk survives only at its FIRST corpus occurrence "
        "(lexicographic (doc_id, start) — deterministic winner), and "
        "each doc is reassembled from its surviving chunks in order. "
        "This is the step between whole-doc exact dedup and MinHash "
        "near-dedup: boilerplate paragraphs shared by thousands of "
        "pages vanish even when no two full documents match. Plan: "
        "map-side chunking (sequence+slice+explode, no shuffle), ONE "
        "hash-partitioned window on md5(chunk) to crown first "
        "occurrences (vs per-hash min-struct agg + join-back: same "
        "shuffle count, and AQE splits skewed boilerplate hashes), one "
        "doc_id aggregate to reassemble. Chunk hashes shuffle ~|corpus| "
        "rows of (hash, ids) — never the text twice: the chunk text "
        "stays attached to its row, no dictionary join-back"
    ),
    tags=("documents", "text", "dedup", "chunking"),
)
def doc_chunk_dedup(spark, sf_dir, chunk: int = 20):
    from pyspark.sql import Window

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    d = docs.select("doc_id", toks.alias("t")).filter(
        (F.size("t") > 0) & ~((F.size("t") == 1) & (F.element_at("t", 1) == ""))
    )
    ch = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(chunk))
        ).alias("start"),
        F.col("t"),
    ).select(
        "doc_id",
        F.col("start").cast("int").alias("start"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("t"),
                F.col("start") + 1,
                F.least(F.lit(chunk), F.size("t") - F.col("start")),
            ),
        ).alias("ctext"),
    )
    w = Window.partitionBy(F.md5("ctext")).orderBy("doc_id", "start")
    ranked = ch.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("start"), F.col("ctext"))
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum((F.col("rn") == 1).cast("int")).cast("bigint").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s.ctext
            ),
        ).alias("cleaned_text"),
    )


def _mh_agree_sql() -> str:
    from ..operators.dedup import MINHASH_SEEDS

    return " + ".join(
        f"(CASE WHEN a.mh{k} = b.mh{k} THEN 1 ELSE 0 END)"
        for k in range(len(MINHASH_SEEDS))
    )


def _corpus_overlap_oracle() -> str:
    from .queries_ext import _SQL_MINHASH_AGGS

    return rf"""
    WITH toks AS (
      SELECT source,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT source, array_to_string(list_slice(t, i, i+2), ' ') AS shingle
      FROM toks, unnest(range(1, len(t)-1)) AS u(i)
      WHERE len(t) >= 3),
    sizes AS (SELECT source, count(*) AS sz FROM sh GROUP BY source),
    common AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2),
    hh AS (
      SELECT source,
             CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h
      FROM sh),
    sig AS (SELECT source, {_SQL_MINHASH_AGGS} FROM hh GROUP BY source)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
           CAST(coalesce(c.c, 0) AS BIGINT) AS n_common,
           round(coalesce(c.c, 0)
                 / CAST(sa.sz + sb.sz - coalesce(c.c, 0) AS DOUBLE), 6)
             AS jaccard,
           CAST({_mh_agree_sql()} AS BIGINT) AS mh_agree
    FROM sig a JOIN sig b ON a.source < b.source
    JOIN sizes sa ON sa.source = a.source
    JOIN sizes sb ON sb.source = b.source
    LEFT JOIN common c ON c.src_a = a.source AND c.src_b = b.source
    """


@register(
    "doc_corpus_overlap",
    oracle=_corpus_overlap_oracle(),
    description=(
        "corpus-vs-corpus contamination matrix: for every source pair, "
        "the EXACT distinct-shingle Jaccard plus the corpus-level "
        "MinHash agreement (each source's signature = coordinate-wise "
        "min over ALL its shingles — a mergeable sketch: partial mins "
        "combine map-side, so at 100 TB each coordinate costs one "
        "8-long row per mapper, and cross-CORPUS overlap needs no "
        "cross-corpus join at all). The exact side uses the inverted "
        "index, never a corpus cross-join: per-shingle posting list of "
        "sources (bounded by |sources| per shingle), ordered pairs "
        "exploded from the list (≤ sources² rows per shingle), counted "
        "— the sh self-join in the oracle is the same computation "
        "DuckDB-side. Pair frame is |sources|², always broadcastable. "
        "The distinct-shingle frame feeds three aggregations (sizes, "
        "postings, signatures) and is persisted once instead of "
        "re-shingling the corpus thrice (MEMORY_AND_DISK; at 100 TB "
        "this is the standard cache-or-recompute trade — the frame is "
        "~|corpus| rows of (source, shingle) and each recompute is a "
        "full scan + explode, so one materialization wins at 3 uses)"
    ),
    tags=("documents", "dedup", "minhash", "contamination"),
)
def doc_corpus_overlap(spark, sf_dir):
    from ..operators.dedup import (
        MINHASH_SEEDS,
        _base_hash,
        _uhash,
        shingles,
    )

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sh = (
        shingles(docs, n=3, id_col="source")
        .groupBy("source", "shingle")
        .agg(F.lit(1))
        .select("source", "shingle")
    )
    # sh feeds THREE separate aggregations (sizes, posting lists,
    # signatures) and Spark has no CSE across DataFrame references —
    # unpersisted, the corpus is re-scanned and re-shingled three times
    # (the r4→r5 bench regression on this query). Distinct-shingle rows
    # are the genuine second-lineage case: persist once, reuse thrice
    # (plan_audit.py fix-pattern #4).
    sh = sh.persist()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    # inverted index: per-shingle posting list of sources → ordered pairs
    pres = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    # the posting-list size is projected below the lambda, which would
    # otherwise recompute it once per element
    pair_expr = (
        "flatten(transform(srcs, (a, i) -> "
        "transform(slice(srcs, i + 2, n_srcs), "
        "b -> struct(a AS src_a, b AS src_b))))"
    )
    inter = (
        pres.select("srcs", F.size("srcs").alias("n_srcs"))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hs = sh.select("source", _base_hash(F.col("shingle")).alias("h"))
    sig = hs.groupBy("source").agg(
        *[
            F.min(_uhash(F.col("h"), k)).alias(f"mh{k}")
            for k in range(len(MINHASH_SEEDS))
        ]
    )
    a = sig.alias("a")
    b = sig.alias("b")
    agree = sum(
        F.when(F.col(f"a.mh{k}") == F.col(f"b.mh{k}"), 1).otherwise(0)
        for k in range(len(MINHASH_SEEDS))
    )
    pairs = (
        a.join(F.broadcast(b), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            agree.cast("bigint").alias("mh_agree"),
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")
                        .withColumnRenamed("sz", "sz_a")),
            "src_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "src_b")
                        .withColumnRenamed("sz", "sz_b")),
            "src_b",
        )
        .join(F.broadcast(inter), ["src_a", "src_b"], "left")
        .withColumn("n_common", F.coalesce(F.col("c"), F.lit(0)))
    )
    return pairs.select(
        "src_a",
        "src_b",
        F.col("sz_a").cast("bigint").alias("sz_a"),
        F.col("sz_b").cast("bigint").alias("sz_b"),
        F.col("n_common").cast("bigint").alias("n_common"),
        F.round(
            F.col("n_common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast(
                "double"
            ),
            6,
        ).alias("jaccard"),
        "mh_agree",
    )


@register(
    "emb_sq_topk",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    a AS (SELECT max(list_max(list_transform(e, x -> abs(x)))) AS A FROM v),
    qz AS (
      SELECT vec_id,
             list_transform(e, x ->
               CAST(round(x * 127.0 / A) AS BIGINT)) AS qe
      FROM v, a),
    sc AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_dot_product(q.qe::DOUBLE[], c.qe::DOUBLE[]) AS BIGINT)
               AS iscore
      FROM qz q JOIN qz c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
    short AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY iscore DESC, neighbor_id ASC) AS srn
      FROM sc),
    rr AS (
      SELECT s.query_id, s.neighbor_id,
             round(list_cosine_similarity(qv.e, cv.e), 6) AS cosine_sim
      FROM short s
      JOIN v qv ON qv.vec_id = s.query_id
      JOIN v cv ON cv.vec_id = s.neighbor_id
      WHERE s.srn <= 12),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
      FROM rr)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
    description=(
        "int8 scalar-quantization ANN with exact re-rank: corpus max-|x| "
        "scale (one tiny aggregate, stored with the index in practice), "
        "map-only symmetric quantization to 8-bit codes, INTEGER dot "
        "product against broadcast quantized queries for the full "
        "candidate scan (4x less memory bandwidth than float, zero FP "
        "divergence between engines), top-12 integer shortlist per "
        "query, then exact float cosine on the shortlist only — the "
        "float path touches |queries|·12 rows however big the corpus "
        "is. The deterministic integer candidate order makes this the "
        "one ANN variant that is hash-exact cross-engine end to end "
        "(operators/similarity.py::sq_topk)"
    ),
    tags=("embeddings", "similarity", "quantization", "rerank"),
)
def emb_sq_topk(spark, sf_dir):
    from ..operators.similarity import sq_topk

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    return sq_topk(emb, k=5, shortlist=12, n_queries=10)


@register(
    "stream_unmatched_views",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
    p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    wm AS (
      SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p))
             - INTERVAL 1 HOUR AS w),
    ev AS (
      SELECT v.* FROM v, wm WHERE v.ts + INTERVAL 2 DAY < wm.w),
    um AS (
      SELECT e.user_id, e.event_id FROM ev e
      WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = e.user_id
          AND p.ts >= e.ts
          AND p.ts <= e.ts + INTERVAL 2 DAY))
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_unmatched_views,
           CAST(sum(event_id) AS BIGINT) AS view_id_checksum
    FROM um GROUP BY user_id
    """,
    description=(
        "stream-stream LEFT OUTER interval join, anti projection: "
        "views with NO purchase by the same user within 2 days (the "
        "funnel-abandonment stream; Spark has no stream-stream LEFT "
        "ANTI, so it is the outer join filtered to null-extended "
        "rows). An unmatched view emits only when the GLOBAL watermark "
        "— min of both sides' max-event-time minus the 1 h delay — "
        "passes view_ts + horizon, so the final horizon+delay window "
        "is withheld as still-unresolved; the oracle applies the "
        "IDENTICAL cutoff (ts + 2 days < min(max_view, max_purchase) "
        "− 1 h), making the drain hash-exact. State is bounded by the "
        "same TTLs as the semi form; row-level output drains through "
        "foreachBatch partials (streaming/ingest.py::"
        "stream_view_purchase_unmatched)"
    ),
    tags=("streaming", "join", "outer-join"),
)
def stream_unmatched_views(spark, sf_dir):
    from ..streaming.ingest import stream_view_purchase_unmatched

    return stream_view_purchase_unmatched(spark, sf_dir)


@register(
    "doc_length_batching",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
               AS n_tok
      FROM documents),
    bucketed AS (
      SELECT doc_id, source, n_tok, CAST(n_tok // 32 AS INT) AS bucket,
             row_number() OVER (PARTITION BY source, n_tok // 32
                                ORDER BY n_tok DESC, doc_id ASC) AS rn
      FROM toks),
    batches AS (
      SELECT source, bucket, CAST((rn - 1) // 8 AS INT) AS batch_id,
             count(*) AS n_docs, max(n_tok) AS max_len, sum(n_tok) AS sum_len
      FROM bucketed GROUP BY source, bucket, (rn - 1) // 8)
    SELECT source, bucket, batch_id,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(max_len AS BIGINT) AS max_len,
           CAST(sum_len AS BIGINT) AS sum_len,
           CAST(max_len * n_docs - sum_len AS BIGINT) AS padding_waste
    FROM batches
    """,
    description=(
        "length-bucketed dynamic batching (the padding-minimizing "
        "batcher in every LLM training loader): docs bucket by "
        "token-length div 32, batches of 8 form WITHIN (source, "
        "bucket) by descending length, and each batch reports its "
        "padding waste = max_len·n − Σlen (the tokens the GPU pads). "
        "Sharding by source is the production shape — batching is "
        "shard-local, so the window partitions by (shard, bucket), "
        "never a global sort, and the skew of one popular length "
        "range is divided across shards. One shuffle total; token "
        "counts are map-side array lengths, the text itself never "
        "shuffles"
    ),
    tags=("documents", "text", "batching", "training"),
)
def doc_length_batching(spark, sf_dir, bucket_width: int = 32, batch: int = 8):
    from pyspark.sql import Window

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    d = docs.select(
        "doc_id", "source", F.size(toks).cast("bigint").alias("n_tok")
    ).withColumn(
        "bucket", (F.col("n_tok") / bucket_width).cast("int")
    )
    w = Window.partitionBy("source", "bucket").orderBy(
        F.col("n_tok").desc(), F.col("doc_id").asc()
    )
    b = d.withColumn(
        "batch_id", ((F.row_number().over(w) - 1) / batch).cast("int")
    )
    return b.groupBy("source", "bucket", "batch_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("n_tok").cast("bigint").alias("max_len"),
        F.sum("n_tok").cast("bigint").alias("sum_len"),
        (F.max("n_tok") * F.count(F.lit(1)) - F.sum("n_tok"))
        .cast("bigint")
        .alias("padding_waste"),
    )


def _incremental_dedup_oracle() -> str:
    from .queries_ext import _SQL_MINHASH_AGGS, _SQL_SHINGLES

    return f"""
    WITH {_SQL_SHINGLES},
    hh AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h
      FROM sh),
    sig AS (SELECT doc_id, {_SQL_MINHASH_AGGS} FROM hh GROUP BY doc_id),
    banded AS (
      SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bkey FROM sig
      UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
      UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig
      UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig),
    cand AS (
      SELECT DISTINCT i.doc_id, o.doc_id AS match_id
      FROM banded i JOIN banded o
        ON i.band = o.band AND i.bkey = o.bkey
       AND i.doc_id % 5 = 0
       AND o.doc_id <> i.doc_id
       AND (o.doc_id % 5 <> 0 OR o.doc_id < i.doc_id)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_id, c.match_id, count(*) AS c
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_id
      JOIN sh b ON b.doc_id = c.match_id AND b.shingle = a.shingle
      GROUP BY c.doc_id, c.match_id),
    verified AS (
      SELECT cm.doc_id, cm.match_id
      FROM common cm
      JOIN sizes sa ON sa.doc_id = cm.doc_id
      JOIN sizes sb ON sb.doc_id = cm.match_id
      WHERE cm.c / CAST(sa.sz + sb.sz - cm.c AS DOUBLE) >= 0.5),
    ce AS (
      SELECT doc_id, count(*) AS n_candidates FROM cand GROUP BY doc_id),
    de AS (
      SELECT doc_id, count(*) AS n_dups, min(match_id) AS best_match
      FROM verified GROUP BY doc_id),
    inc AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0)
    SELECT i.doc_id,
           CAST(coalesce(ce.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(de.n_dups, 0) AS BIGINT) AS n_dups,
           CAST(de.best_match AS BIGINT) AS best_match,
           (de.doc_id IS NOT NULL) AS is_dup
    FROM inc i
    LEFT JOIN ce ON ce.doc_id = i.doc_id
    LEFT JOIN de ON de.doc_id = i.doc_id
    """


@register(
    "doc_incremental_dedup",
    oracle=_incremental_dedup_oracle(),
    description=(
        "incremental batch-vs-index dedup — the PRODUCTION dedup flow "
        "(an indexed corpus exists; each ingest batch checks itself "
        "against it): incoming docs (id on the 5-grid) LSH-band-join "
        "against the index AND against already-accepted (lower-id) "
        "batch peers, candidates get exact Jaccard ≥ 0.5 verification "
        "restricted to the candidate pairs, and every incoming doc "
        "reports (n_candidates, n_dups, best_match, is_dup). The scale "
        "property this shape buys: per batch, only |batch| signatures "
        "are computed fresh — the index side's band table is a "
        "MATERIALIZED artifact in production (bucketed by band key, so "
        "the probe reads only matching buckets); nothing ever joins "
        "index-vs-index, and the verify join touches candidate pairs "
        "only, never the corpus cross product"
    ),
    tags=("documents", "dedup", "lsh", "incremental"),
)
def doc_incremental_dedup(spark, sf_dir, threshold: float = 0.5):
    from ..operators.dedup import (
        minhash_signatures_mapside,
        shingles,
    )

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8).repartition(
        "doc_id"
    )
    bands, rows = 4, 2
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[F.col(f"mh{b * rows + r}") for r in range(rows)],
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bkey")
    # probe side: incoming only; build side: the whole band table (the
    # index's banded signatures are a stored artifact in production)
    i = banded.filter(F.col("doc_id") % 5 == 0).alias("i")
    o = banded.alias("o")
    cand = (
        i.join(
            o,
            (F.col("i.band") == F.col("o.band"))
            & (F.col("i.bkey") == F.col("o.bkey"))
            & (F.col("o.doc_id") != F.col("i.doc_id"))
            & (
                (F.col("o.doc_id") % 5 != 0)
                | (F.col("o.doc_id") < F.col("i.doc_id"))
            ),
        )
        .select(
            F.col("i.doc_id").alias("doc_id"),
            F.col("o.doc_id").alias("match_id"),
        )
        .distinct()
        # cand feeds TWO consumers (the n_candidates aggregate and the
        # exact-verify chain); unchecked, the band self-join re-runs per
        # consumer — r14 plan audit read 18 parquet scans for this
        # query. Candidate pairs are the LSH-bounded small frame, the
        # textbook checkpoint case (plan_audit fix-pattern #4).
        # TRADE (§5): localCheckpoint blocks live in executor storage;
        # a cluster run would use reliable checkpoint() instead.
        .localCheckpoint()
    )
    # sh feeds THREE consumers (sizes + both verify sides); one
    # materialization instead of three corpus re-shingles — the same
    # discipline as doc_minhash_estimate_error's sh checkpoint (r5).
    sh = shingles(docs, n=3).withColumn(
        "_shash", F.xxhash64("shingle")
    ).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # verify ONLY candidates: hash-join candidate pairs to both shingle
    # sides (8-byte keys), count the intersection per pair
    sa = sh.select(F.col("doc_id"), F.col("_shash"))
    sb = sh.select(
        F.col("doc_id").alias("_m"), F.col("_shash").alias("_shash_b")
    )
    common = (
        cand.join(sa, "doc_id")
        .join(
            sb,
            (F.col("match_id") == F.col("_m"))
            & (F.col("_shash") == F.col("_shash_b")),
        )
        .groupBy("doc_id", "match_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    verified = (
        common.join(
            sizes.select(F.col("doc_id"), F.col("sz").alias("sz_a")), "doc_id"
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("match_id"), F.col("sz").alias("sz_b")
            ),
            "match_id",
        )
        .filter(
            F.col("c")
            / (F.col("sz_a") + F.col("sz_b") - F.col("c")).cast("double")
            >= threshold
        )
        .select("doc_id", "match_id")
    )
    ce = cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    de = verified.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("match_id").alias("best_match"),
    )
    # fresh 1-column pruned scan for the incoming-id list, NOT the
    # fan_out'ed docs frame: the round-robin repartition belongs to the
    # shingling compute, and under the left joins below the ids get
    # re-hashed anyway — the plan showed a back-to-back RoundRobin +
    # hash Exchange pair for a 1-column readout (r14; same fix as
    # pagerank's node list in r13, guide §2.4).
    inc = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 5 == 0)
    )
    out = (
        inc.join(ce, "doc_id", "left")
        .join(de.withColumnRenamed("doc_id", "_d"), inc.doc_id == F.col("_d"), "left")
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_candidates"), F.lit(0))
        .cast("bigint")
        .alias("n_candidates"),
        F.coalesce(F.col("n_dups"), F.lit(0)).cast("bigint").alias("n_dups"),
        F.col("best_match").cast("bigint").alias("best_match"),
        F.col("_d").isNotNull().alias("is_dup"),
    )


_HOLT_DEPTH = 10


def _holt_oracle() -> str:
    lvl_num, lvl_den, tr_num, tr_den = [], [], [], []
    for j in range(_HOLT_DEPTH):
        wt = 1 << (_HOLT_DEPTH - 1 - j)
        lvl_num.append(f"coalesce(lag(value_c, {j}) OVER w * {wt}, 0)")
        lvl_den.append(
            f"CASE WHEN lag(value_c, {j}) OVER w IS NOT NULL THEN {wt} ELSE 0 END"
        )
        d = f"(lag(value_c, {j}) OVER w - lag(value_c, {j + 1}) OVER w)"
        tr_num.append(f"coalesce({d} * {wt}, 0)")
        tr_den.append(f"CASE WHEN {d} IS NOT NULL THEN {wt} ELSE 0 END")
    return f"""
    WITH v AS (
      SELECT user_id, event_type, event_id,
             CAST(round(value*100) AS BIGINT) AS value_c
      FROM events WHERE value IS NOT NULL),
    sm AS (
      SELECT user_id, event_type, event_id,
             CAST({" + ".join(lvl_num)} AS BIGINT) AS lvl_num,
             CAST({" + ".join(lvl_den)} AS BIGINT) AS lvl_den,
             CAST({" + ".join(tr_num)} AS BIGINT) AS tr_num,
             CAST({" + ".join(tr_den)} AS BIGINT) AS tr_den
      FROM v
      WINDOW w AS (PARTITION BY user_id, event_type
                   ORDER BY event_id ASC))
    SELECT user_id, event_type, event_id, lvl_num, lvl_den, tr_num, tr_den,
           round((CAST(lvl_num AS DOUBLE) / lvl_den) / 100.0, 6) AS level,
           round((CAST(tr_num AS DOUBLE) / nullif(tr_den, 0)) / 100.0, 6)
             AS trend,
           round((CAST(lvl_num AS DOUBLE) / lvl_den) / 100.0
                 + (CAST(tr_num AS DOUBLE) / nullif(tr_den, 0)) / 100.0, 6)
             AS forecast_next
    FROM sm
    """


@register(
    "evt_holt_smoothing",
    oracle=_holt_oracle(),
    description=(
        "truncated Holt double-exponential smoothing per series — the "
        "level + trend forecaster one step up from the EWMA: level is "
        "the dyadic-weight EWMA of the last 10 values, trend the same "
        "EWMA over FIRST DIFFERENCES, and forecast_next = level + "
        "trend (the one-step-ahead Holt forecast the reference's "
        "monthly economic series would use as a baseline). All "
        "numerators/denominators are exact integers in any aggregation "
        "order (dyadic weights 2^9..2^0, presence-weighted ragged "
        "starts, difference terms null until two observations exist); "
        "only the final divisions are float, with identical trees both "
        "engines. Shape: one shuffle on the series key; 21 stacked "
        "lags share ONE window spec → Catalyst emits a single window "
        "operator"
    ),
    tags=("events", "window", "timeseries", "forecast"),
)
def evt_holt_smoothing(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("event_id").asc()
    )
    lvl_num = lvl_den = tr_num = tr_den = None
    for j in range(_HOLT_DEPTH):
        wt = 1 << (_HOLT_DEPTH - 1 - j)
        lagged = F.lag("value_c", j).over(w)
        d = F.lag("value_c", j).over(w) - F.lag("value_c", j + 1).over(w)
        ln = F.coalesce(lagged * wt, F.lit(0))
        ld = F.when(lagged.isNotNull(), wt).otherwise(0)
        tn = F.coalesce(d * wt, F.lit(0))
        td = F.when(d.isNotNull(), wt).otherwise(0)
        lvl_num = ln if lvl_num is None else lvl_num + ln
        lvl_den = ld if lvl_den is None else lvl_den + ld
        tr_num = tn if tr_num is None else tr_num + tn
        tr_den = td if tr_den is None else tr_den + td
    sm = ev.select(
        "user_id",
        "event_type",
        "event_id",
        lvl_num.cast("bigint").alias("lvl_num"),
        lvl_den.cast("bigint").alias("lvl_den"),
        tr_num.cast("bigint").alias("tr_num"),
        tr_den.cast("bigint").alias("tr_den"),
    )
    level_raw = (F.col("lvl_num").cast("double") / F.col("lvl_den")) / F.lit(
        100.0
    )
    trend_raw = (
        F.col("tr_num").cast("double") / F.nullif(F.col("tr_den"), F.lit(0))
    ) / F.lit(100.0)
    return sm.select(
        "*",
        F.round(level_raw, 6).alias("level"),
        F.round(trend_raw, 6).alias("trend"),
        F.round(level_raw + trend_raw, 6).alias("forecast_next"),
    )


@register(
    "evt_seasonal_profile",
    oracle="""
    WITH v AS (
      SELECT user_id, event_type,
             CAST(EXTRACT(isodow FROM ts) AS INT) AS dow,
             CAST(round(value*100) AS BIGINT) AS value_c
      FROM events WHERE value IS NOT NULL),
    g AS (
      SELECT user_id, event_type, dow, value_c,
             sum(value_c) OVER w AS sum_c,
             count(*) OVER w AS cnt
      FROM v
      WINDOW w AS (PARTITION BY user_id, event_type, dow))
    SELECT user_id, event_type, dow,
           CAST(max(cnt) AS BIGINT) AS cnt,
           CAST(max(sum_c) AS BIGINT) AS sum_c,
           round((CAST(max(sum_c) AS DOUBLE) / max(cnt)) / 100.0, 6)
             AS seasonal_mean,
           CAST(sum(abs(cnt * value_c - sum_c)) AS BIGINT) AS absdev_num,
           round((CAST(sum(abs(cnt * value_c - sum_c)) AS DOUBLE)
                  / (max(cnt) * max(cnt))) / 100.0, 6) AS mae
    FROM g GROUP BY user_id, event_type, dow
    """,
    description=(
        "seasonal baseline profile — the seasonal-naive forecaster's "
        "fit table: per (series, ISO day-of-week) mean plus the "
        "in-sample MAE of forecasting every observation by its "
        "seasonal mean. Integer-exactness trick: within a dow cell "
        "the denominator is constant, so Σ|cnt·value − Σvalue| is an "
        "exact integer (the float mean never enters the deviation "
        "sum); mae = that / cnt² at the very end. Shape: ONE shuffle — "
        "the window partition (series, dow) and the final groupBy "
        "share the same key, so the aggregate rides the window's "
        "exchange"
    ),
    tags=("events", "window", "timeseries", "forecast"),
)
def evt_seasonal_profile(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    v = ev.select(
        "user_id",
        "event_type",
        F.dayofweek(F.col("ts")).alias("_dw"),
        "value_c",
    ).withColumn(
        # Spark dayofweek: 1=Sunday..7=Saturday → ISO 1=Monday..7=Sunday
        "dow",
        F.when(F.col("_dw") == 1, 7).otherwise(F.col("_dw") - 1).cast("int"),
    )
    w = Window.partitionBy("user_id", "event_type", "dow")
    g = v.select(
        "user_id",
        "event_type",
        "dow",
        "value_c",
        F.sum("value_c").over(w).alias("sum_c"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    return g.groupBy("user_id", "event_type", "dow").agg(
        F.max("cnt").cast("bigint").alias("cnt"),
        F.max("sum_c").cast("bigint").alias("sum_c"),
        F.round(
            (F.max("sum_c").cast("double") / F.max("cnt")) / F.lit(100.0), 6
        ).alias("seasonal_mean"),
        F.sum(F.abs(F.col("cnt") * F.col("value_c") - F.col("sum_c")))
        .cast("bigint")
        .alias("absdev_num"),
        F.round(
            (
                F.sum(
                    F.abs(F.col("cnt") * F.col("value_c") - F.col("sum_c"))
                ).cast("double")
                / (F.max("cnt") * F.max("cnt"))
            )
            / F.lit(100.0),
            6,
        ).alias("mae"),
    )


@register(
    "evt_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    tr AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type),
    tot AS (
      SELECT prev_type, sum(n) AS row_tot FROM tr GROUP BY prev_type)
    SELECT t.prev_type, t.next_type,
           CAST(t.n AS BIGINT) AS n,
           CAST(tot.row_tot AS BIGINT) AS row_tot,
           round(CAST(t.n AS DOUBLE) / tot.row_tot, 6) AS p
    FROM tr t JOIN tot ON tot.prev_type = t.prev_type
    """,
    description=(
        "first-order Markov transition matrix over per-user event "
        "sequences — the user-journey model behind next-action "
        "prediction and funnel diagnostics: lag(event_type) within "
        "each user's (ts, event_id) order, global (prev → next) "
        "counts, row-normalized transition probabilities. Shape: one "
        "shuffle on user_id for the sequence window, then the "
        "transition aggregate collapses to |types|² rows — the "
        "row-total join runs on that tiny frame (broadcast). At scale "
        "the user window is the only real cost and it is the same "
        "partitioning every per-user feature already pays"
    ),
    tags=("events", "window", "sequence", "markov"),
)
def evt_markov_transitions(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    tr = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # row totals via a window over the |types|²-row aggregate — ONE
    # lineage (a groupBy+join-back would re-derive tr from the corpus
    # twice: Spark has no automatic CSE across DataFrame references)
    row_tot = F.sum("n").over(Window.partitionBy("prev_type"))
    return tr.select(
        "prev_type",
        "next_type",
        F.col("n").cast("bigint").alias("n"),
        row_tot.cast("bigint").alias("row_tot"),
        F.round(
            F.col("n").cast("double") / row_tot.cast("double"), 6
        ).alias("p"),
    )


@register(
    "evt_chisq_independence",
    oracle="""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS INT) AS variant, event_type,
             CAST(count(*) AS BIGINT) AS observed
      FROM events GROUP BY user_id % 2, event_type),
    m AS (
      SELECT variant, event_type, observed,
             sum(observed) OVER (PARTITION BY variant) AS row_tot,
             sum(observed) OVER (PARTITION BY event_type) AS col_tot,
             sum(observed) OVER () AS n
      FROM cells)
    SELECT variant, event_type, observed,
           CAST(row_tot AS BIGINT) AS row_tot,
           CAST(col_tot AS BIGINT) AS col_tot,
           round(CAST(row_tot AS DOUBLE) * col_tot / n, 6) AS expected,
           round(
             (observed - CAST(row_tot AS DOUBLE) * col_tot / n)
             * (observed - CAST(row_tot AS DOUBLE) * col_tot / n)
             / (CAST(row_tot AS DOUBLE) * col_tot / n), 6) AS chi2_term
    FROM m
    """,
    description=(
        "chi-square independence decomposition (the A/B experimentation "
        "primitive): variant = user_id parity, contingency cells of "
        "variant × event_type, expected counts from the margin "
        "products, and the PER-CELL chi² contribution — emitted "
        "per cell rather than globally summed, so every output value "
        "has an order-independent expression tree (a cross-cell float "
        "sum would be aggregation-order-dependent; the analyst sums "
        "the 2×|types| rounded terms, or reads which cells drive the "
        "effect — the more useful view anyway). Shape: one aggregate "
        "to |variants|·|types| rows, then margins via windows over "
        "that TINY frame — zero further data movement"
    ),
    tags=("events", "aggregate", "statistics", "ab-test"),
)
def evt_chisq_independence(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.col("user_id") % 2).cast("int").alias("variant"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("observed"))
    m = cells.select(
        "variant",
        "event_type",
        "observed",
        F.sum("observed").over(Window.partitionBy("variant")).alias("row_tot"),
        F.sum("observed")
        .over(Window.partitionBy("event_type"))
        .alias("col_tot"),
        F.sum("observed").over(Window.partitionBy()).alias("n"),
    )
    expected_raw = (
        F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    )
    return m.select(
        "variant",
        "event_type",
        "observed",
        F.col("row_tot").cast("bigint").alias("row_tot"),
        F.col("col_tot").cast("bigint").alias("col_tot"),
        F.round(expected_raw, 6).alias("expected"),
        F.round(
            (F.col("observed") - expected_raw)
            * (F.col("observed") - expected_raw)
            / expected_raw,
            6,
        ).alias("chi2_term"),
    )


@register(
    "evt_quantile_normalize",
    oracle="""
    WITH v AS (
      SELECT user_id, event_type, event_id,
             CAST(round(value*100) AS BIGINT) AS value_c
      FROM events WHERE value IS NOT NULL),
    r AS (
      SELECT user_id, event_type, event_id, value_c,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY value_c, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type) AS n
      FROM v),
    g AS (
      SELECT row_number() OVER (ORDER BY value_c, event_id) AS gr,
             value_c AS norm_c
      FROM v),
    tot AS (SELECT count(*) AS big_n FROM v)
    SELECT r.user_id, r.event_type, r.event_id, r.value_c,
           CAST(r.rn AS BIGINT) AS rn, CAST(r.n AS BIGINT) AS n,
           CAST(g.norm_c AS BIGINT) AS norm_c
    FROM r, tot
    JOIN g ON g.gr = (r.rn * tot.big_n + r.n - 1) // r.n
    """,
    description=(
        "quantile normalization — map every series onto the GLOBAL "
        "value distribution by rank matching (nearest-rank upper: "
        "global index ceil(rn·N/n), exact integer arithmetic "
        "(rn·N + n−1) div n), the cross-series calibration step that "
        "makes heterogeneous sensors comparable. Plan: a per-series "
        "rank window, a global order-statistic table (rank → value), "
        "and an equi-join on the computed index. The global "
        "row_number IS a global sort — fine at profile SF; at 100 TB "
        "the order-statistic table is built from approx quantiles or "
        "a range-partitioned rank (zero-skew two-pass), and the join "
        "key logic is unchanged — documented seam, same contract as "
        "evt_chrono_split's quantile scale form"
    ),
    tags=("events", "window", "normalize", "quantile"),
)
def evt_quantile_normalize(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    v = ev.select("user_id", "event_type", "event_id", "value_c")
    ws = Window.partitionBy("user_id", "event_type").orderBy(
        "value_c", "event_id"
    )
    wn = Window.partitionBy("user_id", "event_type")
    r = v.select(
        "user_id",
        "event_type",
        "event_id",
        "value_c",
        F.row_number().over(ws).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    wg = Window.orderBy("value_c", "event_id")
    g = v.select(
        F.row_number().over(wg).cast("bigint").alias("gr"),
        F.col("value_c").alias("norm_c"),
    )
    big_n = v.agg(F.count(F.lit(1)).cast("bigint").alias("big_n"))
    idx = (F.col("rn") * F.col("big_n") + F.col("n") - 1) / F.col("n")
    joined = (
        r.crossJoin(F.broadcast(big_n))
        .withColumn("_k", F.floor(idx).cast("bigint"))
        .join(g, F.col("_k") == F.col("gr"))
    )
    return joined.select(
        "user_id",
        "event_type",
        "event_id",
        "value_c",
        "rn",
        "n",
        F.col("norm_c").cast("bigint").alias("norm_c"),
    )


@register(
    "evt_welch_ttest",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value*100) AS BIGINT) AS x
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x*x) AS BIGINT) AS sxx
      FROM v GROUP BY event_type),
    w AS (
      SELECT
        max(CASE WHEN event_type = 'view' THEN n END) AS n1,
        max(CASE WHEN event_type = 'view' THEN sx END) AS s1,
        max(CASE WHEN event_type = 'view' THEN sxx END) AS q1,
        max(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
        max(CASE WHEN event_type = 'purchase' THEN sx END) AS s2,
        max(CASE WHEN event_type = 'purchase' THEN sxx END) AS q2
      FROM s)
    SELECT n1, n2, s1, s2, q1, q2,
           round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 100.0, 6)
             AS mean_diff,
           round(
             (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
             / sqrt(
                 (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
                   / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))
                 + (CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2)
                   / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))),
             6) AS t_stat
    FROM w
    """,
    description=(
        "Welch two-sample t-test (view vs purchase values) — the "
        "unequal-variance experiment readout: per-group sufficient "
        "statistics (n, Σx, Σx²) are EXACT integers from one "
        "map-side-combined aggregate (the only corpus pass; "
        "mergeable, so at 100 TB this is partial-agg + 2-row "
        "combine), then mean difference and the t statistic are "
        "single fixed float expression trees over six integers — "
        "variance via the n·Σx² − (Σx)² form, never a second "
        "deviation pass. One shuffle of two 3-long rows"
    ),
    tags=("events", "aggregate", "statistics", "ab-test"),
)
def evt_welch_ttest(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("view", "purchase")
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("value_c").cast("bigint").alias("sx"),
        F.sum(F.col("value_c") * F.col("value_c")).cast("bigint").alias("sxx"),
    )
    w = s.agg(
        F.max(F.when(F.col("event_type") == "view", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "view", F.col("sx"))).alias("s1"),
        F.max(F.when(F.col("event_type") == "view", F.col("sxx"))).alias("q1"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("n"))).alias(
            "n2"
        ),
        F.max(F.when(F.col("event_type") == "purchase", F.col("sx"))).alias(
            "s2"
        ),
        F.max(F.when(F.col("event_type") == "purchase", F.col("sxx"))).alias(
            "q2"
        ),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    var1 = (
        F.col("n1").cast("double") * F.col("q1")
        - F.col("s1").cast("double") * F.col("s1")
    ) / (F.col("n1").cast("double") * F.col("n1") * (F.col("n1") - 1))
    var2 = (
        F.col("n2").cast("double") * F.col("q2")
        - F.col("s2").cast("double") * F.col("s2")
    ) / (F.col("n2").cast("double") * F.col("n2") * (F.col("n2") - 1))
    return w.select(
        "n1",
        "n2",
        "s1",
        "s2",
        "q1",
        "q2",
        F.round((m1 - m2) / F.lit(100.0), 6).alias("mean_diff"),
        F.round((m1 - m2) / F.sqrt(var1 + var2), 6).alias("t_stat"),
    )


@register(
    "evt_benford_audit",
    oracle="""
    WITH v AS (
      SELECT CAST(substring(CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR), 1, 1)
             AS INT) AS d
      FROM events
      WHERE value IS NOT NULL AND CAST(round(value*100) AS BIGINT) > 0),
    obs AS (
      SELECT d, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY d),
    tot AS (SELECT sum(n) AS big_n FROM obs)
    SELECT o.d, o.n,
           round(CAST(o.n AS DOUBLE) / tot.big_n, 6) AS observed_p,
           round(log10(1.0 + 1.0 / o.d), 6) AS benford_p,
           round(CAST(o.n AS DOUBLE) / tot.big_n
                 - log10(1.0 + 1.0 / o.d), 6) AS deviation
    FROM obs o, tot
    """,
    description=(
        "Benford first-digit audit — the forensic data-quality check "
        "for economic/financial feeds (fabricated or unit-mangled "
        "series betray themselves in the leading-digit law): "
        "first digit of the positive cent values, observed share vs "
        "log10(1 + 1/d), per-digit deviation. Shape: map-side digit "
        "extraction (string head of the integer — no log/pow on the "
        "hot path), one 9-row aggregate, scalar total broadcast. The "
        "entire corpus cost is the one count-by-digit pass"
    ),
    tags=("events", "aggregate", "quality", "audit"),
)
def evt_benford_audit(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & (F.col("value_c") > 0)
    )
    v = ev.select(
        F.substring(F.col("value_c").cast("string"), 1, 1)
        .cast("int")
        .alias("d")
    )
    obs = v.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = obs.agg(F.sum("n").alias("big_n"))
    op = F.col("n").cast("double") / F.col("big_n")
    bp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            F.round(op, 6).alias("observed_p"),
            F.round(bp, 6).alias("benford_p"),
            F.round(op - bp, 6).alias("deviation"),
        )
    )


def _acf_oracle() -> str:
    cols = []
    for k in (1, 2, 3):
        y = f"lag(value_c, {k}) OVER w"
        p = f"CASE WHEN {y} IS NOT NULL THEN"
        cols.append(
            f"""
             CAST(sum({p} 1 ELSE 0 END) AS BIGINT) AS n{k},
             CAST(sum({p} value_c ELSE 0 END) AS BIGINT) AS sx{k},
             CAST(sum(coalesce({y}, 0)) AS BIGINT) AS sy{k},
             CAST(sum(coalesce(value_c * {y}, 0)) AS BIGINT) AS sxy{k},
             CAST(sum({p} value_c * value_c ELSE 0 END) AS BIGINT) AS sxx{k},
             CAST(sum(coalesce({y} * {y}, 0)) AS BIGINT) AS syy{k}"""
        )
        r = (
            f"round((CAST(n{k} AS DOUBLE) * sxy{k} - CAST(sx{k} AS DOUBLE) * sy{k})"
            f" / nullif(sqrt(CAST(n{k} AS DOUBLE) * sxx{k} - CAST(sx{k} AS DOUBLE) * sx{k})"
            f" * sqrt(CAST(n{k} AS DOUBLE) * syy{k} - CAST(sy{k} AS DOUBLE) * sy{k}), 0), 6)"
            f" AS r{k}"
        )
        cols.append(None)  # placeholder, r-exprs go in outer select
        cols[-1] = r
    inner = ",".join(c for c in cols if c.startswith("\n"))
    outer = ", ".join(c for c in cols if not c.startswith("\n"))
    return f"""
    WITH v AS (
      SELECT user_id, event_type, event_id,
             CAST(round(value*100) AS BIGINT) AS value_c
      FROM events WHERE value IS NOT NULL),
    lagged AS (
      SELECT user_id, event_type, value_c,
             lag(value_c, 1) OVER w AS y1,
             lag(value_c, 2) OVER w AS y2,
             lag(value_c, 3) OVER w AS y3
      FROM v
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY event_id ASC)),
    s AS (
      SELECT user_id, event_type,{inner.replace("lag(value_c, 1) OVER w", "y1").replace("lag(value_c, 2) OVER w", "y2").replace("lag(value_c, 3) OVER w", "y3")}
      FROM lagged GROUP BY user_id, event_type)
    SELECT user_id, event_type, n1, n2, n3, {outer}
    FROM s
    """


@register(
    "evt_autocorrelation",
    oracle=_acf_oracle(),
    description=(
        "per-series autocorrelation function at lags 1–3 (the ACF "
        "diagnostic every forecaster reads before picking a model): "
        "aligned (x_t, x_{t−k}) pairs from stacked lags in ONE window "
        "operator, then six EXACT-integer sufficient statistics per "
        "lag (n, Σx, Σy, Σxy, Σx², Σy² — conditional on pair "
        "presence, so ragged series starts are correct) in one "
        "aggregate riding the window's exchange; Pearson r per lag is "
        "a single fixed float tree over the integers with "
        "zero-variance guarded by nullif. One shuffle total"
    ),
    tags=("events", "window", "timeseries", "statistics"),
)
def evt_autocorrelation(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("event_id").asc()
    )
    lagged = ev.select(
        "user_id",
        "event_type",
        "value_c",
        *[F.lag("value_c", k).over(w).alias(f"y{k}") for k in (1, 2, 3)],
    )
    aggs = []
    for k in (1, 2, 3):
        y = F.col(f"y{k}")
        present = y.isNotNull()
        x = F.col("value_c")
        aggs += [
            F.sum(F.when(present, 1).otherwise(0)).cast("bigint").alias(f"n{k}"),
            F.sum(F.when(present, x).otherwise(0)).cast("bigint").alias(f"sx{k}"),
            F.sum(F.coalesce(y, F.lit(0))).cast("bigint").alias(f"sy{k}"),
            F.sum(F.coalesce(x * y, F.lit(0))).cast("bigint").alias(f"sxy{k}"),
            F.sum(F.when(present, x * x).otherwise(0))
            .cast("bigint")
            .alias(f"sxx{k}"),
            F.sum(F.coalesce(y * y, F.lit(0))).cast("bigint").alias(f"syy{k}"),
        ]
    s = lagged.groupBy("user_id", "event_type").agg(*aggs)
    rs = []
    for k in (1, 2, 3):
        n, sx, sy, sxy, sxx, syy = (
            F.col(f"n{k}"),
            F.col(f"sx{k}"),
            F.col(f"sy{k}"),
            F.col(f"sxy{k}"),
            F.col(f"sxx{k}"),
            F.col(f"syy{k}"),
        )
        num = n.cast("double") * sxy - sx.cast("double") * sy
        den = F.sqrt(n.cast("double") * sxx - sx.cast("double") * sx) * F.sqrt(
            n.cast("double") * syy - sy.cast("double") * sy
        )
        rs.append(F.round(num / F.nullif(den, F.lit(0.0)), 6).alias(f"r{k}"))
    return s.select("user_id", "event_type", "n1", "n2", "n3", *rs)


@register(
    "doc_vocab_coverage",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      FROM documents),
    tf AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      FROM toks WHERE length(tok) > 0 GROUP BY tok),
    ranked AS (
      SELECT tok, cnt,
             row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rnk,
             sum(cnt) OVER (ORDER BY cnt DESC, tok ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(cnt) OVER () AS total
      FROM tf)
    SELECT CAST(rnk AS BIGINT) AS rnk, tok, cnt,
           CAST(cum AS BIGINT) AS cum_cnt,
           round(CAST(cum AS DOUBLE) / total, 6) AS coverage
    FROM ranked WHERE rnk <= 200
    """,
    description=(
        "vocabulary coverage curve — the tokenizer-design readout: "
        "corpus token frequencies, frequency-ranked, with the "
        "cumulative share of all corpus tokens covered by the top-V "
        "vocabulary (the curve that answers 'how big must the vocab "
        "be for 99% coverage / what OOV rate does a 32k vocab buy'). "
        "Plan: one token explode + count (the only corpus-sized "
        "shuffle), then ranking windows over the VOCAB-sized "
        "aggregate — the global order is over distinct tokens, not "
        "corpus rows (Zipf: vocab ≪ corpus), the same bounded-domain "
        "exemption as the PMI vocabulary"
    ),
    tags=("documents", "text", "vocabulary"),
)
def doc_vocab_coverage(spark, sf_dir, top: int = 200):
    from pyspark.sql import Window

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = F.explode(
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
        )
    ).alias("tok")
    tf = (
        docs.select(toks)
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wo = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    ranked = tf.select(
        "tok",
        "cnt",
        F.row_number().over(wo).cast("bigint").alias("rnk"),
        F.sum("cnt").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    return ranked.filter(F.col("rnk") <= top).select(
        "rnk",
        "tok",
        "cnt",
        F.col("cum").cast("bigint").alias("cum_cnt"),
        F.round(F.col("cum").cast("double") / F.col("total"), 6).alias(
            "coverage"
        ),
    )


@register(
    "mm_payload_dedup",
    oracle="""
    WITH m AS (
      SELECT doc_id AS asset_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             md5(text) AS content_hash,
             octet_length(encode(text)) AS n_bytes
      FROM documents),
    ranked AS (
      SELECT asset_id, media_type, content_hash,
             CAST(n_bytes AS BIGINT) AS n_bytes,
             row_number() OVER (PARTITION BY content_hash
                                ORDER BY asset_id ASC) AS rn,
             count(*) OVER (PARTITION BY content_hash) AS n_copies
      FROM m)
    SELECT asset_id, media_type, content_hash, n_bytes,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rn = 1
    """,
    description=(
        "exact media payload dedup — the asset-level dedup every "
        "multimodal corpus runs before any decode: content hash of the "
        "raw BYTES (md5 over the binary column — container metadata "
        "never parsed, identical files dedup across mimetypes/names), "
        "lowest asset_id survives, with the copy count kept for the "
        "popularity signal. Plan: hashing is map-side over payload "
        "bytes; the only shuffle carries (hash, id, meta) — 16-byte "
        "keys, never the payloads themselves (payload bytes stay in "
        "the scan stage, exactly what you want when assets are MBs)"
    ),
    tags=("multimodal", "dedup"),
)
def mm_payload_dedup(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.multimodal import documents_as_media

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    media = documents_as_media(docs)
    h = media.select(
        "asset_id",
        "media_type",
        F.md5("payload").alias("content_hash"),
        F.length("payload").cast("bigint").alias("n_bytes"),
    )
    w = Window.partitionBy("content_hash")
    ranked = h.select(
        "*",
        F.row_number()
        .over(w.orderBy(F.col("asset_id").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "asset_id",
        "media_type",
        "content_hash",
        "n_bytes",
        F.col("n_copies").cast("bigint").alias("n_copies"),
    )


@register(
    "evt_calendar_features",
    oracle="""
    SELECT event_id,
           CAST(EXTRACT(year FROM ts) AS INT) AS year,
           CAST(EXTRACT(quarter FROM ts) AS INT) AS quarter,
           CAST(EXTRACT(month FROM ts) AS INT) AS month,
           CAST(EXTRACT(day FROM ts) AS INT) AS day_of_month,
           CAST(EXTRACT(isodow FROM ts) AS INT) AS iso_dow,
           CAST(EXTRACT(week FROM ts) AS INT) AS iso_week,
           (EXTRACT(isodow FROM ts) >= 6) AS is_weekend,
           (CAST(ts AS DATE) = last_day(CAST(ts AS DATE))) AS is_month_end,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
           CAST((EXTRACT(hour FROM ts) * 4 + EXTRACT(minute FROM ts) // 15)
                AS INT) AS quarter_hour_slot
    FROM events
    """,
    description=(
        "calendar feature builder — the deterministic feature block "
        "every forecasting model gets for free (year/quarter/month/"
        "day, ISO weekday + week, weekend and month-end flags, hour "
        "and intraday quarter-hour slot for release-time effects). "
        "Entirely map-side column expressions: zero shuffles, zero "
        "joins, whole-stage codegen end to end — the shape feature "
        "pipelines should bias toward before anything stateful"
    ),
    tags=("events", "features", "calendar"),
)
def evt_calendar_features(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    iso_dow = (
        F.when(F.dayofweek("ts") == 1, 7)
        .otherwise(F.dayofweek("ts") - 1)
        .cast("int")
    )
    return ev.select(
        "event_id",
        F.year("ts").cast("int").alias("year"),
        F.quarter("ts").cast("int").alias("quarter"),
        F.month("ts").cast("int").alias("month"),
        F.dayofmonth("ts").cast("int").alias("day_of_month"),
        iso_dow.alias("iso_dow"),
        F.weekofyear("ts").cast("int").alias("iso_week"),
        (iso_dow >= 6).alias("is_weekend"),
        (F.to_date("ts") == F.last_day("ts")).alias("is_month_end"),
        F.hour("ts").cast("int").alias("hour"),
        (F.hour("ts") * 4 + F.floor(F.minute("ts") / 15))
        .cast("int")
        .alias("quarter_hour_slot"),
    )


@register(
    "evt_ks_drift",
    oracle="""
    WITH base AS (
      SELECT event_type, CAST(round(value*100) AS BIGINT) AS value_c,
             CASE WHEN EXTRACT(day FROM ts) >= 16 THEN 1 ELSE 0 END AS late
      FROM events),
    cnts AS (
      SELECT event_type, value_c,
             sum(CASE WHEN late = 0 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN late = 1 THEN 1 ELSE 0 END) AS c2
      FROM base GROUP BY event_type, value_c),
    cum AS (
      SELECT event_type, value_c,
             sum(c1) OVER (PARTITION BY event_type ORDER BY value_c) AS f1,
             sum(c2) OVER (PARTITION BY event_type ORDER BY value_c) AS f2,
             sum(c1) OVER (PARTITION BY event_type) AS n1,
             sum(c2) OVER (PARTITION BY event_type) AS n2
      FROM cnts)
    SELECT event_type,
           CAST(max(n1) AS BIGINT) AS n1,
           CAST(max(n2) AS BIGINT) AS n2,
           CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS ks_num,
           round(CAST(max(abs(f1 * n2 - f2 * n1)) AS DOUBLE)
                 / (max(n1) * max(n2)), 6) AS ks_stat,
           (CAST(max(abs(f1 * n2 - f2 * n1)) AS DOUBLE)
              / (max(n1) * max(n2))
            > 1.358 * sqrt(CAST(max(n1) + max(n2) AS DOUBLE)
                           / (CAST(max(n1) AS DOUBLE)
                              * CAST(max(n2) AS DOUBLE)))) AS drift
    FROM cum GROUP BY event_type
    """,
    description=(
        "two-sample Kolmogorov-Smirnov drift test per event_type "
        "(first half of the month vs second — the monitoring seam that "
        "catches distribution shift PSI's fixed bins smooth over). The "
        "KS numerator max|n2*F1(x) - n1*F2(x)| is computed entirely in "
        "integers over the POOLED distinct values, so the statistic is "
        "exact in any execution order; only the final /(n1*n2) and the "
        "alpha=0.05 critical-value comparison are doubles, written as "
        "identical expression trees in both engines. Shape: one "
        "(type,value) count agg collapses |rows| to |distinct values| "
        "BEFORE any window, then cumulative-sum windows on the tiny "
        "aggregated set, one final per-type agg. The ECDF never "
        "materializes per-row ranks over raw data — at 100 TB the agg "
        "is map-side-combined and the windows see vocab-sized input"
    ),
    tags=("events", "statistics", "drift"),
)
def evt_ks_drift(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir)
    base = ev.select(
        "event_type",
        "value_c",
        F.when(F.dayofmonth("ts") >= 16, 1).otherwise(0).alias("late"),
    )
    cnts = base.groupBy("event_type", "value_c").agg(
        F.sum(F.when(F.col("late") == 0, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("late") == 1, 1).otherwise(0)).alias("c2"),
    )
    w_cum = Window.partitionBy("event_type").orderBy("value_c")
    w_all = Window.partitionBy("event_type")
    cum = cnts.select(
        "event_type",
        F.sum("c1").over(w_cum).alias("f1"),
        F.sum("c2").over(w_cum).alias("f2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    agg = cum.groupBy("event_type").agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")))
        .alias("ks_num"),
    )
    ks = F.col("ks_num").cast("double") / (F.col("n1") * F.col("n2"))
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1").cast("double") * F.col("n2").cast("double"))
    )
    return agg.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("ks_num").cast("bigint").alias("ks_num"),
        F.round(ks, 6).alias("ks_stat"),
        (ks > crit).alias("drift"),
    )


#: Cramer's-rule solution of the 3x3 normal equations, written ONCE as
#: SQL text and evaluated by BOTH engines (Spark via ``F.expr``) so the
#: double expression trees are identical token for token — the
#: determinism contract's strongest form. a..f are the Gram matrix
#: entries, g/h/i the RHS; every input is an exact bigint sum cast to
#: double at the leaves.
_OLS_CRAMER = """
  CAST(n   AS DOUBLE) AS a, CAST(sx1 AS DOUBLE) AS b,
  CAST(sx2 AS DOUBLE) AS c, CAST(s11 AS DOUBLE) AS d,
  CAST(s12 AS DOUBLE) AS e, CAST(s22 AS DOUBLE) AS f,
  CAST(sy  AS DOUBLE) AS g, CAST(s1y AS DOUBLE) AS h,
  CAST(s2y AS DOUBLE) AS i
"""
_OLS_DET = "(a*(d*f - e*e) - b*(b*f - e*c) + c*(b*e - d*c))"
_OLS_B0 = "(g*(d*f - e*e) - b*(h*f - e*i) + c*(h*e - d*i))"
_OLS_B1 = "(a*(h*f - i*e) - g*(b*f - e*c) + c*(b*i - h*c))"
_OLS_B2 = "(a*(d*i - h*e) - b*(b*i - h*c) + g*(b*e - d*c))"


@register(
    "evt_ols_features",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(round(value*100) AS BIGINT) AS y,
             lag(CAST(round(value*100) AS BIGINT)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS x1,
             CAST(row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS BIGINT) AS x2
      FROM events),
    sums AS (
      SELECT user_id, event_type,
             count(*) AS n,
             sum(x1) AS sx1, sum(x2) AS sx2, sum(y) AS sy,
             sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
             sum(x1*y) AS s1y, sum(x2*y) AS s2y
      FROM base WHERE x1 IS NOT NULL
      GROUP BY user_id, event_type
      HAVING count(*) >= 8),
    gram AS (
      SELECT user_id, event_type, n, {_OLS_CRAMER}
      FROM sums)
    SELECT user_id, event_type,
           CAST(n AS BIGINT) AS n,
           round({_OLS_B0} / {_OLS_DET}, 6) AS intercept,
           round({_OLS_B1} / {_OLS_DET}, 6) AS beta_lag,
           round({_OLS_B2} / {_OLS_DET}, 6) AS beta_idx
    FROM gram
    WHERE {_OLS_DET} <> 0.0
    """,
    description=(
        "per-series two-feature OLS (y_t ~ 1 + y_(t-1) + t): the "
        "AR(1)-with-drift fit every series gets before model routing, "
        "solved in closed form by Cramer's rule on the 3x3 normal "
        "equations. The Gram matrix entries are EXACT bigint sums of "
        "cents products (max |sum| ~ 6e12 at sf1, far under 2^53), "
        "cast to double only at the determinant leaves; the Cramer "
        "polynomial is one shared SQL string evaluated by both engines "
        "(Spark via F.expr) so the IEEE-754 op sequence is identical "
        "token for token. Shape: ONE shuffle on the series key serves "
        "lag + row_number (same window spec), then a map-side-combined "
        "agg to 9 scalars per series — the regression itself costs "
        "nothing at any scale; no matrix library, no Python"
    ),
    tags=("events", "statistics", "regression"),
)
def evt_ols_features(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        "event_type",
        F.col("value_c").alias("y"),
        F.lag("value_c").over(w).alias("x1"),
        F.row_number().over(w).cast("bigint").alias("x2"),
    ).filter(F.col("x1").isNotNull())
    sums = (
        base.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x1").alias("sx1"),
            F.sum("x2").alias("sx2"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x1") * F.col("x1")).alias("s11"),
            F.sum(F.col("x1") * F.col("x2")).alias("s12"),
            F.sum(F.col("x2") * F.col("x2")).alias("s22"),
            F.sum(F.col("x1") * F.col("y")).alias("s1y"),
            F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        )
        .filter(F.col("n") >= 8)
    )
    gram = sums.select("user_id", "event_type", "n", F.expr(f"struct({_OLS_CRAMER})").alias("m")).select(
        "user_id", "event_type", "n", "m.*"
    )
    return gram.filter(F.expr(f"{_OLS_DET} <> 0.0")).select(
        "user_id",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.expr(f"{_OLS_B0} / {_OLS_DET}"), 6).alias("intercept"),
        F.round(F.expr(f"{_OLS_B1} / {_OLS_DET}"), 6).alias("beta_lag"),
        F.round(F.expr(f"{_OLS_B2} / {_OLS_DET}"), 6).alias("beta_idx"),
    )


@register(
    "doc_repeated_spans",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                          ' ') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(t, i, i+4), ' ') AS gram
      FROM toks, unnest(range(1, len(t)-3)) AS u(i)
      WHERE len(t) >= 5),
    dup AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gram) AS occ
      FROM grams),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM dup WHERE occ >= 2),
    spans AS (
      SELECT doc_id,
             CAST(min(pos) AS BIGINT) AS start_tok,
             CAST(max(pos) + 4 AS BIGINT) AS end_tok,
             CAST(max(pos) - min(pos) + 5 AS BIGINT) AS span_tokens,
             CAST(count(*) AS BIGINT) AS n_grams
      FROM isl GROUP BY doc_id, grp)
    SELECT * FROM spans WHERE span_tokens >= 8
    """,
    description=(
        "maximal duplicated-substring spans (the distributable "
        "approximation of suffix-array substring dedup a la 'Deduplicating "
        "Training Data Makes Language Models Better': any repeated "
        "substring of >= n tokens appears as a RUN of repeated n-gram "
        "positions). Per doc, positions whose 5-gram occurs >= 2 times "
        "corpus-wide are coalesced into maximal islands via the "
        "pos - row_number gaps-and-islands trick; emits spans covering "
        ">= 8 tokens with their token extents — the cut list an exact "
        "substring-level deduper consumes. Shape: map-side positional "
        "shingling, ONE exchange on gram for the corpus-frequency "
        "window (no count-agg + join-back, same fusion as "
        "doc_dup_ngram_fraction), one exchange on doc_id for the "
        "island numbering, then a shrinking (doc,island) agg. "
        "All integers; no all-pairs, no suffix array materialized"
    ),
    tags=("documents", "dedup", "quality"),
)
def doc_repeated_spans(spark, sf_dir):
    from pyspark.sql import Window

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
        ).alias("t"),
    ).filter(F.size("t") >= 5)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 4), "
                "i -> struct(i AS pos, array_join(slice(t, i, 5), ' ') AS gram))"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    dup = grams.withColumn(
        "occ", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    ).filter(F.col("occ") >= 2)
    isl = dup.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    spans = isl.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("bigint").alias("start_tok"),
        (F.max("pos") + 4).cast("bigint").alias("end_tok"),
        (F.max("pos") - F.min("pos") + 5).cast("bigint").alias("span_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
    )
    return spans.filter(F.col("span_tokens") >= 8).select(
        "doc_id", "start_tok", "end_tok", "span_tokens", "n_grams"
    )


@register(
    "doc_bpe_train_merges",
    oracle=None,  # iterative argmax loop is not SQL-expressible; the
    # sequential-reference gate is tests/test_bpe.py::
    # test_bpe_train_matches_sequential_reference (exact merge-table
    # equality against a pure-Python Sennrich-style implementation)
    description=(
        "distributed BPE merge training (Sennrich-style) on the "
        "word-frequency dictionary: ONE corpus-sized token agg "
        "compresses the corpus to a Zipf-bounded (word, freq) table, "
        "then each merge round is a pair-explode + map-side-combined "
        "count agg (shuffle = |distinct pairs|, KBs) + a deterministic "
        "1-row argmax collect + a map-only JVM fold applying the merge "
        "greedily left-to-right. localCheckpoint every 4 rounds keeps "
        "the plan flat. Emits the (rank, left, right, merged, "
        "pair_count) merge table a tokenizer ships. Ties break "
        "lexicographically — reproducible run to run"
    ),
    tags=("documents", "text", "tokenizer"),
)
def doc_bpe_train_merges(spark, sf_dir, num_merges: int = 20):
    from ..operators.bpe import bpe_train

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    return bpe_train(spark, docs, num_merges=num_merges)


@register(
    "evt_rank_auc",
    oracle="""
    WITH base AS (
      SELECT event_type, CAST(round(value*100) AS BIGINT) AS value_c,
             CASE WHEN EXTRACT(isodow FROM ts) >= 6 THEN 1 ELSE 0 END AS pos
      FROM events),
    cnts AS (
      SELECT event_type, value_c,
             sum(CASE WHEN pos = 0 THEN 1 ELSE 0 END) AS c0,
             sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS c1
      FROM base GROUP BY event_type, value_c),
    cum AS (
      SELECT event_type, value_c, c0, c1, c0 + c1 AS c,
             sum(c0 + c1) OVER (PARTITION BY event_type ORDER BY value_c)
               - (c0 + c1) AS f_prev
      FROM cnts),
    agg AS (
      SELECT event_type,
             sum(c0) AS n0, sum(c1) AS n1,
             sum(c1 * (2 * f_prev + c + 1)) AS r1_2x,
             sum(c*c*c - c) AS ties
      FROM cum GROUP BY event_type)
    SELECT event_type,
           CAST(n0 AS BIGINT) AS n0,
           CAST(n1 AS BIGINT) AS n1,
           CAST(r1_2x - n1 * (n1 + 1) AS BIGINT) AS u1_2x,
           CAST(ties AS BIGINT) AS tie_term,
           round(CAST(r1_2x - n1 * (n1 + 1) AS DOUBLE)
                 / (2.0 * n0 * n1), 6) AS auc
    FROM agg
    """,
    description=(
        "Mann-Whitney rank-sum AUC per event_type (weekend vs weekday "
        "values): the nonparametric location test AND the exact AUC a "
        "quality-classifier evaluation needs (AUC = U/(n0*n1)), with "
        "midrank tie handling kept INTEGER throughout — tied ranks "
        "enter as 2x-midranks (a+b is an integer even when (a+b)/2 is "
        "not), so U and the tie-correction term sum(t^3-t) are exact "
        "bigints in any aggregation order. Same pooled-distinct-value "
        "shape as evt_ks_drift: one map-side-combined (type,value) "
        "count agg collapses rows to distinct values, cumulative-rank "
        "window on the tiny aggregated set, one per-type agg. Never "
        "ranks raw rows — at 100 TB the window input is vocab-sized"
    ),
    tags=("events", "statistics", "evaluation"),
)
def evt_rank_auc(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir)
    iso_dow = F.when(F.dayofweek("ts") == 1, 7).otherwise(F.dayofweek("ts") - 1)
    base = ev.select(
        "event_type",
        "value_c",
        F.when(iso_dow >= 6, 1).otherwise(0).alias("pos"),
    )
    cnts = base.groupBy("event_type", "value_c").agg(
        F.sum(F.when(F.col("pos") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("pos") == 1, 1).otherwise(0)).alias("c1"),
    )
    w_cum = Window.partitionBy("event_type").orderBy("value_c")
    cum = cnts.select(
        "event_type",
        "c0",
        "c1",
        (F.col("c0") + F.col("c1")).alias("c"),
        (
            F.sum(F.col("c0") + F.col("c1")).over(w_cum)
            - (F.col("c0") + F.col("c1"))
        ).alias("f_prev"),
    )
    agg = cum.groupBy("event_type").agg(
        F.sum("c0").alias("n0"),
        F.sum("c1").alias("n1"),
        F.sum(F.col("c1") * (2 * F.col("f_prev") + F.col("c") + 1)).alias(
            "r1_2x"
        ),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("ties"),
    )
    u1_2x = F.col("r1_2x") - F.col("n1") * (F.col("n1") + 1)
    return agg.select(
        "event_type",
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        u1_2x.cast("bigint").alias("u1_2x"),
        F.col("ties").cast("bigint").alias("tie_term"),
        F.round(
            u1_2x.cast("double") / (F.lit(2.0) * F.col("n0") * F.col("n1")), 6
        ).alias("auc"),
    )


@register(
    "evt_attribution",
    oracle="""
    WITH ev AS (
      SELECT event_id, ts, user_id, event_type,
             CAST(round(value*100) AS BIGINT) AS value_c
      FROM events),
    p AS (
      SELECT event_id AS purchase_id, user_id, ts AS pts, value_c
      FROM ev WHERE event_type = 'purchase'),
    tch AS (
      SELECT event_id AS touch_id, user_id, ts AS tts, event_type
      FROM ev WHERE event_type IN ('view', 'click')),
    pairs AS (
      SELECT p.purchase_id, p.value_c, t.touch_id, t.event_type,
             row_number() OVER (
               PARTITION BY p.purchase_id
               ORDER BY t.tts DESC, t.touch_id DESC) AS rnk,
             count(*) OVER (PARTITION BY p.purchase_id) AS k
      FROM p JOIN tch t ON p.user_id = t.user_id
        AND t.tts <= p.pts AND t.tts >= p.pts - INTERVAL 3 DAY)
    SELECT purchase_id, touch_id, event_type,
           CAST(value_c // k
                + CASE WHEN rnk <= value_c % k THEN 1 ELSE 0 END
                AS BIGINT) AS credit_c
    FROM pairs
    """,
    description=(
        "linear multi-touch attribution with EXACT integer credit "
        "split: each purchase's cents are divided across the user's "
        "view/click touches in the preceding 3 days by "
        "largest-remainder — every touch gets value_c div k, the "
        "value_c mod k leftover cents go to the most recent touches "
        "(recency rank with event_id tie-break), so credits per "
        "purchase sum to value_c EXACTLY, no floating-point "
        "attribution leakage (asserted by "
        "test_attribution_credits_conserve). Shape: one equi-join on "
        "user_id carries the time-window pairing (the range predicate "
        "rides the join as a post-condition, never a cross product), "
        "then one window exchange on purchase_id for rank+count. "
        "Touch fan-out is bounded by the 3-day window; at 100 TB the "
        "user_id join uses the same skew rules as any hot key "
        "(AQE skew split + operators/skew.py salting)"
    ),
    tags=("events", "attribution", "join"),
)
def evt_attribution(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("pts"),
        "value_c",
    )
    tch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("ts").alias("tts"),
        "event_type",
    )
    pairs = p.join(tch, "user_id").filter(
        (F.col("tts") <= F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 3 DAY"))
    )
    w_rnk = Window.partitionBy("purchase_id").orderBy(
        F.desc("tts"), F.desc("touch_id")
    )
    w_all = Window.partitionBy("purchase_id")
    ranked = pairs.select(
        "purchase_id",
        "value_c",
        "touch_id",
        "event_type",
        F.row_number().over(w_rnk).alias("rnk"),
        F.count(F.lit(1)).over(w_all).alias("k"),
    )
    return ranked.select(
        "purchase_id",
        "touch_id",
        "event_type",
        (
            F.expr("value_c div k")
            + F.when(F.col("rnk") <= F.col("value_c") % F.col("k"), 1)
            .otherwise(0)
        ).cast("bigint").alias("credit_c"),
    )


@register(
    "emb_mmr_rerank",
    oracle=None,  # greedy argmax loop is not SQL-expressible; the
    # reference gate is tests/test_stats_r4.py::
    # test_mmr_matches_numpy_reference (exact selection + rank equality
    # against a sequential numpy MMR over the same candidate pool)
    description=(
        "Maximal-Marginal-Relevance diversified top-5 over a top-20 "
        "candidate pool (lambda=0.7): the standard diversity re-rank "
        "for retrieval-augmented data selection, where pure cosine "
        "top-k returns near-duplicates. Candidate generation stays in "
        "the distributed exact/ANN path; the inherently-sequential "
        "greedy loop runs Arrow-batched per QUERY group "
        "(applyInPandas), seeing only its bounded pool — pool^2 dot "
        "products per group, |queries|-way parallel, no driver "
        "traffic. Deterministic: pool order (sim desc, id asc) makes "
        "argmax ties break on neighbor id"
    ),
    tags=("embeddings", "similarity", "rerank"),
)
def emb_mmr_rerank(spark, sf_dir):
    from ..operators.similarity import mmr_rerank

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return mmr_rerank(emb, queries, k=5, pool=20, lam=0.7)


@register(
    "doc_rake_keywords",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                          ' ') AS t
      FROM documents),
    tokpos AS (
      SELECT doc_id, i + 1 AS pos, t[i + 1] AS w
      FROM toks, unnest(range(len(t))) AS u(i)
      WHERE t[i + 1] <> ''),
    content AS (
      SELECT doc_id, pos, w,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM tokpos
      WHERE w NOT IN ('the','a','an','and','or','of','to','in','is','it')),
    members AS (
      SELECT doc_id, grp, pos, w,
             count(*) OVER (PARTITION BY doc_id, grp) AS phrase_len
      FROM content),
    wstats AS (
      SELECT w, count(*) AS freq, sum(phrase_len) AS deg
      FROM members GROUP BY w),
    wscore AS (
      SELECT w,
             CAST(round(CAST(deg AS DOUBLE) * 1000000 / freq) AS BIGINT)
               AS sw_micro
      FROM wstats),
    phrases AS (
      SELECT m.doc_id, m.grp,
             string_agg(m.w, ' ' ORDER BY m.pos) AS phrase,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(s.sw_micro) AS BIGINT) AS score_micro
      FROM members m JOIN wscore s ON m.w = s.w
      GROUP BY m.doc_id, m.grp
      HAVING count(*) >= 2),
    ranked AS (
      SELECT doc_id, phrase, n_words, score_micro,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY score_micro DESC, phrase ASC) AS rnk
      FROM phrases)
    SELECT doc_id, phrase, n_words, score_micro, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    description=(
        "RAKE keyword extraction (Rose et al.): candidate phrases are "
        "maximal runs of non-stopword tokens (gaps-and-islands on "
        "stopword positions), word scores are degree/frequency over "
        "the phrase co-occurrence graph, phrase score = sum of member "
        "word scores; emits each doc's top-3 multi-word keyphrases. "
        "Determinism: word scores deg/freq are quantized to integer "
        "MICRO-UNITS before the per-phrase sum (the unigram-logprob "
        "trick), so aggregation order cannot perturb ranking; rank "
        "ties break on phrase text. Shape: token explode, one doc_id "
        "window for islands, a (doc,island) window for phrase length, "
        "a Zipf-bounded word-stats agg joined back on w (vocab-sized "
        "-> broadcast at scale), one phrase agg, one per-doc top-k "
        "window. No all-pairs graph materialization — RAKE's "
        "word-cooccurrence degree is exactly sum(phrase_len) per word"
    ),
    tags=("documents", "text", "keywords"),
)
def doc_rake_keywords(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.textops import EN_STOPWORDS

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    tokpos = (
        docs.select("doc_id", F.posexplode(toks).alias("i", "w"))
        .filter(F.col("w") != "")
        .select("doc_id", (F.col("i") + 1).alias("pos"), "w")
    )
    content = tokpos.filter(~F.col("w").isin(*EN_STOPWORDS)).withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    members = content.withColumn(
        "phrase_len",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "grp")),
    )
    wscore = (
        members.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("phrase_len").alias("deg"),
        )
        .select(
            "w",
            F.round(F.col("deg").cast("double") * 1000000 / F.col("freq"))
            .cast("bigint")
            .alias("sw_micro"),
        )
    )
    phrases = (
        members.join(F.broadcast(wscore), "w")
        .groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s.w,
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("sw_micro").cast("bigint").alias("score_micro"),
        )
        .filter(F.col("n_words") >= 2)
    )
    ranked = phrases.withColumn(
        "rnk",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(
                F.desc("score_micro"), F.asc("phrase")
            )
        )
        .cast("bigint"),
    )
    return ranked.filter(F.col("rnk") <= 3).select(
        "doc_id", "phrase", "n_words", "score_micro", "rnk"
    )


@register(
    "rel_referential_audit",
    oracle="""
    SELECT 'orders_custkey_fk' AS check_name,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem_partkey_fk',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem_suppkey_fk',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    UNION ALL
    SELECT 'customer_nationkey_fk',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'nation_regionkey_fk',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    UNION ALL
    SELECT 'customer_pk_unique',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'orders_pk_unique',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_status_domain',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    """,
    description=(
        "Deequ-style cross-table constraint suite over the star "
        "schema: five FK orphan checks (LEFT joins counting unmatched "
        "probes — dimension sides are broadcast at any realistic dim/"
        "fact ratio), two PK uniqueness checks (count - count "
        "distinct, one agg each), and two domain/range checks "
        "(conditional sums, map-side). One row per constraint with "
        "(checked, violations) — the audit artifact a nightly 100 TB "
        "pipeline gates promotion on. The fact table is scanned once "
        "PER FK check here for clarity; the single-pass variant "
        "(multi-broadcast + one labeled agg) is the documented "
        "restructure if lineitem scans dominate"
    ),
    tags=("relational", "quality", "join"),
)
def rel_referential_audit(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")

    def fk(name, fact, fk_col, dim, pk_col):
        d = F.broadcast(dim.select(F.col(pk_col).alias("_pk")))
        j = fact.select(F.col(fk_col).alias("_fk")).join(
            d, F.col("_fk") == F.col("_pk"), "left"
        )
        return j.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_checked"),
            F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
        )

    def pk_unique(name, df, col):
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_checked"),
            (F.count(F.lit(1)) - F.countDistinct(col))
            .cast("bigint")
            .alias("n_violations"),
        )

    def domain(name, df, cond):
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_checked"),
            F.sum(F.when(cond, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
        )

    checks = [
        fk("orders_custkey_fk", orders, "o_custkey", cust, "c_custkey"),
        fk("lineitem_orderkey_fk", li, "l_orderkey", orders, "o_orderkey"),
        fk("lineitem_partkey_fk", li, "l_partkey", part, "p_partkey"),
        fk("lineitem_suppkey_fk", li, "l_suppkey", supp, "s_suppkey"),
        fk("customer_nationkey_fk", cust, "c_nationkey", nation, "n_nationkey"),
        fk("nation_regionkey_fk", nation, "n_regionkey", region, "r_regionkey"),
        pk_unique("customer_pk_unique", cust, "c_custkey"),
        pk_unique("orders_pk_unique", orders, "o_orderkey"),
        domain(
            "orders_status_domain",
            orders,
            ~F.col("o_orderstatus").isin("O", "F", "P"),
        ),
        domain(
            "lineitem_qty_range",
            li,
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


@register(
    "evt_walk_forward_mae",
    oracle="""
    WITH base AS (
      SELECT user_id, event_type,
             CAST(round(value*100) AS BIGINT) AS y,
             sum(CAST(round(value*100) AS BIGINT)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_sum,
             count(*) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_cnt,
             lag(CAST(round(value*100) AS BIGINT)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id)
               AS y_prev
      FROM events),
    scored AS (
      SELECT user_id, event_type, y,
             CAST(round(CAST(prev_sum AS DOUBLE) * 1000000 / prev_cnt)
                  AS BIGINT) AS fc_mean_micro,
             y_prev * 1000000 AS fc_naive_micro
      FROM base WHERE prev_cnt >= 5)
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(abs(y * 1000000 - fc_mean_micro)) AS BIGINT)
             AS ae_mean_micro,
           CAST(sum(abs(y * 1000000 - fc_naive_micro)) AS BIGINT)
             AS ae_naive_micro,
           CAST(sum(abs(y * 1000000 - fc_mean_micro)) AS DOUBLE)
                 / count(*) / 1000000.0 AS mae_mean,
           CAST(sum(abs(y * 1000000 - fc_naive_micro)) AS DOUBLE)
                 / count(*) / 1000000.0 AS mae_naive,
           (sum(abs(y * 1000000 - fc_mean_micro))
              < sum(abs(y * 1000000 - fc_naive_micro))) AS mean_wins
    FROM scored GROUP BY user_id, event_type
    """,
    description=(
        "walk-forward backtest per series: every point after a "
        "5-observation warm-up is forecast by (a) the EXPANDING-window "
        "mean of all prior points and (b) naive last-value carry, "
        "with absolute errors accumulated in integer micro-cents "
        "(forecast quantized BEFORE the error sum — aggregation-order-"
        "proof) and a per-series champion flag. This is the evaluation "
        "harness behind the reference's walk-forward automate loop "
        "(PUSH/TRAIN orchestration), expressed as pure windows: the "
        "expanding sums, the lag, and the final per-series agg all "
        "ride ONE exchange on the series key. No refitting loop, no "
        "per-split jobs — 100 TB of backtest in one pass"
    ),
    tags=("events", "forecast", "evaluation"),
)
def evt_walk_forward_mae(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    base = ev.select(
        "user_id",
        "event_type",
        F.col("value_c").alias("y"),
        F.sum("value_c").over(w_prev).alias("prev_sum"),
        F.count(F.lit(1)).over(w_prev).alias("prev_cnt"),
        F.lag("value_c").over(w).alias("y_prev"),
    )
    scored = base.filter(F.col("prev_cnt") >= 5).select(
        "user_id",
        "event_type",
        "y",
        F.round(
            F.col("prev_sum").cast("double") * 1000000 / F.col("prev_cnt")
        )
        .cast("bigint")
        .alias("fc_mean_micro"),
        (F.col("y_prev") * 1000000).alias("fc_naive_micro"),
    )
    ae_mean = F.sum(F.abs(F.col("y") * 1000000 - F.col("fc_mean_micro")))
    ae_naive = F.sum(F.abs(F.col("y") * 1000000 - F.col("fc_naive_micro")))
    return scored.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        ae_mean.cast("bigint").alias("ae_mean_micro"),
        ae_naive.cast("bigint").alias("ae_naive_micro"),
        # raw division, NOT rounded: the operands are exact integers in
        # double form and the division tree is identical in both engines,
        # so the quotient is bit-equal — while round(x, 6) can land on a
        # half-microunit tie and diverge (observed: 1 cell in 741)
        (ae_mean.cast("double") / F.count(F.lit(1)) / F.lit(1000000.0))
        .alias("mae_mean"),
        (ae_naive.cast("double") / F.count(F.lit(1)) / F.lit(1000000.0))
        .alias("mae_naive"),
        (ae_mean < ae_naive).alias("mean_wins"),
    )


@register(
    "evt_cms_heavy_hitters",
    oracle=None,  # sketch cells depend on xxhash64 (engine-specific by
    # design, same class as evt_sketch_profile); the accuracy gate is
    # tests/test_stats_r4.py::test_cms_bounds_vs_exact (one-sided
    # overestimate + eps*N error bound against exact counts)
    description=(
        "count-min-sketch heavy hitters over (user_id, event_type) "
        "keys: the fixed-memory substitute for exact distinct-key "
        "counting when the key domain explodes — the shuffle carries "
        "a d x w counter grid (map-side-combined, <= d*w rows per "
        "partition) instead of one row per distinct key, and sketches "
        "merge cell-wise for incremental maintenance. Emits the "
        "sketch estimate next to the exact count for the true top-20 "
        "keys, demonstrating the one-sided error: est >= true always, "
        "est <= true + eps*N w.h.p."
    ),
    tags=("events", "sketch", "aggregate"),
)
def evt_cms_heavy_hitters(spark, sf_dir):
    from ..operators.cms import cms_build, cms_estimate

    ev = keyed_events(spark, sf_dir).withColumn(
        "hh_key", F.concat_ws("|", "user_id", "event_type")
    )
    sketch = cms_build(ev, "hh_key", d=4, w=2048)
    exact = ev.groupBy("hh_key").agg(F.count(F.lit(1)).alias("true_cnt"))
    from pyspark.sql import Window

    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-k then a 20-row merge at the driver side of the exchange) —
    # no global sort; the rank window then runs over 20 rows only
    top = (
        exact.orderBy(F.desc("true_cnt"), F.asc("hh_key"))
        .limit(20)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("true_cnt"), F.asc("hh_key"))
            ),
        )
    )
    est = cms_estimate(sketch, top, "hh_key", d=4, w=2048)
    return (
        top.join(est, top.hh_key == est.key)
        .select(
            "hh_key",
            F.col("true_cnt").cast("bigint").alias("true_cnt"),
            F.col("est").cast("bigint").alias("cms_est"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@register(
    "evt_theilsen_trend",
    oracle="""
    WITH base AS (
      SELECT user_id, event_type,
             CAST(round(value*100) AS BIGINT) AS y,
             CAST(row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS BIGINT) AS idx
      FROM events),
    slopes AS (
      SELECT a.user_id, a.event_type,
             CAST(round(CAST((b.y - a.y) * 1000000 AS DOUBLE)
                        / (b.idx - a.idx)) AS BIGINT) AS slope_micro
      FROM base a JOIN base b
        ON a.user_id = b.user_id AND a.event_type = b.event_type
       AND b.idx - a.idx BETWEEN 1 AND 30),
    ranked AS (
      SELECT user_id, event_type, slope_micro,
             row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY slope_micro) AS rn,
             count(*) OVER (
               PARTITION BY user_id, event_type) AS n_pairs
      FROM slopes)
    SELECT user_id, event_type,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           slope_micro AS ts_slope_micro
    FROM ranked
    WHERE rn = (n_pairs + 1) // 2 AND n_pairs >= 10
    """,
    description=(
        "banded Theil-Sen robust trend per series: the median of "
        "pairwise slopes over index gaps <= 30 — outlier-resistant "
        "where OLS's squared loss is not, and the band turns the "
        "estimator's O(n^2) pair set into O(30n) (the standard "
        "windowed variant; full Theil-Sen would be quadratic in "
        "series length and is deliberately NOT offered). Slopes are "
        "integer micro-cents-per-step (exact: cents delta x 1e6 over "
        "an integer gap, one shared rounding tree), the median is "
        "nearest-rank row selection — no doubles aggregated anywhere. "
        "Shape: ONE shuffle on the series key serves the index "
        "window, the banded self-join (both sides arrive "
        "co-partitioned), and the rank/count windows on the slope "
        "set. Fan-out bounded at 30x rows"
    ),
    tags=("events", "statistics", "regression"),
)
def evt_theilsen_trend(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        "event_type",
        F.col("value_c").alias("y"),
        F.row_number().over(w).cast("bigint").alias("idx"),
    )
    a = base.select(
        "user_id", "event_type", F.col("y").alias("ya"), F.col("idx").alias("ia")
    )
    b = base.select(
        "user_id", "event_type", F.col("y").alias("yb"), F.col("idx").alias("ib")
    )
    slopes = (
        a.join(b, ["user_id", "event_type"])
        .filter(
            (F.col("ib") - F.col("ia") >= 1) & (F.col("ib") - F.col("ia") <= 30)
        )
        .select(
            "user_id",
            "event_type",
            F.round(
                ((F.col("yb") - F.col("ya")) * 1000000).cast("double")
                / (F.col("ib") - F.col("ia"))
            )
            .cast("bigint")
            .alias("slope_micro"),
        )
    )
    w_rank = Window.partitionBy("user_id", "event_type").orderBy("slope_micro")
    w_all = Window.partitionBy("user_id", "event_type")
    ranked = slopes.select(
        "user_id",
        "event_type",
        "slope_micro",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_pairs"),
    )
    return ranked.filter(
        (F.col("rn") == F.expr("(n_pairs + 1) div 2")) & (F.col("n_pairs") >= 10)
    ).select(
        "user_id",
        "event_type",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("slope_micro").alias("ts_slope_micro"),
    )


@register(
    "stream_heavy_hitters",
    # The streamed d=4 × w=2048 grid uses the PORTABLE salted-md5
    # bucket hash (round 12 — retired this query's rows-only driver
    # status), and integer cell sums are micro-batch-split invariant,
    # so DuckDB replays the exact drained sketch from per-key exact
    # counts: cell(i, j) = Σ true_cnt over keys with bucket_i = j.
    # Streaming-mechanics gate stays tests/test_streaming_semantics.py::
    # test_stream_cms_equals_batch (streamed grid == one-pass batch
    # grid, cell for cell).
    oracle="""
    WITH k AS (
      SELECT CAST(user_id AS VARCHAR) || '|' || event_type AS hh_key,
             count(*) AS true_cnt
      FROM events GROUP BY 1),
    h AS (
      SELECT hh_key, true_cnt,
             ('0x' || substr(md5('cms0:' || hh_key), 1, 8))::BIGINT
               % 2048 AS j0,
             ('0x' || substr(md5('cms1:' || hh_key), 1, 8))::BIGINT
               % 2048 AS j1,
             ('0x' || substr(md5('cms2:' || hh_key), 1, 8))::BIGINT
               % 2048 AS j2,
             ('0x' || substr(md5('cms3:' || hh_key), 1, 8))::BIGINT
               % 2048 AS j3
      FROM k),
    c0 AS (SELECT j0 AS j, sum(true_cnt) AS c FROM h GROUP BY j0),
    c1 AS (SELECT j1 AS j, sum(true_cnt) AS c FROM h GROUP BY j1),
    c2 AS (SELECT j2 AS j, sum(true_cnt) AS c FROM h GROUP BY j2),
    c3 AS (SELECT j3 AS j, sum(true_cnt) AS c FROM h GROUP BY j3),
    top AS (
      SELECT hh_key, true_cnt,
             row_number() OVER (ORDER BY true_cnt DESC, hh_key ASC)
               AS rnk
      FROM k ORDER BY true_cnt DESC, hh_key ASC LIMIT 20)
    SELECT t.hh_key,
           CAST(t.true_cnt AS BIGINT) AS true_cnt,
           CAST(least(c0.c, c1.c, c2.c, c3.c) AS BIGINT) AS cms_est,
           CAST(t.rnk AS BIGINT) AS rnk
    FROM top t
    JOIN h  ON h.hh_key = t.hh_key
    JOIN c0 ON c0.j = h.j0
    JOIN c1 ON c1.j = h.j1
    JOIN c2 ON c2.j = h.j2
    JOIN c3 ON c3.j = h.j3
    """,
    description=(
        "streaming count-min heavy hitters: micro-batches feed "
        "cell-count partials into a batch-id-ledgered parquet sketch "
        "state (at-least-once replays skipped, one manifest commit "
        "per batch); the d x w grid never grows, so streaming state is "
        "FIXED-SIZE forever — the property that lets a heavy-hitter "
        "monitor run unbounded on an unbounded stream. The bucket "
        "hash is the portable salted-md5 recipe, so the drained grid "
        "is hash-checked against a DuckDB replay (round 12) on top of "
        "the streamed==batch cell-identity pytest gate"
    ),
    tags=("events", "streaming", "sketch"),
)
def stream_heavy_hitters_q(spark, sf_dir):
    from ..streaming.ingest import stream_heavy_hitters

    return stream_heavy_hitters(spark, sf_dir)


@register(
    "evt_hll_rollup_distinct",
    oracle=None,  # HLL sketch binaries are engine-specific; the gates
    # are tests/test_stats_r4.py::test_hll_rollup_accuracy (within-rsd
    # vs exact countDistinct) and test_hll_union_equals_direct (daily
    # union == direct whole-range sketch — merge associativity)
    description=(
        "HLL distinct-count ROLLUP (Apache DataSketches via Spark's "
        "hll_sketch_agg/hll_union_agg): per-(event_type, day) user "
        "sketches union up to per-type monthly distincts WITHOUT "
        "rescanning rows — the pre-aggregated distinct-count cube "
        "plain counts cannot provide (distinct is not summable; "
        "sketches are). At 100 TB the daily sketch table is the only "
        "thing ever re-read: KB-sized binaries per group, union cost "
        "independent of row count. Emits estimate next to exact for "
        "the readout; lgk=14 -> rsd ~0.8%"
    ),
    tags=("events", "sketch", "aggregate"),
)
def evt_hll_rollup_distinct(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    daily = ev.groupBy("event_type", "day").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    monthly = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias(
            "est_distinct_users"
        ),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct_users")
    )
    return monthly.join(exact, "event_type").select(
        "event_type",
        "n_days",
        "n_rows",
        F.col("est_distinct_users").cast("bigint").alias("est_distinct_users"),
        "exact_distinct_users",
    )


@register(
    "emb_centroid_drift",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             CASE WHEN vec_id * 2 < (SELECT max(vec_id) + 1 FROM embeddings)
                  THEN 0 ELSE 1 END AS half,
             i AS dim,
             CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS comp_micro
      FROM embeddings, unnest(range(len(embedding))) AS u(i)),
    sums AS (
      SELECT label, half, dim,
             sum(comp_micro) AS s, count(*) AS n
      FROM q GROUP BY label, half, dim),
    wide AS (
      SELECT a.label, a.dim,
             CAST(a.s AS DOUBLE) / a.n AS m0,
             CAST(b.s AS DOUBLE) / b.n AS m1,
             a.n AS n0, b.n AS n1
      FROM sums a JOIN sums b
        ON a.label = b.label AND a.dim = b.dim
       AND a.half = 0 AND b.half = 1)
    SELECT label,
           CAST(max(n0) AS BIGINT) AS n0,
           CAST(max(n1) AS BIGINT) AS n1,
           CAST(count(*) AS BIGINT) AS dims,
           round(sqrt(sum((m0 - m1) * (m0 - m1))) / 1000000.0, 6)
             AS centroid_shift
    FROM wide GROUP BY label
    """,
    description=(
        "embedding-space drift monitor: per-label centroid shift "
        "(L2 distance between the mean vectors of the first and "
        "second id-halves of the corpus) — the linear-kernel MMD "
        "statistic that catches representation drift between data "
        "snapshots before any model does. Determinism: components "
        "quantize to integer MICRO-UNITS before summation (float "
        "sums are order-dependent; integer sums are exact in any "
        "plan), means and the final sqrt share one expression tree. "
        "Shape: one per-(label, half, dim) integer agg over exploded "
        "components (map-side combined), then a dims-sized join and a "
        "label-sized agg — row count never survives the first agg"
    ),
    tags=("embeddings", "drift", "statistics"),
)
def emb_centroid_drift(spark, sf_dir):
    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    mx = emb.agg((F.max("vec_id") + 1).alias("m"))
    q = (
        emb.crossJoin(F.broadcast(mx))
        .select(
            "label",
            F.when(F.col("vec_id") * 2 < F.col("m"), 0)
            .otherwise(1)
            .alias("half"),
            F.posexplode("embedding").alias("dim", "comp"),
        )
        .select(
            "label",
            "half",
            "dim",
            F.round(F.col("comp").cast("double") * 1000000)
            .cast("bigint")
            .alias("comp_micro"),
        )
    )
    # single labeled pass: conditional sums pivot the halves in ONE
    # (label, dim) agg — the a/b filter + self-join form re-derived the
    # explode lineage twice (plan audit: 4 scans, 3 exchanges → 2/1)
    wide = (
        q.groupBy("label", "dim")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("comp_micro"))).alias("s0"),
            F.sum(F.when(F.col("half") == 1, F.col("comp_micro"))).alias("s1"),
            F.count(F.when(F.col("half") == 0, F.lit(1))).alias("n0"),
            F.count(F.when(F.col("half") == 1, F.lit(1))).alias("n1"),
        )
        .filter((F.col("n0") > 0) & (F.col("n1") > 0))  # = the oracle's
        # inner join: a (label, dim) missing either half drops
        .select(
            "label",
            "dim",
            (F.col("s0").cast("double") / F.col("n0")).alias("m0"),
            (F.col("s1").cast("double") / F.col("n1")).alias("m1"),
            "n0",
            "n1",
        )
    )
    return wide.groupBy("label").agg(
        F.max("n0").cast("bigint").alias("n0"),
        F.max("n1").cast("bigint").alias("n1"),
        F.count(F.lit(1)).cast("bigint").alias("dims"),
        F.round(
            F.sqrt(F.sum((F.col("m0") - F.col("m1")) * (F.col("m0") - F.col("m1"))))
            / F.lit(1000000.0),
            6,
        ).alias("centroid_shift"),
    )


@register(
    "evt_calibration_bins",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(round(value*100) AS BIGINT) AS value_c,
             event_id,
             CASE WHEN EXTRACT(isodow FROM ts) >= 6 THEN 1 ELSE 0 END AS pos
      FROM events),
    scored AS (
      SELECT event_type, pos,
             CAST(round(CAST((rank() OVER (
               PARTITION BY event_type
               ORDER BY value_c, event_id) - 1) * 1000000 AS DOUBLE)
               / (count(*) OVER (PARTITION BY event_type) - 1))
               AS BIGINT) AS score_micro
      FROM base),
    binned AS (
      SELECT event_type,
             CAST(score_micro * 10 // 1000001 AS BIGINT) AS bin,
             count(*) AS n,
             sum(pos) AS n_pos,
             sum(score_micro) AS s_score
      FROM scored GROUP BY event_type, bin)
    SELECT event_type, bin,
           CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(round(CAST(s_score AS DOUBLE) / n) AS BIGINT)
             AS mean_score_micro,
           CAST(round(CAST(n_pos * 1000000 AS DOUBLE) / n) AS BIGINT)
             AS obs_rate_micro
    FROM binned
    """,
    description=(
        "reliability-diagram calibration bins: a score (per-type "
        "percent-rank of value, integer micro-units with an event_id "
        "tie-break) against a binary outcome (weekend), bucketed into "
        "10 equal-width score bins with per-bin mean score vs observed "
        "positive rate — the calibration audit every quality/toxicity "
        "classifier gating a corpus filter needs before its threshold "
        "is trusted. All integers end to end (rank->micro quantization "
        "before any aggregation; rates are rounded integer micro "
        "ratios). Shape: one exchange on event_type services the rank "
        "and count windows, then a map-side-combined (type, bin) agg"
    ),
    tags=("events", "evaluation", "statistics"),
)
def evt_calibration_bins(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir)
    iso_dow = F.when(F.dayofweek("ts") == 1, 7).otherwise(F.dayofweek("ts") - 1)
    base = ev.select(
        "event_type",
        "value_c",
        "event_id",
        F.when(iso_dow >= 6, 1).otherwise(0).alias("pos"),
    )
    w_rank = Window.partitionBy("event_type").orderBy("value_c", "event_id")
    w_all = Window.partitionBy("event_type")
    scored = base.select(
        "event_type",
        "pos",
        # rank is INT; widen BEFORE the *1e6 (int32 overflows past
        # ~2147 rows-per-type × 1e6 — bit at sf1, invisible at sf0.01)
        F.round(
            ((F.rank().over(w_rank) - 1).cast("bigint") * 1000000)
            .cast("double")
            / (F.count(F.lit(1)).over(w_all) - 1)
        )
        .cast("bigint")
        .alias("score_micro"),
    )
    binned = scored.groupBy(
        "event_type",
        F.expr("score_micro * 10 div 1000001").cast("bigint").alias("bin"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("n_pos"),
        F.sum("score_micro").alias("s_score"),
    )
    return binned.select(
        "event_type",
        "bin",
        F.col("n").cast("bigint").alias("n"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.round(F.col("s_score").cast("double") / F.col("n"))
        .cast("bigint")
        .alias("mean_score_micro"),
        F.round((F.col("n_pos") * 1000000).cast("double") / F.col("n"))
        .cast("bigint")
        .alias("obs_rate_micro"),
    )


@register(
    "doc_temperature_mix",
    oracle="""
    WITH c AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    w AS (
      SELECT lang, n, pow(CAST(n AS DOUBLE), 0.3) AS wt FROM c),
    tot AS (
      SELECT sum(wt) AS wsum, sum(n) AS ntotal FROM w),
    rates AS (
      SELECT w.lang, w.n,
             least(1.0,
                   (w.wt / t.wsum) * (CAST(t.ntotal AS DOUBLE) / 2.0)
                   / w.n) AS r
      FROM w CROSS JOIN tot t),
    drawn AS (
      SELECT d.doc_id, d.lang, d.n_chars, r.r, r.n,
             CAST(CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
      FROM documents d JOIN rates r ON d.lang = r.lang)
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_lang,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS chars_sampled
    FROM drawn WHERE u < r
    GROUP BY lang
    """,
    description=(
        "temperature-weighted multilingual mixing (the mT5/XLM-R "
        "alpha=0.3 recipe): per-language sampling shares proportional "
        "to count^alpha flatten the head languages and lift the tail, "
        "targeting half the corpus; each doc accepts iff "
        "md5-uniform(doc_id) < its language's rate (capped at 1). "
        "Reproducible across engines/runs because the uniform draw AND "
        "the rate are identical expression trees (same md5->hex->2^32 "
        "contract as doc_importance_sample). Shape: a Zipf-bounded "
        "lang-count agg + a broadcast scalar + a broadcast rate join "
        "-> a pure map-side accept filter; rows are touched once"
    ),
    tags=("documents", "sampling", "text"),
)
def doc_temperature_mix(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w = c.select(
        "lang", "n", F.pow(F.col("n").cast("double"), F.lit(0.3)).alias("wt")
    )
    tot = w.agg(F.sum("wt").alias("wsum"), F.sum("n").alias("ntotal"))
    rates = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        F.least(
            F.lit(1.0),
            (F.col("wt") / F.col("wsum"))
            * (F.col("ntotal").cast("double") / F.lit(2.0))
            / F.col("n"),
        ).alias("r"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    drawn = docs.join(F.broadcast(rates), "lang").withColumn("u", u)
    return (
        drawn.filter(F.col("u") < F.col("r"))
        .groupBy("lang")
        .agg(
            F.max("n").cast("bigint").alias("n_lang"),
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("chars_sampled"),
        )
    )


@register(
    "emb_random_projection",
    oracle="""
    WITH r AS (
      SELECT i, j,
             CASE WHEN CAST(('0x' || substring(
                      md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)),
                      1, 1)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM range(64) t(i), range(16) u(j)),
    comp AS (
      SELECT vec_id, i AS dim,
             CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS c_micro
      FROM embeddings, unnest(range(len(embedding))) AS u(i))
    SELECT c.vec_id, r.j,
           CAST(sum(c.c_micro * r.sgn) AS BIGINT) AS out_micro
    FROM comp c JOIN r ON c.dim = r.i
    GROUP BY c.vec_id, r.j
    """,
    description=(
        "sparse random projection (Johnson-Lindenstrauss, Achlioptas "
        "+-1 variant): 64-dim embeddings project to 16 dims through a "
        "DERIVED +-1 matrix whose signs come from md5(i_j) parity — "
        "no RNG state, both engines and every retry generate the "
        "identical matrix, and quantized integer components make each "
        "output coordinate an exact bigint dot product. Distance "
        "preservation (the point of JL) is gated by "
        "test_random_projection_preserves_distances. Shape: the 1024-"
        "cell sign matrix is a broadcast literal-free dictionary; the "
        "projection is one map-side-combined (vec, j) agg over "
        "exploded components — embarrassingly parallel, no shuffle of "
        "vectors, the standard pre-step before ANN at very high dim"
    ),
    tags=("embeddings", "projection", "similarity"),
)
def emb_random_projection(spark, sf_dir):
    d_in, d_out = 64, 16
    r = (
        spark.range(d_in)
        .withColumnRenamed("id", "i")
        .crossJoin(spark.range(d_out).withColumnRenamed("id", "j"))
        .select(
            "i",
            "j",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "_",
                                F.col("i").cast("string"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        1,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
                == 0,
                1,
            )
            .otherwise(-1)
            .alias("sgn"),
        )
    )
    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "c")
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("c").cast("double") * 1000000)
        .cast("bigint")
        .alias("c_micro"),
    )
    return (
        comp.join(F.broadcast(r), comp.dim == r.i)
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("c_micro") * F.col("sgn")).cast("bigint").alias("out_micro"))
    )


#: Inverse-CDF thresholds of Poisson(1) on a uniform draw, shared
#: verbatim by both engines: P(X<=k) for k = 0..4; draws beyond 0.9963
#: clamp to 5 (P(X>=6) ~ 0.06%, negligible and still deterministic).
_POIS1 = (
    "CASE WHEN u < 0.3678794411714423 THEN 0 "
    "WHEN u < 0.7357588823428846 THEN 1 "
    "WHEN u < 0.9196986029286058 THEN 2 "
    "WHEN u < 0.9810118431238462 THEN 3 "
    "WHEN u < 0.9963401531726563 THEN 4 ELSE 5 END"
)


@register(
    "evt_poisson_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT b FROM range(100) t(b)),
    seeded AS (
      SELECT event_type,
             CAST(round(value*100) AS BIGINT) AS value_c,
             CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM events),
    drawn AS (
      SELECT s.event_type, r.b, s.value_c,
             CAST((s.h * (2 * r.b + 1) + r.b * 2654435761) % 4294967296
                  AS DOUBLE) / 4294967296.0 AS u
      FROM seeded s CROSS JOIN reps r),
    weighted AS (
      SELECT event_type, b, value_c, {_POIS1} AS w FROM drawn),
    rep_means AS (
      SELECT event_type, b,
             CAST(round(CAST(sum(value_c * w) * 1000000 AS DOUBLE)
                        / sum(w)) AS BIGINT) AS mean_micro
      FROM weighted GROUP BY event_type, b HAVING sum(w) > 0),
    ranked AS (
      SELECT event_type, mean_micro,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY mean_micro, b) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nb
      FROM rep_means)
    SELECT event_type,
           CAST(max(nb) AS BIGINT) AS n_replicas,
           CAST(max(CASE WHEN rn = (nb * 5 + 99) // 100 THEN mean_micro END)
                AS BIGINT) AS p05_micro,
           CAST(max(CASE WHEN rn = (nb * 50 + 99) // 100 THEN mean_micro END)
                AS BIGINT) AS p50_micro,
           CAST(max(CASE WHEN rn = (nb * 95 + 99) // 100 THEN mean_micro END)
                AS BIGINT) AS p95_micro
    FROM ranked GROUP BY event_type
    """,
    description=(
        "Poisson bootstrap confidence intervals (the resampling scheme "
        "that works on data too big to resample: each row's weight in "
        "replica b is Poisson(1), drawn DETERMINISTICALLY by inverting "
        "the Poisson CDF on a per-replica integer mix of ONE md5 per "
        "row (odd-multiplier + Knuth-offset mod 2^32 — hashing per "
        "(row, replica) was 95% of the cost) — no RNG state, no "
        "with-replacement pass over the data, replicas are "
        "embarrassingly parallel). 100 replicas of the per-type mean "
        "(integer micro, exact weighted sums) -> nearest-rank p05/p50/"
        "p95 over replica means = the CI. Shape: a 100x map-side "
        "fan-out (no shuffle of raw rows beyond the (type, b) agg), "
        "one tiny rank window over 100 rows per type. The ceil-rank "
        "selection and CDF thresholds are shared expression text in "
        "both engines"
    ),
    tags=("events", "statistics", "evaluation"),
)
def evt_poisson_bootstrap_ci(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir)
    # ONE md5 per row, then 100 replica uniforms by integer mixing
    # (odd multiplier + Knuth-constant offset mod 2^32). The replica
    # axis is explode(sequence(0,99)) — stays inside whole-stage
    # codegen; the broadcast-cross-join form ran the same rows through
    # BroadcastNestedLoopJoin at ~2x the wall time
    seeded = ev.select(
        "event_type",
        "value_c",
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    drawn = seeded.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(99)))
    )
    u = (
        F.pmod(
            F.col("h") * (2 * F.col("b") + 1) + F.col("b") * F.lit(2654435761),
            F.lit(4294967296),
        ).cast("double")
        / F.lit(4294967296.0)
    )
    weighted = drawn.withColumn("u", u).withColumn("w", F.expr(_POIS1))
    rep_means = (
        weighted.groupBy("event_type", "b")
        .agg(
            F.sum(F.col("value_c") * F.col("w")).alias("sw"),
            F.sum("w").alias("nw"),
        )
        .filter(F.col("nw") > 0)
        .select(
            "event_type",
            "b",
            F.round((F.col("sw") * 1000000).cast("double") / F.col("nw"))
            .cast("bigint")
            .alias("mean_micro"),
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy("mean_micro", "b")
    w_all = Window.partitionBy("event_type")
    ranked = rep_means.select(
        "event_type",
        "mean_micro",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("nb"),
    )
    def pick(q):
        return F.max(
            F.when(
                F.col("rn") == F.expr(f"(nb * {q} + 99) div 100"),
                F.col("mean_micro"),
            )
        ).cast("bigint")

    return ranked.groupBy("event_type").agg(
        F.max("nb").cast("bigint").alias("n_replicas"),
        pick(5).alias("p05_micro"),
        pick(50).alias("p50_micro"),
        pick(95).alias("p95_micro"),
    )


@register(
    "mm_phash_near_dup",
    oracle=None,  # the simhash lives in a Python media stage (the
    # decode seam); gates: tests/test_stats_r4.py::
    # test_phash_pairs_are_textually_similar (pairs must be real
    # near-dups vs a Jaccard floor) and test_phash_identical_payloads
    # (exact dups always pair at hamming 0)
    description=(
        "perceptual-hash near-duplicate detection for media payloads: "
        "a 64-bit simhash per asset from an Arrow-batched decode-side "
        "stage (pHash/aHash seat; stub hashes payload byte 4-grams — "
        "same locality-sensitive estimator family), then banded "
        "pairing: hamming <= 6 within 64 bits guarantees an intact "
        "16-bit band (pigeonhole), so candidates come from an "
        "equi-join on (band, key) — never all-pairs — and the verify "
        "is JVM bit_count(xor) on candidates only. The media twin of "
        "the text MinHash-LSH chain, completing multimodal dedup "
        "beyond exact payload hashing"
    ),
    tags=("multimodal", "dedup"),
)
def mm_phash_near_dup(spark, sf_dir):
    from ..operators.multimodal import (
        documents_as_media,
        phash_media,
        phash_near_dup_pairs,
    )

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    hashed = phash_media(documents_as_media(docs))
    return phash_near_dup_pairs(hashed, radius=6)


@register(
    "doc_dedup_spans_removal",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                          ' ') AS t
      FROM documents),
    tokpos AS (
      SELECT doc_id, i + 1 AS pos, t[i + 1] AS w
      FROM toks, unnest(range(len(t))) AS u(i)),
    grams AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(t, i, i+4), ' ') AS gram
      FROM toks, unnest(range(1, len(t)-3)) AS u(i)
      WHERE len(t) >= 5),
    dup AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gram) AS occ
      FROM grams),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM dup WHERE occ >= 2),
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
      FROM isl GROUP BY doc_id, grp
      HAVING max(pos) - min(pos) + 5 >= 8),
    cuts AS (
      SELECT DISTINCT doc_id, s + k AS cut_pos
      FROM spans, unnest(range(e - s + 1)) AS u(k)),
    kept AS (
      SELECT tp.doc_id, tp.pos, tp.w
      FROM tokpos tp LEFT JOIN cuts c
        ON tp.doc_id = c.doc_id AND tp.pos = c.cut_pos
      WHERE c.cut_pos IS NULL)
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(len(t.t) - count(k.pos) AS BIGINT) AS n_removed,
           coalesce(string_agg(k.w, ' ' ORDER BY k.pos), '') AS cleaned_text
    FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
    GROUP BY t.doc_id, len(t.t)
    """,
    description=(
        "substring-dedup applied end to end: the repeated-span cut "
        "lists (doc_repeated_spans semantics, >= 8-token runs of "
        "corpus-duplicated 5-grams) are excised from every document "
        "and the surviving tokens re-joined — the RefinedWeb-style "
        "aggressive variant that removes ALL copies of duplicated "
        "boilerplate (the keep-first-occurrence variant needs a "
        "global first-occurrence rank on the gram key; same plan + "
        "one more window — documented, not duplicated here). Shape: "
        "the span derivation is doc_repeated_spans' plan; cut "
        "positions explode bounded by total span length; removal is a "
        "left-anti join on (doc, pos); reassembly is one ordered "
        "per-doc string agg. Everything integers/strings — hash-exact"
    ),
    tags=("documents", "dedup", "text"),
)
def doc_dedup_spans_removal(spark, sf_dir):
    from pyspark.sql import Window

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
        ).alias("t"),
    )
    tokpos = toks.select(
        "doc_id", F.posexplode("t").alias("i", "w")
    ).select("doc_id", (F.col("i") + 1).alias("pos"), "w")
    grams = (
        toks.filter(F.size("t") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 4), "
                    "i -> struct(i AS pos, array_join(slice(t, i, 5), ' ') AS gram))"
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    )
    dup = grams.withColumn(
        "occ", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    ).filter(F.col("occ") >= 2)
    isl = dup.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    spans = (
        isl.groupBy("doc_id", "grp")
        .agg(F.min("pos").alias("s"), (F.max("pos") + 4).alias("e"))
        .filter(F.col("e") - F.col("s") + 1 >= 8)
    )
    cuts = spans.select(
        "doc_id", F.explode(F.expr("sequence(s, e)")).alias("cut_pos")
    ).distinct()
    # explicit aliases: tokpos and cuts share lineage (both derive from
    # docs), so unaliased tokpos.doc_id == cuts.doc_id resolves as a
    # trivially-true same-column predicate (Spark warns; a future
    # ambiguity-resolution change could silently row-multiply). Aliased
    # sides make the equi-join unambiguous by construction.
    tp, ct = tokpos.alias("tp"), cuts.alias("ct")
    kept = tp.join(
        ct,
        (F.col("tp.doc_id") == F.col("ct.doc_id"))
        & (F.col("tp.pos") == F.col("ct.cut_pos")),
        "left_anti",
    )
    sizes = toks.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s.w,
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return sizes.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
    )


@register(
    "evt_km_retention",
    oracle="""
    WITH snap AS (SELECT max(ts) AS mx FROM events),
    users AS (
      SELECT user_id,
             date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
               AS lifetime,
             (max(ts) < (SELECT mx FROM snap) - INTERVAL 3 DAY) AS churned
      FROM events GROUP BY user_id),
    per_day AS (
      SELECT lifetime AS t,
             sum(CASE WHEN churned THEN 1 ELSE 0 END) AS d,
             sum(CASE WHEN churned THEN 0 ELSE 1 END) AS c
      FROM users GROUP BY lifetime)
    SELECT CAST(t AS BIGINT) AS t_day,
           CAST(sum(d + c) OVER (ORDER BY t DESC) AS BIGINT) AS at_risk,
           CAST(d AS BIGINT) AS n_churned,
           CAST(c AS BIGINT) AS n_censored
    FROM per_day
    """,
    description=(
        "Kaplan-Meier retention life table: per-user lifetime (first to "
        "last active day), churn = no activity in the trailing 3 days "
        "of the observation window, censoring otherwise; emits the "
        "(at-risk, events, censored) counts per lifetime day — the "
        "EXACT integer sufficient statistics of the KM estimator. The "
        "survival curve itself is a cumulative product of per-row "
        "rationals (deliberately left to the consumer: float products "
        "are order-dependent, integer numerator/denominator products "
        "overflow — the life table is the principled distributed "
        "artifact). Shape: one user-key agg, one tiny day-level "
        "cumulative window over <= |distinct lifetimes| rows. The "
        "reverse-cumulative at-risk count is the gaps-free identity "
        "at_risk(t) = |lifetime >= t| (censoring only at lifetime)"
    ),
    tags=("events", "statistics", "retention"),
)
def evt_km_retention(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir)
    snap = ev.agg(F.max("ts").alias("mx"))
    users = (
        ev.crossJoin(F.broadcast(snap))
        .groupBy("user_id")
        .agg(
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias(
                "lifetime"
            ),
            (F.max("ts") < F.max(F.col("mx") - F.expr("INTERVAL 3 DAY"))).alias(
                "churned"
            ),
        )
    )
    per_day = users.groupBy(F.col("lifetime").alias("t")).agg(
        F.sum(F.when(F.col("churned"), 1).otherwise(0)).alias("d"),
        F.sum(F.when(F.col("churned"), 0).otherwise(1)).alias("c"),
    )
    w = Window.orderBy(F.desc("t")).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.col("t").cast("bigint").alias("t_day"),
        F.sum(F.col("d") + F.col("c")).over(w).cast("bigint").alias("at_risk"),
        F.col("d").cast("bigint").alias("n_churned"),
        F.col("c").cast("bigint").alias("n_censored"),
    )


@register(
    "evt_max_concurrency",
    oracle="""
    WITH gaps AS (
      SELECT event_type, user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY event_type, user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events),
    flagged AS (
      SELECT event_type, user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM gaps),
    numbered AS (
      SELECT event_type, user_id, ts,
             sum(new_session) OVER (
               PARTITION BY event_type, user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged),
    sessions AS (
      SELECT event_type, user_id, session_id,
             min(ts) AS s, max(ts) AS e
      FROM numbered GROUP BY event_type, user_id, session_id),
    deltas AS (
      SELECT event_type, s AS t, 1 AS delta FROM sessions
      UNION ALL
      SELECT event_type, e, -1 FROM sessions),
    swept AS (
      SELECT event_type, t, delta,
             sum(delta) OVER (
               PARTITION BY event_type ORDER BY t, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS concurrency
      FROM deltas)
    SELECT event_type,
           CAST(max(concurrency) AS BIGINT) AS peak_concurrency,
           CAST(count(*) / 2 AS BIGINT) AS n_sessions
    FROM swept GROUP BY event_type
    """,
    description=(
        "sweep-line peak concurrency: sessionize each (type, user) "
        "stream (30-min gap), then count simultaneously-open sessions "
        "per event_type by the classic +1/-1 endpoint sweep — a "
        "cumulative sum over the endpoint stream, with ends sorting "
        "BEFORE starts at equal timestamps (delta ASC) so touching "
        "sessions don't double-count (end-exclusive semantics). The "
        "capacity-planning primitive interval JOINS can't express "
        "(overlap is against ALL other intervals, not a probe side). "
        "Shape: the session windows ride one (type, user) exchange; "
        "the sweep is one window over 2x|sessions| endpoint rows per "
        "type — the raw stream never re-shuffles. All integers"
    ),
    tags=("events", "session", "interval"),
)
def evt_max_concurrency(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        "user_id",
        "event_id",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    flagged = gaps.withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.unix_micros("ts") - F.unix_micros("prev_ts")
                > 1800000000
            ),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sessions = numbered.groupBy("event_type", "user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    deltas = sessions.select(
        "event_type", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        sessions.select(
            "event_type", F.col("e").alias("t"), F.lit(-1).alias("delta")
        )
    )
    w_sweep = Window.partitionBy("event_type").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    swept = deltas.withColumn("concurrency", F.sum("delta").over(w_sweep))
    return swept.groupBy("event_type").agg(
        F.max("concurrency").cast("bigint").alias("peak_concurrency"),
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_sessions"),
    )


@register(
    "emb_pca_project",
    oracle=None,  # the eigendecomposition is a bounded driver-side fit
    # (same contract as PQ codebooks); the gate is tests/test_stats_r4
    # ::test_pca_matches_numpy (projections + explained variance vs a
    # full-data numpy PCA, exact up to the shared sign convention)
    description=(
        "distributed PCA (top-8 of 64 dims): ONE Arrow pass computes "
        "per-partition covariance partials as INTEGER micro-unit sums "
        "(exact int64, order-independent merge — the float-sum "
        "nondeterminism of naive distributed PCA never appears); the "
        "driver collects only the d x d Gram cells (bounded by "
        "dimension^2, asserted — never by rows), eigendecomposes once, "
        "and ships components back as plan literals for a MAP-ONLY "
        "projection. The dimensionality-reduction step before "
        "clustering/ANN when JL's randomness is not wanted"
    ),
    tags=("embeddings", "projection", "statistics"),
)
def emb_pca_project(spark, sf_dir):
    from ..operators.pca import pca_fit, pca_project

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    comps, _, mean = pca_fit(spark, emb, k=8)
    return pca_project(emb, comps, mean)


@register(
    "evt_ccf_lead_lag",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    lags AS (SELECT l FROM range(-2, 3) t(l)),
    paired AS (
      SELECT g.l, a.x, b.y
      FROM lags g
      JOIN daily a ON true
      JOIN daily b ON a.user_id = b.user_id
        AND b.day = a.day + CAST(g.l AS INTEGER)),
    stats AS (
      SELECT l, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
             sum(x*x) AS sxx, sum(y*y) AS syy
      FROM paired GROUP BY l)
    SELECT CAST(l AS BIGINT) AS lag_days,
           CAST(n AS BIGINT) AS n,
           CAST(sxy AS BIGINT) AS sxy,
           (CAST(n * sxy - sx * sy AS DOUBLE)
            / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
               * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS ccf
    FROM stats
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    description=(
        "lead-lag cross-correlation (CCF at day lags -2..+2) between "
        "per-user daily view and purchase activity — the diagnostic "
        "that tells you WHICH DIRECTION and at what delay one series "
        "drives another (ACF's two-series sibling; lag 0 = plain "
        "correlation, positive lags = views leading purchases). All "
        "sufficient statistics are exact integer sums per lag; the "
        "final Pearson ratio is one shared expression tree, emitted "
        "raw (unrounded — identical-tree doubles are bit-equal, while "
        "round() can diverge on half-ties). Shape: one (user, day) "
        "count agg collapses the stream, the 5 lags broadcast against "
        "it, one equi-join on (user, shifted day), one per-lag agg — "
        "the raw stream is never joined or re-shuffled"
    ),
    tags=("events", "statistics", "timeseries"),
)
def evt_ccf_lead_lag(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "y"
        ),
    )
    lags = spark.range(-2, 3).withColumnRenamed("id", "l")
    a = daily.crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("user_id"), F.col("day").alias("bday"), F.col("y").alias("by")
    )
    paired = a.join(
        b,
        (a.user_id == b.user_id)
        & (F.col("bday") == F.expr("date_add(day, CAST(l AS INT))")),
    ).select("l", "x", F.col("by").alias("y"))
    stats = paired.groupBy("l").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return stats.filter((varx > 0) & (vary > 0)).select(
        F.col("l").cast("bigint").alias("lag_days"),
        F.col("n").cast("bigint").alias("n"),
        F.col("sxy").cast("bigint").alias("sxy"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double")))
        ).alias("ccf"),
    )


@register(
    "emb_knn_eval",
    oracle="""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             c.label AS neigh_label,
             round(list_cosine_similarity(q.e, c.e), 6) AS sim,
             c.vec_id AS neighbor_id
      FROM v q JOIN v c ON c.vec_id != q.vec_id),
    ranked AS (
      SELECT query_id, true_label, neigh_label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM scored),
    votes AS (
      SELECT k.k, r.query_id, r.true_label, r.neigh_label,
             count(*) AS n_votes
      FROM ranked r JOIN (SELECT unnest([1, 3, 5]) AS k) k
        ON r.rnk <= k.k
      GROUP BY 1, 2, 3, 4),
    winners AS (
      SELECT k, query_id, true_label, neigh_label,
             row_number() OVER (PARTITION BY k, query_id
                                ORDER BY n_votes DESC, neigh_label ASC)
               AS vrnk
      FROM votes)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN neigh_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM winners WHERE vrnk = 1
    GROUP BY k
    """,
    description=(
        "k-NN classifier evaluation on the embedding table (leave-one-"
        "out): for every vector, its k nearest cosine neighbors vote "
        "on the label (majority, ties to the smallest label) and "
        "accuracy is tallied for k in {1,3,5} — the standard probe of "
        "embedding quality before anything trains. Exact integers end "
        "to end (votes, winners, correct counts); neighbor ranks tie-"
        "break on id. Shape: brute-force scoring here (every vector "
        "is a query — the eval WANTS leave-one-out over the full "
        "table); at corpus scale the candidate generation swaps to "
        "the ANN paths (bucketed/IVF) unchanged downstream of the "
        "rank window. Rank + vote + winner are three shrinking "
        "windows/aggs over k*|vectors| rows"
    ),
    tags=("embeddings", "evaluation", "similarity"),
)
def emb_knn_eval(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.similarity import allpairs_knn_topk

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    # Arrow-batched BLAS scoring with two-phase top-k (see
    # allpairs_knn_topk): each candidate partition emits its local
    # top-5 per query on int64 (round(sim,6), id) keys, one window
    # merges — replaces the interpreted aggregate-HOF cross join
    # (10.4 s → ~1 s at sf0.1) with identical ordering semantics
    topk = allpairs_knn_topk(emb, k=5)
    ranked = topk.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.desc("sim"), F.asc("neighbor_id")
            )
        ),
    )
    ranked = ranked.withColumn(
        "true_label", F.col("true_label").cast("int")
    ).withColumn("neigh_label", F.col("neigh_label").cast("int"))
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(3), F.lit(5))).alias("k")
    )
    votes = (
        ranked.crossJoin(F.broadcast(ks))
        .filter(F.col("rnk") <= F.col("k"))
        .groupBy("k", "query_id", "true_label", "neigh_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    winners = votes.withColumn(
        "vrnk",
        F.row_number().over(
            Window.partitionBy("k", "query_id").orderBy(
                F.desc("n_votes"), F.asc("neigh_label")
            )
        ),
    ).filter(F.col("vrnk") == 1)
    return winners.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum(
            F.when(F.col("neigh_label") == F.col("true_label"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_correct"),
    ).select(F.col("k").cast("bigint").alias("k"), "n_queries", "n_correct")


@register(
    "evt_markov_entropy",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    trans AS (
      SELECT event_type AS src, next_type AS dst, count(*) AS n_ij
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2),
    rowtot AS (
      SELECT src, dst, n_ij,
             sum(n_ij) OVER (PARTITION BY src) AS n_i
      FROM trans)
    SELECT src,
           CAST(max(n_i) AS BIGINT) AS n_i,
           CAST(count(*) AS BIGINT) AS n_dst,
           CAST(-sum(n_ij * CAST(round(
                  ln(CAST(n_ij AS DOUBLE) / n_i) * 1000000) AS BIGINT))
                AS BIGINT) AS h_sum_micro,
           (CAST(-sum(n_ij * CAST(round(
                  ln(CAST(n_ij AS DOUBLE) / n_i) * 1000000) AS BIGINT))
                 AS DOUBLE) / max(n_i) / 1000000.0) AS h_nats
    FROM rowtot GROUP BY src
    """,
    description=(
        "per-state entropy rate of the user-journey Markov chain: "
        "H_i = -sum_j P_ij ln P_ij from the transition counts — the "
        "predictability diagnostic that says which states' next steps "
        "are near-deterministic (routing/caching opportunities) vs "
        "uniform (no signal). Per-transition log-probabilities are "
        "quantized to integer MICRO-NATS before the weighted sum "
        "(the unigram-logprob trick: exact bigint in any aggregation "
        "order); the final normalization is one shared division tree, "
        "emitted raw. Shape: one series-key window for transitions, "
        "one (src,dst) count agg, a src window on the tiny matrix, "
        "one per-src agg"
    ),
    tags=("events", "statistics", "markov"),
)
def evt_markov_entropy(spark, sf_dir):
    from pyspark.sql import Window

    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("src"), F.col("next_type").alias("dst")
    ).agg(F.count(F.lit(1)).alias("n_ij"))
    rowtot = trans.withColumn(
        "n_i", F.sum("n_ij").over(Window.partitionBy("src"))
    )
    lp_micro = F.round(
        F.log(F.col("n_ij").cast("double") / F.col("n_i")) * 1000000
    ).cast("bigint")
    agg = rowtot.groupBy("src").agg(
        F.max("n_i").cast("bigint").alias("n_i"),
        F.count(F.lit(1)).cast("bigint").alias("n_dst"),
        (-F.sum(F.col("n_ij") * lp_micro)).cast("bigint").alias("h_sum_micro"),
    )
    return agg.select(
        "src",
        "n_i",
        "n_dst",
        "h_sum_micro",
        (
            F.col("h_sum_micro").cast("double")
            / F.col("n_i")
            / F.lit(1000000.0)
        ).alias("h_nats"),
    )
