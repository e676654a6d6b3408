"""Extension query registry: large-scale training-data-pipeline
operators over ``documents`` / ``embeddings`` (dedup, similarity search,
text analysis, multimodal plumbing) + Structured Streaming ingest.

Same determinism contract as queries_core: md5-only digests, integer
counts, divisions with identical trees. Cosine similarities are the one
place both engines sum doubles in unspecified order — outputs are
rounded to 6 decimals on BOTH sides, and rankings order by the rounded
value with an id tie-break, so rank sets are engine-identical.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures_mapside,
    shingles,
    simhash,
)
from ..operators.multimodal import documents_as_media, extract_media_meta
from ..operators.similarity import _as_double, cosine, sign_bucket
from ..operators.textops import (
    fingerprint,
    mean_word_len,
    predict_lang,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from .common import fan_out, keyed_events, t
from .registry import register

#: DuckDB fragment: distinct (doc_id, 3-token shingle) pairs.
_SQL_SHINGLES = r"""
toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i+2), ' ') AS shingle
  FROM toks, unnest(range(1, len(t)-1)) AS u(i)
  WHERE len(t) >= 3)
"""

# mirror of operators.dedup.MINHASH_SEEDS / MINHASH_P
from ..operators.dedup import MINHASH_P, MINHASH_SEEDS  # noqa: E402

_SQL_MINHASH_AGGS = ",\n             ".join(
    f"min((CAST({a} AS BIGINT)*h + {b}) % {MINHASH_P}) AS mh{k}"
    for k, (a, b) in enumerate(MINHASH_SEEDS)
)


@register(
    "doc_exact_dedup",
    oracle=r"""
    WITH digests AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest,
             row_number() OVER (
               PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               ORDER BY doc_id ASC) AS rn
      FROM documents)
    SELECT doc_id, digest FROM digests WHERE rn = 1
    """,
    description="exact dedup on normalized-text md5, lowest doc_id survives (hash-groupBy dedup)",
    tags=("documents", "dedup"),
)
def doc_exact_dedup(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    out = exact_dedup(docs, text_col="text", id_col="doc_id")
    return out.select("doc_id", fingerprint("text").alias("digest"))


@register(
    "doc_token_stats",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
      FROM documents),
    st AS (
      SELECT doc_id, len(string_split(nt, ' ')) AS n_tokens, length(nt) AS n_chars
      FROM norm)
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST(n_chars - (n_tokens - 1) AS BIGINT) AS total_token_chars,
           (n_chars - (n_tokens - 1)) / n_tokens AS mean_word_len
    FROM st
    """,
    description="token counting + exact mean word length (text analysis)",
    tags=("documents", "text"),
)
def doc_token_stats(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    nt = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    n_tok = token_count("text")
    total = (F.length(nt) - (n_tok - 1)).cast("bigint")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        total.alias("total_token_chars"),
        (total / n_tok).alias("mean_word_len"),
    )


@register(
    "doc_quality_profile",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, text,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
      FROM documents),
    st AS (
      SELECT doc_id, text,
             len(string_split(nt, ' ')) AS n_tok,
             len(list_filter(string_split(nt, ' '),
                 x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS n_stop,
             length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
             length(text) AS n_chars
      FROM norm)
    SELECT doc_id,
           n_stop / greatest(n_tok, 1) AS stopword_ratio,
           n_punct / greatest(n_chars, 1) AS punct_ratio,
           round((least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
                  + (1.0 - abs(n_stop / greatest(n_tok, 1) - 0.15) / 0.85)
                  + (1.0 - least(n_punct / greatest(n_chars, 1) * 5, 1.0))) / 3,
                 6) AS quality
    FROM st
    """,
    description="document quality scoring: stopword/punct ratios + composite score",
    tags=("documents", "text", "quality"),
)
def doc_quality_profile(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        stopword_ratio("text").alias("stopword_ratio"),
        punct_ratio("text").alias("punct_ratio"),
        quality_score("text").alias("quality"),
    )


@register(
    "doc_langid_accuracy",
    oracle=r"""
    WITH preds AS (
      SELECT lang,
             CASE WHEN len(list_filter(
                    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                    x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) >= 1
                  THEN 'en' ELSE 'other' END AS pred_lang
      FROM documents)
    SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM preds GROUP BY lang, pred_lang
    """,
    description="language-ID heuristic (stopword evidence) vs labeled lang column",
    tags=("documents", "text", "langid"),
)
def doc_langid_accuracy(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    return docs.groupBy("lang", predict_lang("text").alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "doc_minhash_lsh_candidates",
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
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    SELECT id_a, id_b FROM pairs
    """,
    description="MinHash(8)+LSH(4 bands x 2) near-dup candidate pairs; md5-seeded, engine-portable",
    tags=("documents", "dedup", "lsh"),
)
def doc_minhash_lsh_candidates(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
    return lsh_candidate_pairs(sig, bands=4, rows_per_band=2)


@register(
    "doc_jaccard_near_dup",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT id_a, id_b, c / (sa.sz + sb.sz - c) AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)
    SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.08
    """,
    description="3-gram Jaccard near-dup pairs via inverted-index co-occurrence join (never cross-join)",
    tags=("documents", "dedup", "jaccard"),
)
def doc_jaccard_near_dup(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sh = shingles(docs, n=3)
    # all-pairs mode is oracle-only at test SF (documented); opt out of
    # the posting-list guard's extra aggregate pass here — every other
    # caller gets the guard by default (test_jaccard_all_pairs_posting_guard)
    return jaccard_pairs(sh, threshold=0.08, max_posting_list=None)


@register(
    "doc_simhash",
    oracle=r"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id,
                   unnest(string_split(
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
            FROM documents)
      WHERE length(tok) > 0),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
    votes AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, (SELECT unnest(range(0, 16)) AS bit) b
      GROUP BY doc_id, b.bit)
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
    description="16-bit SimHash from token-md5 bits, majority vote per bit",
    tags=("documents", "dedup", "simhash"),
)
def doc_simhash(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    return simhash(docs, bits=16)


@register(
    "doc_fingerprints",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
    description="per-document content fingerprint (normalized md5)",
    tags=("documents", "text"),
)
def doc_fingerprints(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    return docs.select("doc_id", fingerprint("text").alias("fingerprint"))


# =====================================================================
# Embedding similarity search
# =====================================================================

_SQL_COSINE = """
list_cosine_similarity(a.e, b.e)
"""


@register(
    "emb_cosine_topk",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.e, c.e), 6) AS cosine_sim
      FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
    description="exact brute-force cosine top-5 (broadcast queries, corpus map-only)",
    tags=("embeddings", "similarity"),
)
def emb_cosine_topk(spark, sf_dir):
    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_sim", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


@register(
    "emb_bucketed_ann_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
              + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.e, c.e), 6) AS cosine_sim
      FROM v q JOIN v c ON q.bucket = c.bucket
       AND q.vec_id < 20 AND c.vec_id != q.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    description="sign-LSH bucketed ANN top-3: equi-join on bucket replaces the cross product (the 100 TB path)",
    tags=("embeddings", "similarity", "lsh"),
)
def emb_bucketed_ann_topk(spark, sf_dir):
    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    dims = [0, 1, 2, 3]
    q = (
        emb.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("query_id"),
            _as_double(F.col("embedding")).alias("qv"),
        )
        .withColumn("bucket", sign_bucket(F.col("qv"), dims))
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"),
    ).withColumn("bucket", sign_bucket(F.col("cv"), dims))
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_sim", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


@register(
    "emb_ivf_topk",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
    assign AS (
      SELECT v.vec_id, c.centroid_id,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC,
                        c.centroid_id ASC) AS rnk
      FROM v JOIN cents c ON true),
    cell AS (SELECT vec_id, centroid_id AS cell FROM assign WHERE rnk = 1),
    probes AS (
      SELECT vec_id AS query_id, centroid_id AS cell
      FROM assign WHERE vec_id < 10 AND rnk <= 2),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN cell a ON a.cell = p.cell AND a.vec_id != p.query_id),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(q.e, n.e), 6) AS cosine_sim
      FROM cand
      JOIN v q ON q.vec_id = query_id
      JOIN v n ON n.vec_id = neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rank
    FROM ranked WHERE rnk <= 5
    """,
    description=(
        "IVF approximate top-5: coarse-quantize corpus into 8 centroid "
        "cells (map-only broadcast argmax), probe 2 nearest cells per "
        "query, exact cosine within candidates (scale path: search "
        "touches ~nprobe/|cells| of the corpus)"
    ),
    tags=("embeddings", "similarity", "ivf"),
)
def emb_ivf_topk(spark, sf_dir):
    from ..operators.similarity import ivf_topk

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, centroids, k=5, nprobe=2)


@register(
    "emb_near_dup_cosine",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
              + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.e, b.e), 6) AS cosine_sim
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.3
    """,
    description="embedding-cosine near-dup pairs: LSH-bucket candidates + exact verify",
    tags=("embeddings", "dedup"),
)
def emb_near_dup_cosine(spark, sf_dir):
    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    dims = [0, 1, 2, 3]
    v = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).withColumn("bucket", sign_bucket(F.col("v"), dims))
    a, b = v.alias("a"), v.alias("b")
    sim = F.round(cosine(F.col("a.v"), F.col("b.v")), 6)
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cosine_sim", sim)
        .filter(F.col("cosine_sim") >= 0.3)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            "cosine_sim",
        )
    )


# =====================================================================
# Multimodal plumbing + streaming (rows-only where noted)
# =====================================================================


@register(
    "mm_media_meta",
    oracle="""
    WITH m AS (
      SELECT doc_id AS asset_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             octet_length(encode(text)) AS n,
             md5(text) AS checksum
      FROM documents)
    SELECT asset_id, media_type,
           CAST(n AS BIGINT) AS n_bytes,
           CAST(CASE media_type WHEN 'image' THEN 64 + n % 512
                                WHEN 'audio' THEN 0
                                ELSE 320 + n % 1280 END AS INT) AS width,
           CAST(CASE media_type WHEN 'image' THEN 64 + (n // 7) % 512
                                WHEN 'audio' THEN 0
                                ELSE 240 + (n // 3) % 720 END AS INT) AS height,
           CAST(CASE media_type WHEN 'image' THEN 0
                                WHEN 'audio' THEN 1000 + n % 60000
                                ELSE 5000 + n % 600000 END AS BIGINT) AS duration_ms,
           checksum
    FROM m
    """,
    description="multimodal metadata extraction via mapInPandas over binary payloads (decode stubbed deterministically; oracle checks the full Arrow round-trip)",
    tags=("multimodal", "pandas-udf"),
)
def mm_media_meta(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    media = documents_as_media(docs)
    return extract_media_meta(media)


@register(
    "stream_dedup_counts",
    # a single-drain run has empty watermark state (nothing late), so the
    # streaming result equals the batch distinct — fully oracle-checkable
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT (user_id, CAST(ts AS DATE))) AS BIGINT)
             AS n_unique_keys
    FROM events GROUP BY event_type
    """,
    description="Structured-Streaming ingest: file source → watermark → natural-key dropDuplicates → count per type (AvailableNow batch-drain semantics)",
    tags=("streaming",),
)
def stream_dedup_counts(spark, sf_dir):
    from ..streaming.ingest import stream_events_dedup_counts

    return stream_events_dedup_counts(spark, sf_dir)


@register(
    "stream_windowed_counts",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_c_sum
    FROM events GROUP BY 1, 2
    """,
    description="watermarked tumbling-window event-time aggregation (1-day windows): state dropped past the watermark bounds memory on unbounded streams (§2.9 parity-plus)",
    tags=("streaming", "window"),
)
def stream_windowed_counts(spark, sf_dir):
    from ..streaming.ingest import stream_windowed_counts as _swc

    return _swc(spark, sf_dir)


@register(
    "stream_series_state",
    oracle="""
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS max_c,
           CAST(max(CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hwm_ts
    FROM events GROUP BY 1, 2
    """,
    description=(
        "applyInPandasWithState custom stateful operator: per-series "
        "running count / max / high-water-mark advanced across "
        "micro-batches; O(1) state per key (2.9 parity-plus; the "
        "streaming form of TRAIN:377-389 + PUSH:160-167 bookkeeping)"
    ),
    tags=("streaming", "stateful", "pandas-udf"),
)
def stream_series_state(spark, sf_dir):
    from ..streaming.stateful import stream_series_running_state

    raw = stream_series_running_state(spark, sf_dir)
    # update-mode sinks append one row per key per batch; keep the
    # latest (n is cumulative, so max-n struct = final state)
    latest = raw.groupBy("user_id", "event_type").agg(
        F.max(F.struct("n", "max_c", "hwm_ts")).alias("s")
    )
    return latest.select(
        "user_id", "event_type", F.col("s.n").alias("n"),
        F.col("s.max_c").alias("max_c"), F.col("s.hwm_ts").alias("hwm_ts"),
    )


@register(
    "mm_media_features",
    oracle="""
    WITH base AS (
      SELECT doc_id AS asset_id,
             CASE doc_id % 3 WHEN 0 THEN 'image'
                             WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             octet_length(encode(text)) AS n, md5(text) AS d
      FROM documents)
    SELECT asset_id, media_type,
           CAST(('0x' || substring(d, 1, 8)) AS BIGINT) AS f0,
           CAST(('0x' || substring(d, 9, 8)) AS BIGINT) AS f1,
           CAST(('0x' || substring(d, 17, 8)) AS BIGINT) AS f2,
           CAST(('0x' || substring(d, 25, 8)) AS BIGINT) AS f3,
           CAST(CASE media_type WHEN 'image' THEN least(64 + n % 512, 224)
                                WHEN 'audio' THEN 0
                                ELSE least(320 + n % 1280, 224) END AS INT)
             AS resized_w,
           CAST(CASE media_type WHEN 'image' THEN least(64 + (n // 7) % 512, 224)
                                WHEN 'audio' THEN 0
                                ELSE least(240 + (n // 3) % 720, 224) END AS INT)
             AS resized_h
    FROM base
    """,
    description=(
        "multimodal decode -> feature-extract -> resize via mapInPandas: "
        "md5-word stub embedding + dimension clamp (production shape with "
        "a deterministic decoder; swap PIL/torchvision at the seam)"
    ),
    tags=("multimodal", "pandas-udf"),
)
def mm_media_features(spark, sf_dir):
    from ..operators.multimodal import extract_media_features

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    return extract_media_features(documents_as_media(docs))


@register(
    "doc_dedup_clusters",
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
      SELECT node, min(label) AS label FROM walk GROUP BY node)
    SELECT node AS doc_id, CAST(label AS BIGINT) AS cluster_id FROM cc
    """,
    description=(
        "iterative connected-components dedup clustering over MinHash-LSH "
        "candidate pairs: one union-find pass over the counted pair set "
        "(large/small-star rounds above the local-graph bound); "
        "cluster id = canonical min doc"
    ),
    tags=("documents", "dedup", "iterative"),
)
def doc_dedup_clusters(spark, sf_dir):
    from ..operators.dedup import dedup_clusters

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
    return dedup_clusters(pairs, docs, id_col="doc_id")


@register(
    "doc_bpe_token_counts",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS INT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '\w+'))
                + (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
             AS INT) AS n_bpe_tokens
    FROM documents
    """,
    description=(
        "token counting two ways: whitespace tokens + BPE-ish sub-word "
        "fragments (word runs + standalone punct; lookaround split in "
        "Spark, equivalent run/char-count identity in the RE2 oracle)"
    ),
    tags=("documents", "text", "tokens"),
)
def doc_bpe_token_counts(spark, sf_dir):
    from ..operators.textops import bpe_ish_token_count

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        token_count("text").alias("n_ws_tokens"),
        bpe_ish_token_count("text").cast("int").alias("n_bpe_tokens"),
    )


@register(
    "stream_session_windows",
    oracle="""
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    g AS (SELECT user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          FROM e),
    f AS (SELECT user_id, ts,
                 CASE WHEN prev IS NULL
                           OR epoch_us(ts) - epoch_us(prev) > 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM g),
    s AS (SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM f),
    sess AS (SELECT user_id, sid,
                    min(ts) AS session_start,
                    max(ts) + INTERVAL 30 MINUTE AS session_end,
                    CAST(count(*) AS BIGINT) AS n
             FROM s GROUP BY 1, 2),
    wm AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 10 MINUTE AS w
           FROM events)
    SELECT user_id, session_start, session_end, n
    FROM sess WHERE session_end < (SELECT w FROM wm)
    """,
    description=(
        "streaming session windows (30-min gap) with 10-min watermark: "
        "append mode emits a session once the watermark passes its end, "
        "so the oracle is the batch sessionization RESTRICTED to "
        "watermark-closed sessions — the late-data contract made exact "
        "(sessions still open at drain end are correctly withheld)"
    ),
    tags=("streaming", "session", "window"),
)
def stream_session_windows(spark, sf_dir):
    from ..streaming.ingest import _drain_to_table, _events_stream

    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )
    return _drain_to_table(agg, mode="append")


# =====================================================================
# Training-corpus curation composites: cluster-representative selection,
# C4-style filter chains, exact class centroids.
# =====================================================================

#: DuckDB CTE chain mirroring operators.textops quality expressions
#: (same formulas as the doc_quality_profile oracle, kept in one place
#: so composite queries reuse them).
_SQL_QUALITY = r"""
qnorm AS (
  SELECT doc_id, text, lang, source,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
  FROM documents),
qst AS (
  SELECT doc_id, lang, source,
         len(string_split(nt, ' ')) AS n_tok,
         len(list_filter(string_split(nt, ' '),
             x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS n_stop,
         length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
         length(text) AS n_chars
  FROM qnorm),
qscore AS (
  SELECT doc_id, lang, source, n_tok,
         n_stop / greatest(n_tok, 1) AS stop_ratio,
         round((least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
                + (1.0 - abs(n_stop / greatest(n_tok, 1) - 0.15) / 0.85)
                + (1.0 - least(n_punct / greatest(n_chars, 1) * 5, 1.0))) / 3,
               6) AS quality
  FROM qst)
"""


@register(
    "doc_dedup_keep_best",
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
    {_SQL_QUALITY},
    m AS (
      SELECT CAST(cc.label AS BIGINT) AS cluster_id, q.doc_id, q.quality
      FROM cc JOIN qscore q ON q.doc_id = cc.node),
    r AS (
      SELECT cluster_id, doc_id, quality,
             count(*) OVER (PARTITION BY cluster_id) AS n_members,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY quality DESC, doc_id ASC) AS rn
      FROM m)
    SELECT cluster_id, doc_id AS kept_doc_id, quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM r WHERE rn = 1
    """,
    description=(
        "dedup with representative selection: near-dup clusters (MinHash-"
        "LSH + connected components) keep their highest-QUALITY member "
        "instead of the min-id member — the form corpus curation actually "
        "ships. Ranking is on the 6-decimal-rounded score with an id "
        "tie-break, so the survivor set is engine-identical"
    ),
    tags=("documents", "dedup", "quality", "iterative"),
)
def doc_dedup_keep_best(spark, sf_dir):
    from ..operators.dedup import dedup_clusters

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
    clusters = dedup_clusters(pairs, docs, id_col="doc_id")
    q = docs.select("doc_id", quality_score("text").alias("quality"))
    j = clusters.join(q, "doc_id")
    wc = Window.partitionBy("cluster_id")
    w = wc.orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    return (
        j.withColumn("n_members", F.count(F.lit(1)).over(wc).cast("bigint"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            "quality",
            "n_members",
        )
    )


@register(
    "doc_corpus_filter",
    oracle=f"""
    WITH {_SQL_QUALITY},
    verdicts AS (
      SELECT source,
             CASE WHEN lang != 'en'        THEN 'non_english'
                  WHEN n_tok < 15          THEN 'too_short'
                  WHEN n_tok > 90          THEN 'too_long'
                  WHEN stop_ratio < 0.02   THEN 'low_stopword'
                  WHEN quality < 0.75      THEN 'low_quality'
                  ELSE 'kept' END AS verdict
      FROM qscore)
    SELECT source, verdict, CAST(count(*) AS BIGINT) AS n_docs
    FROM verdicts GROUP BY source, verdict
    """,
    description=(
        "C4-style corpus filter chain: language gate, length bounds, "
        "stopword-density (natural-language) gate, quality floor — first "
        "failing rule wins, per-source audit counts. Map-only expressions "
        "+ one small aggregate; at 100 TB the chain is embarrassingly "
        "parallel per split"
    ),
    tags=("documents", "text", "quality", "filter"),
)
def doc_corpus_filter(spark, sf_dir):
    from ..operators.textops import corpus_verdict

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    return docs.groupBy("source", corpus_verdict().alias("verdict")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "emb_label_centroids",
    oracle="""
    WITH ex AS (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS v_c
      FROM embeddings)
    SELECT label, dim,
           CAST(sum(v_c) AS BIGINT) AS sum_c,
           CAST(count(*) AS BIGINT) AS n,
           (sum(v_c) / count(*)) / 1000000.0 AS centroid
    FROM ex GROUP BY label, dim
    """,
    description=(
        "per-class embedding centroids, exactly: posexplode to "
        "(label, dim, micro-int) triples — float*1e6 is exact in double "
        "(24-bit mantissa + 14 bits of 5^6 < 53) — then integer sums and "
        "one identical final division. The k-means/IVF training primitive "
        "as a pure hash aggregate; at scale one shuffle of "
        "|labels|x|dims| partial rows"
    ),
    tags=("embeddings", "aggregate", "centroid"),
)
def emb_label_centroids(spark, sf_dir):
    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    ex = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "val")
    ).select(
        "label",
        F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("val").cast("double") * 1000000)
        .cast("bigint")
        .alias("v_c"),
    )
    return ex.groupBy("label", "dim").agg(
        F.sum("v_c").alias("sum_c"),
        F.count(F.lit(1)).alias("n"),
        ((F.sum("v_c") / F.count(F.lit(1))) / F.lit(1000000.0)).alias(
            "centroid"
        ),
    )


@register(
    "mm_frame_sample",
    oracle="""
    WITH media AS (
      SELECT doc_id AS asset_id, text,
             octet_length(encode(text)) AS n
      FROM documents WHERE doc_id % 3 = 2),
    framed AS (
      SELECT asset_id, text,
             least((5000 + n % 600000) // 1000, 8) AS n_frames
      FROM media)
    SELECT asset_id,
           CAST(u.i AS INT) AS frame_idx,
           CAST(u.i * 1000 AS BIGINT) AS t_ms,
           md5(text || ':' || CAST(u.i AS VARCHAR)) AS frame_checksum
    FROM framed, unnest(range(0, n_frames)) AS u(i)
    """,
    description=(
        "video frame sampling (1 fps capped at 8): one-to-many "
        "mapInPandas fan-out — each asset row emits n_frames frame rows "
        "with per-frame fingerprints; the stub decoder's duration rule "
        "is mirrored arithmetically in the oracle"
    ),
    tags=("multimodal", "mapInPandas", "fanout"),
)
def mm_frame_sample(spark, sf_dir):
    from ..operators.multimodal import sample_frames

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    return sample_frames(documents_as_media(docs))


@register(
    "doc_tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
      ) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS c
      FROM toks WHERE term <> '' GROUP BY doc_id, term),
    dl AS (SELECT doc_id, sum(c) AS len FROM tf GROUP BY doc_id),
    df AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term),
    n AS (SELECT count(*) AS nd FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round((CAST(tf.c AS DOUBLE) / dl.len)
                   * ln(CAST(n.nd AS DOUBLE) / df.dfc), 6) AS tfidf
      FROM tf
      JOIN dl ON tf.doc_id = dl.doc_id
      JOIN df ON tf.term = df.term
      CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term ASC) AS rnk
      FROM scored)
    SELECT doc_id, term, tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    description=(
        "tf-idf top-3 terms per document: explode -> (doc,term) counts "
        "-> doc-length and document-frequency aggs joined back -> "
        "score = (c/len)*ln(N/df). Per-doc rank window is bounded by "
        "vocabulary-per-doc; the df join is agg-to-agg (|vocab| rows). "
        "Determinism: identical division/log trees both engines, "
        "round-6 before ranking, term tie-break"
    ),
    tags=("documents", "text"),
)
def doc_tfidf_top_terms(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
            )
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    # doc length and document frequency as WINDOW sums over the single
    # (doc_id, term) aggregate instead of two more aggs joined back —
    # every extra reference to tf re-derived the token explode (4
    # parquet scans / 6 exchanges executed; this form: 2 scans / 3
    # exchanges, and the final rank window reuses the doc_id
    # partitioning of the len window)
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    scored = (
        tf.withColumn("dfc", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .withColumn("len", F.sum("c").over(Window.partitionBy("doc_id")))
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("c").cast("double") / F.col("len"))
                * F.log(F.col("nd").cast("double") / F.col("dfc")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@register(
    "emb_kmeans_assign",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e FROM v WHERE vec_id < 8),
    scored AS (
      SELECT v.vec_id, c.cid,
             round(list_cosine_similarity(v.e, c.e), 6) AS cs
      FROM v JOIN cent c ON v.vec_id >= 8),
    best AS (
      SELECT vec_id, cid, cs,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cs DESC, cid ASC) AS rnk
      FROM scored)
    SELECT cid AS centroid_id,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(sum(CAST(round(cs*1000000) AS BIGINT)) AS BIGINT)
             AS sum_cos_micro
    FROM best WHERE rnk = 1 GROUP BY cid
    """,
    description=(
        "k-means assignment step with deterministic seed centroids "
        "(vec_id < 8): nearest-centroid by rounded cosine, centroid-id "
        "tie-break, then per-centroid counts + integer-micro cosine "
        "mass. Centroids broadcast so assignment is map-only over the "
        "corpus; one tiny shuffle for the k-row agg. Pairs with "
        "emb_label_centroids (exact recompute) to form a full Lloyd "
        "iteration at scale"
    ),
    tags=("embeddings", "similarity"),
)
def emb_kmeans_assign(spark, sf_dir):
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
    w = Window.partitionBy("vec_id").orderBy(F.col("cs").desc(), F.col("cid").asc())
    best = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") == 1
    )
    return best.groupBy(F.col("cid").alias("centroid_id")).agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.sum(F.round(F.col("cs") * 1000000).cast("bigint"))
        .cast("bigint")
        .alias("sum_cos_micro"),
    )


@register(
    "stream_view_purchase_join",
    oracle="""
    SELECT v.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(v.event_id + p.event_id) AS BIGINT) AS pair_checksum
    FROM events v
    JOIN events p
      ON v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.user_id = v.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 DAY
    GROUP BY v.user_id
    """,
    description=(
        "stream-stream interval join: purchases attributed to prior "
        "views within a 2-day horizon, both sides watermarked so the "
        "join buffers have a derived TTL (bounded state on unbounded "
        "streams); checksum over joined id pairs pins the exact pair "
        "set against the batch self-join oracle"
    ),
    tags=("streaming", "join"),
)
def stream_view_purchase_join(spark, sf_dir):
    from ..streaming.ingest import stream_stream_view_purchase_join

    return stream_stream_view_purchase_join(spark, sf_dir)


@register(
    "doc_levenshtein_verify",
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
    nt AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS ntext
      FROM documents)
    SELECT p.id_a, p.id_b,
           CAST(levenshtein(ta.ntext, tb.ntext) AS BIGINT) AS edit_dist
    FROM pairs p
    JOIN nt ta ON p.id_a = ta.doc_id
    JOIN nt tb ON p.id_b = tb.doc_id
    WHERE levenshtein(ta.ntext, tb.ntext) * 10
          <= greatest(length(ta.ntext), length(tb.ntext)) * 3
    """,
    description=(
        "edit-distance verification of LSH candidates: exact "
        "levenshtein runs ONLY on the candidate set (|candidates| "
        "pairs, never the O(n^2) corpus), confirming near-dups at "
        "<=30% relative distance — the verify stage a production "
        "dedup pipeline runs between LSH recall and merge. Texts join "
        "in by id (two hash joins); comparison is integer-exact "
        "(dist*10 <= maxlen*3, no division). The quadratic compare is "
        "DOUBLY bounded: (1) levenshtein(a,b) >= |len(a)-len(b)|, so "
        "pairs failing the length-band cut |la-lb|*10 > max(la,lb)*3 "
        "drop BEFORE any text is joined or compared — only (id, "
        "length) pairs shuffle through the prefilter; (2) surviving "
        "pairs use the THRESHOLDED levenshtein form, whose banded DP "
        "early-exits at O(maxlen * threshold) instead of O(len_a * "
        "len_b) once the running distance provably exceeds the 30% "
        "bound (returns -1, filtered). Candidate-pair growth times "
        "full quadratic DP was the round-4 sf1 super-linear row "
        "(exp 1.11); both cuts attack exactly that product"
    ),
    tags=("documents", "dedup"),
)
def doc_levenshtein_verify(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
    # nt feeds la/lb (length prefilter) AND ta/tb (text joins) — four
    # references, each of which would re-derive the corpus scan +
    # normalization (no cross-reference CSE); checkpoint once
    nt = docs.select(
        "doc_id",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias(
            "ntext"
        ),
    ).withColumn("nlen", F.length("ntext")).localCheckpoint()
    # stage 1: length-only prefilter — join just (id, len), never text
    la = nt.select(F.col("doc_id").alias("id_a"), F.col("nlen").alias("la"))
    lb = nt.select(F.col("doc_id").alias("id_b"), F.col("nlen").alias("lb"))
    banded = (
        pairs.join(la, "id_a")
        .join(lb, "id_b")
        .filter(
            F.abs(F.col("la") - F.col("lb")) * 10
            <= F.greatest("la", "lb") * 3
        )
    )
    # stage 2: thresholded edit distance on survivors only; -1 == "bound
    # exceeded, DP abandoned early" and carries the filter for free
    ta = nt.select(F.col("doc_id").alias("id_a"), F.col("ntext").alias("ta"))
    tb = nt.select(F.col("doc_id").alias("id_b"), F.col("ntext").alias("tb"))
    out = (
        banded.select("id_a", "id_b")
        .join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "edit_dist",
            F.expr(
                "levenshtein(ta, tb, "
                "CAST(greatest(length(ta), length(tb)) * 3 DIV 10 AS INT))"
            ).cast("bigint"),
        )
        .filter(F.col("edit_dist") >= 0)
    )
    return out.select("id_a", "id_b", "edit_dist")


@register(
    "evt_sketch_profile",
    oracle=None,  # HLL / KLL sketch outputs are engine-specific by design;
    # tests/test_operators.py::test_sketch_profile_tolerance bounds them
    # against the exact answers instead
    description=(
        "sketch-based profiling, the 100 TB substitute for exact "
        "distinct/percentile: approx_count_distinct (HyperLogLog++, "
        "rsd 1%) and approx_percentile (accuracy 10k) per event_type. "
        "Sketches are mergeable -> map-side partials shuffle k fixed-"
        "size registers instead of |distinct values| rows; exact "
        "countDistinct would shuffle every distinct (type, user) pair. "
        "Rows-only driver check; the pytest tolerance gate asserts "
        "HLL within 2% of exact and KLL quantiles within 1 rank-%"
    ),
    tags=("events", "sketch", "aggregate"),
)
def evt_sketch_profile(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.expr(
            "approx_percentile(value_c, array(0.5, 0.99), 10000)"
        ).alias("value_c_p50_p99"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "doc_dedup_pipeline",
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
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    nt AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS ntext
      FROM documents),
    vpairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN nt ta ON c.id_a = ta.doc_id
      JOIN nt tb ON c.id_b = tb.doc_id
      WHERE levenshtein(ta.ntext, tb.ntext) * 10
            <= greatest(length(ta.ntext), length(tb.ntext)) * 3),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM vpairs
      UNION SELECT id_b, id_a FROM vpairs),
    cc AS (
      WITH RECURSIVE walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node)
      SELECT node, min(label) AS label FROM walk GROUP BY node),
    {_SQL_QUALITY},
    m AS (
      SELECT CAST(cc.label AS BIGINT) AS cluster_id, q.doc_id, q.quality
      FROM cc JOIN qscore q ON q.doc_id = cc.node),
    r AS (
      SELECT cluster_id, doc_id, quality,
             count(*) OVER (PARTITION BY cluster_id) AS n_members,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY quality DESC, doc_id ASC) AS rn
      FROM m)
    SELECT cluster_id, doc_id AS kept_doc_id, quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM r WHERE rn = 1
    """,
    description=(
        "the full dedup chain composed end-to-end as ONE plan: map-side "
        "MinHash signatures -> banded LSH candidates -> exact "
        "levenshtein verification (candidates only, <=30% relative "
        "distance) -> connected components over the VERIFIED edge set "
        "-> keep the highest-quality member per cluster. Stages hand "
        "off ids, not documents: raw text never re-shuffles between "
        "stages (each stage's column-pruned (doc_id,text) scan joins "
        "in by key), and CC runs on verified pairs only — LSH false "
        "positives cannot glue unrelated clusters together, which is "
        "the behavioral difference vs doc_dedup_keep_best (raw "
        "candidate edges)"
    ),
    tags=("documents", "dedup", "iterative", "composite"),
)
def doc_dedup_pipeline(spark, sf_dir):
    from ..operators.dedup import dedup_clusters

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    # stage 1: zero-shuffle signatures -> banded LSH self-join
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
    cand = lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
    # stage 2: exact edit-distance verify, candidate pairs only
    # doubly bounded like doc_levenshtein_verify (its round-4 sf1
    # super-linearity applied here too): a length-band prefilter on
    # (id, length) pairs before any text joins, then the thresholded
    # banded-DP levenshtein that early-exits past the 30% bound
    nt = docs.select(
        "doc_id",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias(
            "ntext"
        ),
    ).withColumn("nlen", F.length("ntext")).localCheckpoint()
    la = nt.select(F.col("doc_id").alias("id_a"), F.col("nlen").alias("la"))
    lb = nt.select(F.col("doc_id").alias("id_b"), F.col("nlen").alias("lb"))
    banded = (
        cand.join(la, "id_a")
        .join(lb, "id_b")
        .filter(
            F.abs(F.col("la") - F.col("lb")) * 10
            <= F.greatest("la", "lb") * 3
        )
        .select("id_a", "id_b")
    )
    ta = nt.select(F.col("doc_id").alias("id_a"), F.col("ntext").alias("ta"))
    tb = nt.select(F.col("doc_id").alias("id_b"), F.col("ntext").alias("tb"))
    verified = (
        banded.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(
            F.expr(
                "levenshtein(ta, tb, "
                "CAST(greatest(length(ta), length(tb)) * 3 DIV 10 AS INT))"
            )
            >= 0
        )
        .select("id_a", "id_b")
    )
    # stage 3: connected components over verified near-dup edges
    clusters = dedup_clusters(verified, docs, id_col="doc_id")
    # stage 4: representative selection by quality
    q = docs.select("doc_id", quality_score("text").alias("quality"))
    j = clusters.join(q, "doc_id")
    wc = Window.partitionBy("cluster_id")
    w = wc.orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    return (
        j.withColumn("n_members", F.count(F.lit(1)).over(wc).cast("bigint"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            "quality",
            "n_members",
        )
    )


@register(
    "doc_decontaminate",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
    cs AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 <> 0),
    tot AS (SELECT doc_id, count(*) AS n_shingles FROM cs GROUP BY doc_id),
    hit AS (SELECT cs.doc_id, count(*) AS n_hits
            FROM cs JOIN ev USING (shingle) GROUP BY cs.doc_id)
    SELECT t.doc_id,
           CAST(t.n_shingles AS BIGINT) AS n_shingles,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           coalesce(h.n_hits, 0) > 0 AS contaminated
    FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
    """,
    description=(
        "benchmark decontamination: flag training docs sharing any "
        "3-token shingle with the held-out eval set (doc_id%17=0 stands "
        "in for the benchmark corpus). The eval shingle dictionary is "
        "tiny -> broadcast as xxhash64 keys; the corpus side explodes "
        "map-side and hits resolve in the broadcast hash join, so the "
        "only corpus shuffle is the per-doc count agg. At 100 TB this "
        "is THE shape: never shuffle the corpus on shingle, always "
        "broadcast the benchmark dictionary"
    ),
    tags=("documents", "text", "decontamination"),
)
def doc_decontaminate(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    ev_sh = (
        shingles(docs.filter(F.col("doc_id") % 17 == 0))
        .select(F.xxhash64("shingle").alias("h"))
        .distinct()
    )
    cs = shingles(docs.filter(F.col("doc_id") % 17 != 0)).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )
    tot = cs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        cs.join(F.broadcast(ev_sh), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        tot.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@register(
    "doc_chunk_windows",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents),
    starts AS (
      SELECT doc_id, t, CAST(u.s AS INT) AS start
      FROM toks, unnest(range(0, len(t), 20)) AS u(s)
      WHERE len(t) > 0 AND t != ['']),
    chunks AS (
      SELECT doc_id, start,
             list_slice(t, start + 1, least(start + 40, len(t))) AS c
      FROM starts)
    SELECT doc_id,
           CAST(start / 20 AS INT) AS chunk_idx,
           CAST(start AS INT) AS start_tok,
           CAST(len(c) AS INT) AS n_tokens,
           array_to_string(c, ' ') AS chunk_text
    FROM chunks
    """,
    description=(
        "token-window chunking for training sequences: overlapping "
        "40-token windows at stride 20 per document — the standard "
        "context-window builder. Entirely map-side: sequence() builds "
        "the start offsets, transform+slice cuts the windows, one "
        "explode fans out (no shuffle, no Python); output size is the "
        "only cost and it's the point"
    ),
    tags=("documents", "text", "chunking"),
)
def doc_chunk_windows(spark, sf_dir, chunk: int = 40, stride: int = 20):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    d = docs.select("doc_id", toks.alias("t")).filter(
        (F.size("t") > 0) & ~((F.size("t") == 1) & (F.element_at("t", 1) == ""))
    )
    starts = d.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(stride))
        ).alias("start"),
    )
    c = F.slice(
        F.col("t"),
        F.col("start") + 1,
        F.least(F.lit(chunk), F.size("t") - F.col("start")),
    )
    return starts.select(
        "doc_id",
        (F.col("start") / stride).cast("int").alias("chunk_idx"),
        F.col("start").cast("int").alias("start_tok"),
        F.size(c).cast("int").alias("n_tokens"),
        F.concat_ws(" ", c).alias("chunk_text"),
    )


@register(
    "doc_repetition_filter",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents),
    big AS (
      SELECT doc_id,
             array_to_string(list_slice(t, i, i + 1), ' ') AS bg
      FROM toks, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2),
    stats AS (
      SELECT doc_id,
             count(*) AS n_bigrams,
             count(DISTINCT bg) AS n_distinct
      FROM big GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           round((n_bigrams - n_distinct) / CAST(n_bigrams AS DOUBLE), 6)
             AS rep_ratio,
           (n_bigrams - n_distinct) * 5 > n_bigrams AS repetitive
    FROM stats
    """,
    description=(
        "Gopher-style within-document repetition filter: fraction of "
        "duplicate 2-grams per doc; docs with >20%% duplicate bigrams "
        "flagged (integer-compare form: dup*5 > total, no float "
        "threshold). Map-only — bigram totals and distinct counts both "
        "come from array expressions on the row, zero shuffles"
    ),
    tags=("documents", "text", "quality"),
)
def doc_repetition_filter(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    d = docs.select("doc_id", toks.alias("t")).filter(F.size("t") >= 2)
    idx = F.sequence(F.lit(0), F.size("t") - 2)
    bigrams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("t"), i + 1, 2)))
    st = d.select(
        "doc_id",
        F.size(bigrams).cast("bigint").alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).cast("bigint").alias("n_distinct"),
    )
    return st.select(
        "doc_id",
        "n_bigrams",
        "n_distinct",
        F.round(
            (F.col("n_bigrams") - F.col("n_distinct"))
            / F.col("n_bigrams").cast("double"),
            6,
        ).alias("rep_ratio"),
        ((F.col("n_bigrams") - F.col("n_distinct")) * 5 > F.col("n_bigrams")).alias(
            "repetitive"
        ),
    )


@register(
    "doc_mix_sample",
    oracle="""
    WITH rated AS (
      SELECT doc_id, source,
             CASE WHEN CAST(substring(source, 4) AS INT) < 5  THEN 100
                  WHEN CAST(substring(source, 4) AS INT) < 10 THEN 50
                  ELSE 25 END AS rate_pct,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) AS u
      FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN u * 100 < 65536 * rate_pct THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(max(rate_pct) AS BIGINT) AS rate_pct
    FROM rated GROUP BY source
    """,
    description=(
        "corpus mixing / stratified downsampling: per-source target "
        "rates (100/50/25%% here standing in for domain weights) applied "
        "via deterministic md5-uniform acceptance (u*100 < 65536*rate, "
        "integer compare — no float RNG, rerun-stable, join-free). "
        "Map-only over the corpus + one tiny per-source agg; at 100 TB "
        "the accept test runs inside the scan stage and rejected rows "
        "never shuffle anywhere"
    ),
    tags=("documents", "sampling", "mixing"),
)
def doc_mix_sample(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    src_n = F.substring("source", 4, 10).cast("int")
    rate = (
        F.when(src_n < 5, 100).when(src_n < 10, 50).otherwise(25)
    )
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "long"
    )
    rated = docs.select(
        "doc_id", "source", rate.alias("rate_pct"), u.alias("u")
    )
    return rated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("u") * 100 < 65536 * F.col("rate_pct"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_kept"),
        F.max("rate_pct").cast("bigint").alias("rate_pct"),
    )


@register(
    "doc_train_shuffle",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 16 AS bucket,
             md5(CAST(doc_id AS VARCHAR)) AS ord_key
      FROM documents)
    SELECT doc_id,
           CAST(bucket AS INT) AS bucket,
           CAST(row_number() OVER (PARTITION BY bucket ORDER BY ord_key, doc_id)
                AS BIGINT) AS rank_in_bucket
    FROM b
    """,
    description=(
        "deterministic distributed training-data shuffle: docs hash "
        "into 16 buckets (salted md5) and get a stable pseudo-random "
        "rank WITHIN each bucket — the exported layout a trainer reads "
        "bucket-by-bucket for epoch randomization. This is the scale "
        "substitute for a global ORDER BY rand(): one hash shuffle on "
        "bucket + partition-local sort (repartition + "
        "sortWithinPartitions in the write path), no global sort, "
        "rerun-identical"
    ),
    tags=("documents", "sampling", "shuffle"),
)
def doc_train_shuffle(spark, sf_dir, n_buckets: int = 16):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sid = F.col("doc_id").cast("string")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("shuf:"), sid)), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    )
    b = docs.select(
        "doc_id",
        bucket.cast("int").alias("bucket"),
        F.md5(sid).alias("ord_key"),
    )
    w = Window.partitionBy("bucket").orderBy("ord_key", "doc_id")
    return b.select(
        "doc_id",
        "bucket",
        F.row_number().over(w).cast("bigint").alias("rank_in_bucket"),
    )


@register(
    "stream_corpus_filter",
    oracle=f"""
    WITH {_SQL_QUALITY},
    verdicts AS (
      SELECT source,
             CASE WHEN lang != 'en'        THEN 'non_english'
                  WHEN n_tok < 15          THEN 'too_short'
                  WHEN n_tok > 90          THEN 'too_long'
                  WHEN stop_ratio < 0.02   THEN 'low_stopword'
                  WHEN quality < 0.75      THEN 'low_quality'
                  ELSE 'kept' END AS verdict
      FROM qscore)
    SELECT source, verdict, CAST(count(*) AS BIGINT) AS n_docs
    FROM verdicts GROUP BY source, verdict
    """,
    description=(
        "streaming twin of the C4-style corpus filter: documents arrive "
        "as a file stream, the IDENTICAL corpus_verdict Column "
        "expression scores each row (unified batch/stream logic — the "
        "Spark execution-mode promise made concrete), and the row-level "
        "stream drains through foreachBatch with per-batch partial "
        "counts — the scale-safe drain; no row ever reaches the driver. "
        "Oracle = the batch filter over the same corpus"
    ),
    tags=("streaming", "documents", "quality"),
)
def stream_corpus_filter(spark, sf_dir):
    from ..operators.textops import corpus_verdict
    from ..streaming.ingest import _drain_via_foreachbatch, _stream_source

    docs = _stream_source(spark, sf_dir, "documents")
    flagged = docs.select("source", corpus_verdict().alias("verdict"))

    def _partial(b):
        return b.groupBy("source", "verdict").agg(
            F.count(F.lit(1)).alias("n_docs")
        )

    partials = _drain_via_foreachbatch(flagged, batch_fn=_partial)
    return partials.groupBy("source", "verdict").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs")
    )


@register(
    "emb_dedup_clusters",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
              + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.3),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    cc AS (
      WITH RECURSIVE walk(node, label) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node)
      SELECT node, min(label) AS label FROM walk GROUP BY node),
    sized AS (
      SELECT CAST(label AS BIGINT) AS cluster_id,
             CAST(count(*) AS BIGINT) AS n_members
      FROM cc GROUP BY label)
    SELECT cluster_id, n_members FROM sized WHERE n_members > 1
    """,
    description=(
        "semantic (embedding-space) dedup clustering: sign-LSH bucket "
        "candidates -> exact cosine verify (>=0.3) -> connected "
        "components -> multi-member cluster census. The embedding twin "
        "of the text dedup chain: same CC operator, candidate "
        "generation swaps shingle bands for hyperplane buckets — "
        "operators compose across modalities"
    ),
    tags=("embeddings", "dedup", "iterative"),
)
def emb_dedup_clusters(spark, sf_dir):
    from ..operators.dedup import dedup_clusters
    from ..operators.similarity import near_dup_pairs_cosine

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    pairs = near_dup_pairs_cosine(
        emb, threshold=0.3, id_col="vec_id", vec_col="embedding"
    ).select("id_a", "id_b")
    clusters = dedup_clusters(pairs, emb, id_col="vec_id")
    sized = clusters.groupBy(
        F.col("cluster_id").cast("bigint").alias("cluster_id")
    ).agg(F.count(F.lit(1)).alias("n_members"))
    return sized.filter(F.col("n_members") > 1)


@register(
    "doc_unk_mask",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    cnt AS (SELECT term, count(*) AS c FROM tf GROUP BY term),
    total AS (SELECT count(*) AS n FROM tf),
    vocab AS (
      SELECT term FROM cnt CROSS JOIN total WHERE c * 100 >= n),
    flagged AS (
      SELECT tf.doc_id,
             CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS unk
      FROM tf LEFT JOIN vocab v ON tf.term = v.term)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(unk) AS BIGINT) AS n_unk,
           round(sum(unk) / CAST(count(*) AS DOUBLE), 6) AS unk_ratio
    FROM flagged GROUP BY doc_id
    """,
    description=(
        "vocabulary pruning / OOV masking (tokenizer prep): terms with "
        "corpus frequency under 1%% of total tokens mask to <unk>; "
        "per-doc token and unk counts come back. The vocab is tiny by "
        "construction (frequency-thresholded) -> broadcast to the "
        "exploded token stream, so the corpus never shuffles on term; "
        "the relative threshold (c*100 >= n, integer compare) keeps "
        "semantics scale-proportional instead of hard-coding counts"
    ),
    tags=("documents", "text", "vocab"),
)
def doc_unk_mask(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    tf = docs.select(
        "doc_id",
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
            )
        ).alias("term"),
    ).filter(F.col("term") != "")
    cnt = tf.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = tf.agg(F.count(F.lit(1)).alias("n"))
    vocab = cnt.crossJoin(F.broadcast(total)).filter(
        F.col("c") * 100 >= F.col("n")
    ).select("term")
    flagged = tf.join(F.broadcast(vocab.withColumn("_v", F.lit(1))), "term", "left")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_unk"),
        F.round(
            F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("unk_ratio"),
    )


@register(
    "evt_series_dtw",
    oracle=None,  # a DP loop with loop-carried dependencies has no SQL
    # form; tests/test_operators.py::test_dtw_matches_reference verifies
    # the distances against a pure-Python reference implementation
    description=(
        "per-series dynamic-time-warping distance to a reference "
        "pattern (banded Sakoe-Chiba DP): the canonical "
        "custom-grouped-operator case — a loop-carried dynamic program "
        "that DataFrame algebra cannot express, so it earns the "
        "applyInPandas seam. One shuffle on the series key (reusing "
        "the standard series partitioning), then embarrassingly "
        "parallel per-group NumPy; rows-only driver check by design"
    ),
    tags=("events", "pandas-udf", "similarity"),
)
def evt_series_dtw(spark, sf_dir):
    # batch-carry mapInPandas form: thousands of small series make
    # per-group applyInPandas overhead dominate (14.6 s vs 2.9 s at
    # sf0.1); series_dtw (per-group form) kept for few-large-group use
    from ..operators.dtw import series_dtw_fast

    ev = keyed_events(spark, sf_dir)
    return series_dtw_fast(ev)


@register(
    "stream_static_enrich",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_mktsegment FROM customer),
    e AS (
      SELECT user_id,
             CAST(round(value*100) AS BIGINT) AS value_c
      FROM events)
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(e.value_c) AS BIGINT) AS value_c_sum
    FROM e JOIN c ON e.user_id % 100 + 1 = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    description=(
        "stream-static enrichment join (the production §2.9 staple "
        "missing from the single-source queries): the event stream "
        "joins a STATIC dimension (customer segment) via broadcast — "
        "no state store involved, the dim rides executor-side and the "
        "stream stays append-only — then aggregates per segment "
        "through the scale-safe foreachBatch partial drain. The "
        "user->custkey mapping is a synthetic fixture bridge"
    ),
    tags=("streaming", "join", "broadcast"),
)
def stream_static_enrich(spark, sf_dir):
    from ..streaming.ingest import _drain_via_foreachbatch, _events_stream

    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ev = _events_stream(spark, sf_dir).select(
        "user_id", F.round(F.col("value") * 100).cast("bigint").alias("value_c")
    )
    joined = ev.join(
        F.broadcast(cust),
        ev.user_id % 100 + 1 == cust.c_custkey,
    ).select(F.col("c_mktsegment").alias("segment"), "value_c")

    def _partial(b):
        return b.groupBy("segment").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_c").alias("value_c_sum"),
        )

    partials = _drain_via_foreachbatch(joined, batch_fn=_partial)
    return partials.groupBy("segment").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("value_c_sum").cast("bigint").alias("value_c_sum"),
    )


@register(
    "doc_pmi_collocations",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents),
    uni AS (
      SELECT unnest(t) AS w FROM toks),
    ucnt AS (SELECT w, count(*) AS c FROM uni WHERE w <> '' GROUP BY w),
    utot AS (SELECT sum(c) AS n FROM ucnt),
    big AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM toks, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2),
    bcnt AS (SELECT w1, w2, count(*) AS c2 FROM big
             WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2),
    btot AS (SELECT sum(c2) AS n2 FROM bcnt),
    scored AS (
      SELECT b.w1, b.w2, CAST(b.c2 AS BIGINT) AS n_pair,
             round(
               ln((CAST(b.c2 AS DOUBLE) / t2.n2)
                  / ((CAST(a1.c AS DOUBLE) / t1.n)
                     * (CAST(a2.c AS DOUBLE) / t1.n))), 6) AS pmi
      FROM bcnt b
      JOIN ucnt a1 ON b.w1 = a1.w
      JOIN ucnt a2 ON b.w2 = a2.w
      CROSS JOIN utot t1 CROSS JOIN btot t2
      WHERE b.c2 >= 5)
    SELECT w1, w2, n_pair, pmi,
           CAST(row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC)
                AS BIGINT) AS rnk
    FROM scored
    ORDER BY rnk LIMIT 20
    """,
    description=(
        "PMI collocation mining (phrase extraction for tokenizer/vocab "
        "prep): pointwise mutual information of adjacent token pairs — "
        "ln(p(ab)/(p(a)p(b))) with identical division/log trees in both "
        "engines, min support 5, round-6 + lexicographic tie-break. "
        "Shape: map-side bigram explode, two tiny count aggs, the "
        "unigram dictionary joined TWICE (both joins on word, "
        "broadcast-size), scalar totals via broadcast cross join; the "
        "top-20 rank is over the thresholded pair set only"
    ),
    tags=("documents", "text", "collocation"),
)
def doc_pmi_collocations(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    d = docs.select("doc_id", toks.alias("t"))
    uni = d.select(F.explode("t").alias("w")).filter(F.col("w") != "")
    # vocab-bounded aggregate referenced THREE times (left marginal,
    # right marginal, total) — persist it so the token explode runs
    # once, not per reference (executed 5 scans without; 2 with).
    # |vocab| ≪ |tokens| at any scale; MEMORY_AND_DISK by default.
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c")).persist()
    utot = ucnt.agg(F.sum("c").alias("n"))
    idx = F.sequence(F.lit(0), F.size("t") - 2)
    pairs = (
        d.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("t", i + 1).alias("w1"),
                        F.element_at("t", i + 2).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    # same double-reference shape for the bigram aggregate (scores +
    # total); persist for one pair-explode pass
    bcnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")).persist()
    btot = bcnt.agg(F.sum("c2").alias("n2"))
    a1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c_1"))
    a2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c_2"))
    scored = (
        bcnt.filter(F.col("c2") >= 5)
        .join(F.broadcast(a1), "w1")
        .join(F.broadcast(a2), "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            F.col("c2").cast("bigint").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("c2").cast("double") / F.col("n2"))
                    / (
                        (F.col("c_1").cast("double") / F.col("n"))
                        * (F.col("c_2").cast("double") / F.col("n"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 20)
        .orderBy("rnk")
    )


@register(
    "doc_dupgraph_triangles",
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
    deg AS (
      SELECT id, count(*) AS d FROM (
        SELECT id_a AS id FROM pairs
        UNION ALL SELECT id_b FROM pairs) GROUP BY id),
    e AS (
      SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND p.id_a < p.id_b)
                  THEN p.id_a ELSE p.id_b END AS src,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND p.id_a < p.id_b)
                  THEN p.id_b ELSE p.id_a END AS dst,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND p.id_a < p.id_b)
                  THEN db.d ELSE da.d END AS dd
      FROM pairs p
      JOIN deg da ON da.id = p.id_a
      JOIN deg db ON db.id = p.id_b),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1 JOIN e e2
        ON e1.src = e2.src
       AND ((e1.dd < e2.dd) OR (e1.dd = e2.dd AND e1.dst < e2.dst))
      JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
    members AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
    SELECT m.doc_id,
           CAST(count(*) AS BIGINT) AS n_triangles,
           CAST(max(d.d) AS BIGINT) AS degree
    FROM members m JOIN deg d ON d.id = m.doc_id
    GROUP BY m.doc_id
    """,
    description=(
        "distributed triangle counting on the near-dup candidate graph "
        "(the density diagnostic that separates boilerplate CLIQUES "
        "from chain-shaped false-positive runs before clustering): "
        "edges orient low->high by (degree, id) — the classic trick "
        "that bounds wedge fan-out by the max OUT-degree ~ sqrt(|E|) "
        "regardless of hub size — then one wedge self-join on the "
        "source + one closing equi-join on (dst, dst). Per-node "
        "triangle membership via a 3-way union. No tuple windows, no "
        "global order; every join is an equi-join on node ids. "
        "Candidates come from the standard MinHash-LSH chain (one "
        "band-key exchange), so the whole thing is posting-list-scale"
    ),
    tags=("documents", "dedup", "graph"),
)
def doc_dupgraph_triangles(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
    # the candidate frame feeds degree, orientation, wedges AND the
    # closing-edge join — without a checkpoint each reference re-runs
    # the shingle→minhash→band lineage over the corpus (measured 4
    # full recomputes); the materialized frame is pairs-sized (tiny
    # under LSH sparsity), never the corpus
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2).localCheckpoint()

    # deg feeds the orientation join twice AND the final member join;
    # e feeds the wedge build twice and the closing probe — both are
    # pairs-sized, so checkpoint rather than re-derive per reference
    # (the remaining plan dropped 50 → ~10 exchanges)
    deg = (
        pairs.select(F.col("id_a").alias("id"))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
        # EAGER: lazy checkpoints don't truncate lineage until first
        # materialization, so all three consumers (orientation x2, final
        # member join) re-planned the full degree build; the frame is
        # node-count-sized, so paying one tiny job up front is free
        .localCheckpoint()
    )
    da = deg.select(F.col("id").alias("id_a"), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias("id_b"), F.col("d").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("id_a") < F.col("id_b"))
    )
    e = (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .select(
            F.when(lower_first, F.col("id_a")).otherwise(F.col("id_b")).alias("src"),
            F.when(lower_first, F.col("id_b")).otherwise(F.col("id_a")).alias("dst"),
            F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dd"),
        )
    ).localCheckpoint()  # eager, same reasoning: 3 consumers (e1/e2/closing)
    e1 = e.select(
        F.col("src"), F.col("dst").alias("b"), F.col("dd").alias("db_")
    )
    e2 = e.select(
        F.col("src"), F.col("dst").alias("c"), F.col("dd").alias("dc_")
    )
    wedges = e1.join(e2, "src").filter(
        (F.col("db_") < F.col("dc_"))
        | ((F.col("db_") == F.col("dc_")) & (F.col("b") < F.col("c")))
    )
    closing = e.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"]).select(
        F.col("src").alias("a"), "b", "c"
    )
    # per-node membership via a map-side explode of ONE tri lineage —
    # the 3-way union re-planned the whole wedge+closing join subtree
    # per corner (measured 3 copies = 14 exchanges; now 1 copy)
    members = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("doc_id")
    )
    return (
        members.join(deg, members.doc_id == deg.id)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_triangles"),
            F.max("d").cast("bigint").alias("degree"),
        )
    )
