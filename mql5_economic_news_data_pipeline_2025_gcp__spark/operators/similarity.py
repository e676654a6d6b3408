"""Similarity search over embedding columns (``array<float>``).

Two paths, same semantics:

- ``cosine_topk``            : exact brute force — query set × corpus
  inverted to an equi-free broadcast join. Correctness baseline and the
  right choice when |queries| is small (broadcast the queries, stream the
  corpus: map-only, no shuffle of the corpus).
- ``bucketed_ann_topk``      : sign-LSH (random-hyperplane family) —
  bucket on the sign pattern of projections, search only within bucket.
  At 100 TB the corpus is hashed once (map-only), bucketed join replaces
  the cross product; recall is tunable via number of planes / probes.

Vector math is pure ``zip_with``/``aggregate`` column expressions
(JVM-side, codegen) — no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two double-array columns."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def cell_sims_lit(
    vec: Column, cents: list[tuple[int, list[float]]], round_digits: int = 6
) -> Column:
    """Per-centroid cosine similarities of ``vec`` against a LITERAL
    centroid dictionary, as one array column (index i ↔ ``cents[i]``).

    This is the genuinely map-only form of coarse assignment: the
    centroid dictionary (k_coarse · d floats — bounded, never a corpus)
    is baked into the plan as literals, so assignment is a narrow
    per-row expression with NO join, NO window, NO shuffle.
    :func:`ivf_assign` by contrast pays a row_number window (a shuffle
    of |corpus|·|centroids| rows) to pick the argmax — fine as the
    DataFrame-only API, wrong as the hot corpus path. Semantics match
    it exactly: cosine rounded to ``round_digits``, ties to the lower
    centroid id (``cents`` must be sorted by centroid id ascending;
    ``array_position`` returns the FIRST maximum).
    """
    cents_lit = F.lit([[float(x) for x in cv] for _, cv in cents])
    return F.transform(cents_lit, lambda c: F.round(cosine(vec, c), round_digits))


def cell_idx_expr(sims_col: Column) -> Column:
    """1-based index of the winning centroid in a ``cell_sims_lit``
    array (first max = lowest centroid id for sorted dictionaries)."""
    return F.array_position(sims_col, F.array_max(sims_col)).cast("int")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    → (query_id, neighbor_id, cosine_sim, rank). Self-matches excluded.
    The query side is broadcast; ranking ties break on neighbor id for
    determinism.
    """
    # per-row norm² below the join (r14): the join node keeps the child
    # projections separate, so qn2/cn2 evaluate once per row instead of
    # once per (query, neighbor) pair; sqrt(qn2)·sqrt(cn2) is the exact
    # double expression cosine()'s _norm(a)·_norm(b) evaluated
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn2", F.aggregate("qv", F.lit(0.0), lambda a, x: a + x * x))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("cn2", F.aggregate("cv", F.lit(0.0), lambda a, x: a + x * x))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            _dot(F.col("qv"), F.col("cv"))
            / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("cn2"))),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def sign_bucket(vec_col: Column, dims: list[int]) -> Column:
    """Deterministic sign-LSH bucket: one bit per listed dimension
    (coordinate hyperplanes — deterministic across engines; swap in
    seeded random planes for production recall)."""
    bits = [
        F.when(F.element_at(vec_col, d + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, d in enumerate(dims)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def bucketed_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: list[int] | None = None,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    → (query_id, neighbor_id, cosine_sim, rank). Recall < 1 by design;
    at scale this turns the cross product into an equi-join on bucket.

    ``multiprobe=1`` additionally probes every bucket at Hamming
    distance 1 from the query's bucket (one sign-bit flip) — the
    standard multi-probe LSH recall lever. Only the QUERY side fans out
    (1+len(dims) probe rows per query, still broadcast-small); the
    corpus keeps exactly one bucket per row, so the join stays an
    equi-join touching (1+planes)/2^planes of the corpus per query
    instead of all of it. Recall measured at sf0.01: 0.16 (probe=0) →
    0.51 (probe=1) — gated by ``test_ann_recall_at_k``.
    """
    dims = dims or [0, 1, 2, 3]
    # qn2/cn2: per-row norm² below the bucket join (r14) — see
    # cosine_topk; cosine_sim value is bit-identical
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("bucket", sign_bucket(F.col("qv"), dims)).withColumn(
        "qn2", F.aggregate("qv", F.lit(0.0), lambda a, x: a + x * x)
    )
    if multiprobe >= 1:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(len(dims))
            ],
        )
        q = q.withColumn("bucket", F.explode(probes))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("bucket", sign_bucket(F.col("cv"), dims)).withColumn(
        "cn2", F.aggregate("cv", F.lit(0.0), lambda a, x: a + x * x)
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            _dot(F.col("qv"), F.col("cv"))
            / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("cn2"))),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    round_digits: int = 6,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    centroid by cosine (→ its *cell*). Map-only: centroids are broadcast
    and the argmax is a per-row loop over |centroids| — no shuffle of the
    corpus. Ties break on centroid id; similarity rounded for
    cross-engine determinism.

    ``centroids`` needs (centroid_id, cv) columns. Production swaps the
    deterministic centroid pick for k-means fit; assignment/search are
    unchanged.
    """
    # per-row norm² on both join inputs (r14) — see cosine_topk; the
    # broadcast build materializes _cn2 once per centroid
    scored = (
        vectors.withColumn(
            "_vn2",
            F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x * x),
        )
        .crossJoin(
            F.broadcast(
                centroids.withColumn(
                    "_cn2",
                    F.aggregate("cv", F.lit(0.0), lambda a, x: a + x * x),
                )
            )
        )
        .withColumn(
            "_sim",
            F.round(
                _dot(F.col(vec_col), F.col("cv"))
                / (F.sqrt(F.col("_vn2")) * F.sqrt(F.col("_cn2"))),
                round_digits,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("_sim").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, vec_col, F.col("centroid_id").alias("cell"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF approximate top-k: corpus is partitioned into centroid cells
    (inverted file); each query probes its ``nprobe`` nearest cells and
    scores only those candidates.

    → (query_id, neighbor_id, cosine_sim, rank). At 100 TB: the one-off
    assignment is map-only; the search joins queries to ~nprobe/|cells|
    of the corpus instead of all of it, shuffling on cell — cells are the
    parallelism unit, skewed cells split by AQE. Recall tunes via
    nprobe × |centroids|.

    Both corpus cells and query probes are pure per-row expressions over
    the LITERAL centroid dictionary (bounded driver-side collect):
    argmax for the corpus, array-sort-and-slice for the nprobe probes —
    no assignment join, no probe window, no shuffle before the cell
    equi-join (the join/window form executed 5 exchanges / 4 scans;
    this one: 2 / 2). Semantics unchanged: rounded cosine, ties to the
    lower centroid id (struct sort (−sim, cid) ascending).
    """
    cent_rows = [
        (int(r["centroid_id"]), list(r["cv"]))
        for r in centroids.select("centroid_id", "cv").limit(100_001).collect()
    ]
    assert len(cent_rows) <= 100_000, "centroid dictionary is not bounded"
    cent_rows.sort(key=lambda t: t[0])
    cid_arr = F.lit([cid for cid, _ in cent_rows])

    v = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    # vn2/qn2: per-row norm² below the cell join (r14) — see cosine_topk
    cells = v.withColumn(
        "_idx", cell_idx_expr(cell_sims_lit(F.col("v"), cent_rows, round_digits))
    ).select(
        id_col,
        "v",
        F.element_at(cid_arr, F.col("_idx")).alias("cell"),
        F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x).alias("vn2"),
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn2", F.aggregate("qv", F.lit(0.0), lambda a, x: a + x * x))
    # nprobe nearest cells per query: sort (−sim, cid) structs ascending
    # = sim desc with ties to the lower cid, slice, explode — map-only
    sims = cell_sims_lit(F.col("qv"), cent_rows, round_digits)
    ranked_cells = F.array_sort(
        F.transform(
            sims,
            lambda s, i: F.struct(
                (-s).alias("ns"), F.element_at(cid_arr, i + 1).alias("cid")
            ),
        )
    )
    probes = q.withColumn(
        "_p", F.explode(F.slice(ranked_cells, 1, nprobe))
    ).select("query_id", "qv", F.col("_p.cid").alias("cell"), "qn2")
    from pyspark.sql import Window

    scored = (
        cells.join(probes, on="cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("vn2"))),
                round_digits,
            ),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            "cosine_sim",
            "rank",
        )
    )


def near_dup_pairs_cosine(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: list[int] | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ threshold).

    Candidate generation via the sign-LSH bucket (equi-join, not cross);
    exact cosine verification on candidates only. The similarity is
    rounded BEFORE the threshold compare (determinism contract: both
    engines sum doubles in unspecified order, so an unrounded boundary
    compare could flip a pair between engines)."""
    dims = dims or [0, 1, 2, 3]
    # norm² is a PER-ROW quantity: computed once per vector below the
    # bucket-join exchange instead of twice per candidate pair (r14 —
    # the aggregate() HOF lambda is interpreted per element, so the
    # old per-pair cosine() paid 3 full-array reductions per pair, 2
    # of them redundant). sqrt(n2_a)·sqrt(n2_b) is the exact same
    # double expression the old _norm(a)·_norm(b) evaluated —
    # cosine_sim is bit-identical.
    v = df.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("bucket", sign_bucket(F.col("v"), dims)).withColumn(
        "n2", F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn(
            "cosine_sim",
            F.round(
                _dot(F.col("a.v"), F.col("b.v"))
                / (F.sqrt(F.col("a.n2")) * F.sqrt(F.col("b.n2"))),
                round_digits,
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cosine_sim",
        )
    )


def semantic_dedup(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    every embedding to its nearest coarse centroid (its *cell*), compare
    pairs ONLY within a cell, and drop the higher-id side of any pair
    with cosine ≥ threshold → (id, cell, kept).

    This is the trick that makes embedding dedup feasible at corpus
    scale: clustering first turns the O(n²) all-pairs comparison into
    Σ|cell|² cell-bounded work — the within-cell join is an equi-join on
    the cell key (AQE splits hot cells), and assignment is the map-only
    literal-centroid argmax (``cell_sims_lit``; the centroid dictionary
    is bounded, never a corpus). Keep-lowest-id is the deterministic
    survivor rule (same convention as the exact/MinHash dedup family);
    similarity is rounded before the threshold compare (cross-engine
    boundary contract).
    """
    cid_arr = F.lit([int(cid) for cid, _ in cents])
    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    # n2 (norm²) is per-ROW: computed once per vector below the cell
    # equi-join instead of twice per within-cell pair (r14, same fix as
    # near_dup_pairs_cosine — sqrt(n2_a)·sqrt(n2_b) is the identical
    # double expression the old cosine() evaluated, bit-equal result)
    assigned = v.withColumn(
        "_idx", cell_idx_expr(cell_sims_lit(F.col("v"), cents))
    ).select(
        id_col,
        "v",
        F.element_at(cid_arr, F.col("_idx")).cast("bigint").alias("cell"),
        F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x).alias(
            "n2"
        ),
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(
            F.round(
                _dot(F.col("a.v"), F.col("b.v"))
                / (F.sqrt(F.col("a.n2")) * F.sqrt(F.col("b.n2"))),
                round_digits,
            )
            >= F.lit(threshold)
        )
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("_drop", F.lit(1)), id_col, "left")
        .select(
            id_col,
            "cell",
            F.when(F.col("_drop").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("kept"),
        )
    )


def sq_quantize(
    df: DataFrame,
    scale_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_max: int = 127,
) -> DataFrame:
    """Symmetric int8 scalar quantization: q[i] = round(x[i]·127/A)
    with A the corpus max-|x| (a 1-row frame, broadcast). → (id, qe).

    The quantized code is what a serving tier stores and scans: 8 bits
    per dimension instead of 32 — 4× less memory bandwidth on the
    candidate-scoring pass, and the dot product becomes exact integer
    arithmetic (SIMD-friendly, no FP rounding divergence between
    engines or hardware).
    """
    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("e"))
    return v.crossJoin(F.broadcast(scale_df)).select(
        id_col,
        F.transform(
            "e",
            lambda x: F.round(x * F.lit(float(bits_max)) / F.col("A")).cast(
                "long"
            ),
        ).alias("qe"),
    )


def sq_scale(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Corpus quantization scale A = max |x| — ONE tiny aggregate
    (map-side partial max per split, a single double to the driver-side
    exchange; at 100 TB this is the cheapest full-scan statistic there
    is, and in practice it is computed once at index-build time and
    stored with the index metadata)."""
    v = df.select(_as_double(F.col(vec_col)).alias("e"))
    return v.agg(F.max(F.array_max(F.transform("e", F.abs))).alias("A"))


def sq_topk(
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 12,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantization ANN with exact re-rank: int8 codes score the
    whole corpus (integer dot product, broadcast quantized queries),
    the top-``shortlist`` integer candidates per query get exact float
    cosine, and only that re-ranked order is returned as top-``k``.

    → (query_id, neighbor_id, cosine_sim, rnk). Plan: quantization is
    map-only against the broadcast 1-row scale; candidate scoring is
    |corpus|·|queries| integer ops with NO float math and NO shuffle
    (queries broadcast); the only shuffles are the two top-k windows —
    the first over |corpus| candidate rows, the second over
    |queries|·shortlist re-rank rows (tiny). Exact vectors are joined
    back ONLY for the shortlist, so the float path touches
    |queries|·shortlist rows regardless of corpus size.
    """
    from pyspark.sql import Window

    v = corpus.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("e")
    )
    qz = sq_quantize(corpus, sq_scale(corpus, vec_col), id_col, vec_col)
    q = qz.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("qe").alias("qa")
    )
    c = qz.select(F.col(id_col).alias("neighbor_id"), F.col("qe").alias("qb"))
    iscore = F.aggregate(
        F.zip_with("qa", "qb", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("iscore", iscore)
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("iscore").desc(), F.col("neighbor_id").asc()
    )
    short = (
        scored.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    qv = v.select(F.col(id_col).alias("query_id"), F.col("e").alias("qv"))
    cv = v.select(F.col(id_col).alias("neighbor_id"), F.col("e").alias("cv"))
    rr = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine_sim", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rr.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k.

    Retrieval that only maximizes query similarity returns near-duplicate
    neighbors; MMR greedily picks argmax of
    ``lam * sim(q, d) - (1 - lam) * max_{s in selected} sim(d, s)`` —
    the standard diversity re-rank for retrieval-augmented training-data
    selection.

    Scale shape: the SCALE problem is candidate generation, and that
    stays in the distributed exact/ANN path (`cosine_topk` here;
    swap in `bucketed_ann_topk`/`ivf_topk` for big corpora). The greedy
    loop itself is inherently sequential but BOUNDED — it sees only the
    per-query pool (``pool`` rows), so it runs as an Arrow-batched
    ``applyInPandas`` over query groups: per-group cost is pool^2 dot
    products (microseconds), parallelism is |queries|, and nothing
    driver-side ever sees a vector. Ties break on neighbor id —
    deterministic, matches the numpy reference in
    tests/test_stats_r4.py::test_mmr_matches_numpy_reference.
    """
    import pandas as pd

    cand = cosine_topk(corpus, queries, k=pool, id_col=id_col, vec_col=vec_col)
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    )
    pooled = cand.join(nvec, "neighbor_id").select(
        "query_id", "neighbor_id", "cosine_sim", "nv"
    )

    out_schema = (
        "query_id bigint, neighbor_id bigint, cosine_sim double, "
        "mmr_score double, mmr_rank int"
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["cosine_sim", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        V = np.stack(pdf["nv"].to_numpy())
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        Vn = V / norms[:, None]
        sims = Vn @ Vn.T  # pool x pool — bounded by construction
        rel = pdf["cosine_sim"].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        scores: list[float] = []
        remaining = list(range(n))
        while remaining and len(selected) < k:
            if selected:
                red = sims[np.ix_(remaining, selected)].max(axis=1)
            else:
                red = np.zeros(len(remaining))
            mmr = lam * rel[remaining] - (1.0 - lam) * red
            # argmax with neighbor-id tie-break: remaining is already in
            # (sim desc, id asc) order, so first max wins deterministically
            j = int(np.argmax(mmr))
            selected.append(remaining[j])
            scores.append(float(mmr[j]))
            remaining.pop(j)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[selected].to_numpy(),
                "neighbor_id": pdf["neighbor_id"].iloc[selected].to_numpy(),
                "cosine_sim": rel[selected],
                "mmr_score": np.round(scores, 6),
                "mmr_rank": np.arange(1, len(selected) + 1, dtype="int32"),
            }
        )

    return pooled.groupBy("query_id").applyInPandas(_greedy, out_schema)


# ----------------------------------------------------- all-pairs k-NN


#: Hard cap on the broadcast side of :func:`allpairs_knn_topk`.  The
#: all-pairs form is an EVAL-SAMPLE operator (leave-one-out k-NN,
#: k-NN-graph construction): the whole table is both query set and
#: corpus, so compute is QUADRATIC BY DEFINITION (N²·d flops — the sf1
#: probe measures exp ≈ 1.1–1.6, as N² predicts) and the input must be
#: a bounded sample — never a 100 TB corpus.  50k rows ≈ 160 GFLOP at
#: d=64, about a minute on one node; beyond that, build the k-NN
#: graph from the bucketed/IVF ANN candidate paths instead.
ALLPAIRS_MAX_ROWS = 50_000


def allpairs_knn_topk(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
) -> DataFrame:
    """Exact leave-one-out k-NN over a bounded embedding table:
    ``(query_id[, true_label], neighbor_id[, neigh_label], sim)`` with
    the global top-``k`` neighbors per query.

    Two-phase top-k with Arrow-batched BLAS scoring — the fast exact
    path that replaces the interpreted ``aggregate``-HOF cross join
    (measured 10.4 s → see bench for the k-NN eval at sf0.1):

    1. The full matrix (bounded — asserted ≤ :data:`ALLPAIRS_MAX_ROWS`,
       same broadcast posture the HOF form already had) ships to every
       executor once.
    2. Each candidate partition scores itself against ALL queries with
       one ``C @ Qᵀ`` matmul and emits only its LOCAL top-k per query.
       Ordering is done on int64 keys ``s6·2³² − neighbor_id`` where
       ``s6 = round(sim·10⁶)`` (HALF_UP, away from zero) — integer
       comparison, so partition-local selection, the final merge
       window, and a SQL oracle that sorts on (round(sim,6) DESC, id
       ASC) order IDENTICALLY; float summation-order differences are
       absorbed by the same 1e-6 quantization the HOF form relied on.
    3. One ``row_number`` window over the ≤ partitions·k·|Q| survivors
       picks the global top-k.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    sess = emb.sparkSession
    cols = [id_col, vec_col] + ([label_col] if label_col else [])
    rows = emb.select(*cols).limit(ALLPAIRS_MAX_ROWS + 1).collect()
    assert len(rows) <= ALLPAIRS_MAX_ROWS, (
        f"allpairs_knn_topk is an eval-sample operator (≤"
        f"{ALLPAIRS_MAX_ROWS} rows); sample first or use the ANN paths"
    )
    qids = np.array([r[id_col] for r in rows], dtype="int64")
    Q = np.array([r[vec_col] for r in rows], dtype="float64")
    qn = np.sqrt((Q * Q).sum(axis=1))
    qlab = (
        np.array([r[label_col] for r in rows], dtype="int64")
        if label_col
        else None
    )
    bc = sess.sparkContext.broadcast((qids, Q / qn[:, None], qlab))

    with_labels = label_col is not None
    out_schema = (
        "query_id long, true_label long, neighbor_id long, "
        "neigh_label long, sim double"
        if with_labels
        else "query_id long, neighbor_id long, sim double"
    )

    def _score(batches):
        b_qids, b_Qn, b_qlab = bc.value
        nq = len(b_qids)
        kmin = np.iinfo("int64").min
        for pdf in batches:
            cids = pdf[id_col].to_numpy().astype("int64")
            C = np.array(list(pdf[vec_col]), dtype="float64")
            if C.size == 0:
                continue
            cn = np.sqrt((C * C).sum(axis=1))
            S = (C / cn[:, None]) @ b_Qn.T  # (B, nq)
            # HALF_UP 1e-6 quantization inside int64 ordering keys.
            # Residual risk (documented): S comes from a float64 BLAS
            # matmul whose summation order differs from the oracle's;
            # a sim within one ulp of a .5e-6 boundary can quantize
            # differently between engines — the 1e-6 grid absorbs
            # everything except the boundary itself. If a flake ever
            # appears here, quantize both engines from identical
            # integer-scaled inputs.
            s6 = (np.floor(np.abs(S) * 1e6 + 0.5) * np.sign(S)).astype(
                "int64"
            )
            B = len(cids)
            # Tie-break on neighbor id WITHOUT packing raw int64 ids into
            # the key (ids can exceed 2^32, which would let id magnitude
            # outvote a 1e-6 sim quantum). Rank-compress the batch's ids
            # to [0, B) — rank order == id order since ids are unique —
            # so key = s6·(B+1) − rank orders exactly by
            # (sim DESC, id ASC) with |key| ≤ 1e6·(B+1), far from
            # overflow for any batch size.
            order = np.argsort(cids, kind="stable")
            cid_rank = np.empty(B, dtype="int64")
            cid_rank[order] = np.arange(B, dtype="int64")
            key = s6 * np.int64(B + 1) - cid_rank[:, None]
            key[cids[:, None] == b_qids[None, :]] = kmin  # self-match
            kk = min(k, B)
            sel = np.argpartition(-key, kk - 1, axis=0)[:kk]  # (kk, nq)
            kq = np.take_along_axis(key, sel, axis=0)
            keep = kq.ravel(order="F") != kmin
            q_idx = np.repeat(np.arange(nq), kk)
            c_idx = sel.ravel(order="F")
            s_val = np.take_along_axis(s6, sel, axis=0).ravel(order="F")
            data = {
                "query_id": b_qids[q_idx][keep],
                "neighbor_id": cids[c_idx][keep],
                "sim": s_val[keep] / 1e6,
            }
            if with_labels:
                clab = pdf[label_col].to_numpy().astype("int64")
                data["true_label"] = b_qlab[q_idx][keep]
                data["neigh_label"] = clab[c_idx][keep]
            yield pd.DataFrame(data)[
                [f.split(" ")[0] for f in out_schema.split(", ")]
            ]

    partial = emb.select(*cols).mapInPandas(_score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )
