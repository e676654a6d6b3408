"""Document deduplication operators for large-scale training-data
pipelines (engine extension beyond the reference surface; BASELINE.json
north-star).

All variants are expression/shuffle compositions — no Python in the hot
path except where noted. Scale notes per operator:

- exact:   one hash shuffle on the digest; identical to a groupBy.
- minhash: explode to shingles (map-side), per-doc signature agg (one
  shuffle on doc_id), band-bucket self-join (shuffle on band key).
  Bucket sizes are bounded by band width; skewed buckets (boilerplate
  shingle sets) are handled by AQE skew-join.
- simhash: same shape as minhash without the self-join (signature only);
  near-dup candidates = equal signature prefix buckets.
- ngram-jaccard: exact verification on candidate pairs only — never run
  it all-pairs at scale; feed it from the LSH candidates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------- exact


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Exact dedup on an md5 digest of (optionally whitespace-normalized,
    lowercased) text; keeps the lowest id per digest."""
    t = F.col(text_col)
    if normalize:
        t = F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")
    digest = F.md5(t)
    w = Window.partitionBy("_digest").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_digest", digest)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_digest")
    )


# ------------------------------------------------------------- shingles


def _tokens(text_col: str) -> F.Column:
    return F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")


def _with_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    out: Callable[[F.Column], F.Column],
) -> DataFrame:
    """→ (id, ``out(sh)``), where ``sh`` is the doc's distinct n-token
    shingles as an array column — entirely map-side (no shuffle). Docs
    with < n tokens → empty array. Every shingling kernel goes through
    here, because two plan shapes around the per-shingle lambda are
    quadratic in document length:

    - a lambda built around ``_tokens(text)``: Catalyst does no
      common-subexpression elimination inside lambda bodies, so it
      re-runs the regex tokeniser once per shingle. The tokens get a
      projection of their own below the lambda instead (CollapseProject
      keeps it apart: the tokens are read three times above it);
    - an ``explode`` over a projected shingle column: InferFiltersFrom
      Generate adds a ``size(sh) > 0`` filter on that column, and
      predicate pushdown rewrites it back through both projections onto
      the text. ``out`` therefore wraps the array in the same
      projection that builds it."""
    toks = F.col("_toks")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    sh = F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col), _tokens(text_col).alias("_toks")).select(
        F.col(id_col), out(F.array_distinct(sh))
    )


def shingles(df: DataFrame, text_col: str = "text", n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """→ (id, shingle) pairs, distinct within each doc (via map-side
    array_distinct — no dedup shuffle needed)."""
    return _with_shingles(
        df, id_col, text_col, n, lambda sh: F.explode(sh).alias("shingle")
    )


# -------------------------------------------------------------- minhash

#: Universal-hash seeds (a_k, b_k): h_k = (a_k*h + b_k) mod MINHASH_P over a
#: 32-bit base hash h. One md5 per shingle total, k variants by arithmetic —
#: ~k× less hashing than k independent digests, same engine portability
#: (the DuckDB oracle runs the identical formula).
MINHASH_SEEDS = [
    (1000003, 12345),
    (1000033, 54321),
    (1000037, 98765),
    (1000039, 56789),
    (1000081, 13579),
    (1000099, 97531),
    (1000117, 24680),
    (1000121, 86420),
]
MINHASH_P = 4294967311  # smallest prime > 2^32


def _base_hash(col: F.Column) -> F.Column:
    """Engine-portable 32-bit hash: first 8 hex chars of md5 as a long.
    DuckDB equivalent: CAST('0x' || substring(md5(x),1,8) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _uhash(h: F.Column, k: int) -> F.Column:
    a, b = MINHASH_SEEDS[k]
    return (F.lit(a).cast("long") * h + F.lit(b)) % F.lit(MINHASH_P)


def minhash_signatures(
    sh: DataFrame,
    num_hashes: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per doc from exploded (id, shingle) pairs: for
    hash k, min over shingles of (a_k*md5_32(shingle)+b_k) mod P.

    Shape: one hash aggregate on doc_id computing all ``num_hashes``
    mins in a single pass (map-side partial aggregation keeps the
    shuffle tiny: num_hashes longs per doc per mapper).
    """
    hashed = sh.select(F.col(id_col), _base_hash(F.col("shingle")).alias("_h"))
    aggs = [
        F.min(_uhash(F.col("_h"), k)).alias(f"mh{k}") for k in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_signatures_mapside(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Zero-shuffle MinHash: signatures computed per row from the shingle
    ARRAY — the scan is the only stage. Identical output to
    :func:`minhash_signatures`; preferred at scale (the explode+groupBy
    form shuffles |shingles| rows, this shuffles nothing).

    Two projections keep per-row work linear: the tokens get their own
    (see :func:`_with_shingles`), and so does the base-hash array, so
    the one md5-per-shingle is computed once, not once per signature
    column (CollapseProject keeps both splits: each non-cheap column is
    read more than once above it)."""
    hashed = _with_shingles(
        df,
        id_col,
        text_col,
        n,
        lambda sh: F.transform(sh, _base_hash).alias("_harr"),
    )
    cols = [
        F.array_min(F.transform(F.col("_harr"), lambda h: _uhash(h, k))).alias(
            f"mh{k}"
        )
        for k in range(num_hashes)
    ]
    return hashed.select(F.col(id_col), *cols)


def lsh_bands(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode each signature into its (band, bkey) rows — the frame
    both the candidate self-join and the cost model read. Each band
    key is the concat of its rows' minhashes."""
    return signatures.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Band the signature, self-join per band bucket → candidate pairs
    (a < b). Each band key is the concat of its rows' minhashes.

    The signatures feed BOTH sides of the self-join; the repartition
    below materializes them in one exchange that Spark reuses
    (ReusedExchange), so the expensive minhash computation runs once,
    not twice."""
    banded = lsh_bands(
        signatures.repartition(id_col), bands, rows_per_band, id_col
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


# ------------------------------------------------------ ngram jaccard


#: All-pairs mode refuses to run when any shingle's posting list exceeds
#: this (the self-join fan-out is sum over shingles of |postings|²; one
#: boilerplate shingle shared by 10^5 docs would emit 10^10 pairs).
MAX_POSTING_LIST = 10_000


def jaccard_pairs(
    sh: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    threshold: float = 0.0,
    max_posting_list: int = MAX_POSTING_LIST,
) -> DataFrame:
    """n-gram Jaccard similarity per pair.

    With ``pairs`` given (candidate set, e.g. from LSH), verifies only
    those — the scale path. Without, all-pairs via shingle co-occurrence:
    join shingle lists on equality (inverted-index join, NOT a cross
    join), count common shingles, |A∪B| = |A|+|B|-common. All-pairs mode
    is oracle/small-corpus only and GUARDED: if any shingle occurs in
    more than ``max_posting_list`` docs the join fan-out is quadratic in
    that count, and this raises instead of melting the cluster — feed an
    LSH candidate set via ``pairs`` instead (pass ``None`` to skip the
    guard's extra aggregate when pairs are supplied: it already is).

    The join key is ``xxhash64(shingle)`` — equality classes are the
    same (64-bit, negligible collision odds) and the shuffle moves 8-byte
    keys instead of shingle strings. The shingle frame is cached: it
    feeds the sizes aggregate and both join sides.
    """
    sh = sh.withColumn("_shash", F.xxhash64("shingle")).persist()
    if pairs is None and max_posting_list is not None:
        hot = (
            sh.groupBy("_shash")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("mx"))
            .first()["mx"]
        )
        if hot is not None and hot > max_posting_list:
            sh.unpersist()
            raise ValueError(
                f"all-pairs jaccard refused: a shingle occurs in {hot} docs "
                f"(> {max_posting_list}); the self-join would fan out "
                f"quadratically. Pass an LSH candidate set via pairs=."
            )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("sa")
    b = sh.alias("sb")
    common = (
        a.join(
            b,
            (F.col("sa._shash") == F.col("sb._shash"))
            & (F.col(f"sa.{id_col}") < F.col(f"sb.{id_col}")),
        )
        .groupBy(
            F.col(f"sa.{id_col}").alias("id_a"), F.col(f"sb.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    if pairs is not None:
        common = common.join(pairs, on=["id_a", "id_b"], how="inner")
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        common.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


# ------------------------------------------------- dedup clustering (CC)

#: Candidate-pair count at or below which :func:`dedup_clusters` and
#: :func:`dupgraph_hops` finish the graph in one Python worker instead
#: of distributed rounds. This is a memory bound, not a measured
#: crossover. The BFS holds ~250 bytes of Python heap per pair
#: (adjacency dict of lists plus the hop dict), so ~25 MB here and
#: ~256 MB at 1e6 pairs. The union-find holds ~120 bytes per pair (one
#: parent dict: tracemalloc peaked at 11.9 MB for 1e5 random pairs over
#: 1e5 ids).
#: On random pair sets in one local[4] JVM the local BFS still used
#: less CPU than the rounds at 1e6 pairs (8.0 vs 28.1 s; 1.4 vs 3.9 s
#: at 1e5), but it runs on one core, so its wall time grows fastest
#: (6.8 vs 10.7 s at 1e6).
LOCAL_GRAPH_MAX_PAIRS = 100_000

#: Round cap of :func:`dedup_clusters`' large/small-star loop. The loop
#: takes O(log n) rounds; an edge set still changing at the cap raises.
STAR_MAX_ROUNDS = 30


def _local_components(batches):
    """mapInPandas body of :func:`dedup_clusters`' local path: a
    union-find that always hangs the larger root under the smaller, so
    every root is its component's minimum."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for pdf in batches:
        for a, b in zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()):
            ra = find(parent.setdefault(a, a))
            rb = find(parent.setdefault(b, b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    yield pd.DataFrame(
        {"node": nodes, "label": [find(v) for v in nodes]}, dtype="int64"
    )


def _star_components(edges: DataFrame) -> DataFrame:
    """Distributed path of :func:`dedup_clusters`: alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") → (node, label).

    large-star: every node connects its strictly-larger neighbors to
    the minimum of its closed neighborhood; small-star does the same
    for smaller-or-equal neighbors. Each is one groupBy + one equi-join
    over the EDGE set (which shrinks toward stars), and the rounds are
    O(log n) where min-label propagation needs O(diameter). Each round
    is checkpointed, so the plan does not grow with the round count;
    convergence = edge set stable, checked via an order-insensitive
    hash sum (one ``first()`` per round).
    """

    def _sig(df: DataFrame) -> int:
        # order-insensitive edge-set signature (canonical orientation)
        a = F.least("u", "v")
        b = F.greatest("u", "v")
        return (
            df.select(F.xxhash64(a, b).cast("decimal(38,0)").alias("h"))
            .agg(F.sum("h"))
            .first()[0]
            or 0
        )

    def _large_star(ed: DataFrame) -> DataFrame:
        adj = ed.unionByName(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = adj.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("mn", F.col("u")).alias("mn"))
        j = adj.join(m, "u")
        return (
            j.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        # orient every edge from its larger endpoint
        o = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = o.groupBy("u").agg(F.min("v").alias("mn"))
        j = o.join(m, "u")
        out = j.select(F.col("v").alias("u"), F.col("mn").alias("v")).unionByName(
            m.select("u", F.col("mn").alias("v"))
        )
        return out.filter(F.col("u") != F.col("v")).distinct()

    e = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    prev = _sig(e)
    for _ in range(STAR_MAX_ROUNDS):
        # lazy checkpoint — materialized by the _sig action (one job
        # per round instead of two), lineage cut is identical
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _sig(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"dedup_clusters: the large/small-star edge set still changed "
            f"after STAR_MAX_ROUNDS={STAR_MAX_ROUNDS} rounds"
        )
    # post-convergence the edge set is a union of stars oriented
    # (member -> center); the center is the component minimum
    return e.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("label"))


def dedup_clusters(
    pairs: DataFrame, nodes: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Connected components over near-dup candidate pairs (id_a, id_b
    bigint) → (``id_col``, cluster_id) for every row of ``nodes``, with
    cluster id = min id in the component (the canonical survivor). The
    iterative step LSH/Jaccard feed into: pairs only say "these two are
    similar"; clustering turns that into dedup groups.

    The pairs are projected to (id_a, id_b), lazily checkpointed and
    counted once; the count picks the path.

    - At most :data:`LOCAL_GRAPH_MAX_PAIRS` pairs: one ``coalesce(1)
      .mapInPandas`` union-find pass. It runs no job until the result
      is read; each distributed round below launches jobs while the
      plan is built.
    - Above it, the large/small-star rounds of :func:`_star_components`,
      the only path for a graph one worker cannot hold.

    Only edge-touched nodes are labelled; every other node rejoins as
    its own singleton cluster in one left join. The component minimum
    does not depend on edge order, so both paths give the same,
    deterministic labelling.

    TRADE (§5): ``localCheckpoint`` blocks live in executor storage —
    on a cluster with executor loss / dynamic allocation the truncated
    lineage is unrecoverable and the job fails; use reliable
    ``checkpoint()`` to a checkpoint dir there.
    """
    edges = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    if edges.count() <= LOCAL_GRAPH_MAX_PAIRS:
        labels = edges.coalesce(1).mapInPandas(
            _local_components, schema="node long, label long"
        )
    else:
        labels = _star_components(edges)
    ids = nodes.select(F.col(id_col))
    return ids.join(labels, ids[id_col] == labels["node"], "left").select(
        F.col(id_col),
        F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id"),
    )


# ----------------------------------------------------- dup-graph BFS

#: Hop cap of :func:`dupgraph_hops`. It must match the recursive CTE of
#: the ``doc_dupgraph_bfs`` oracle (``dist < 3``), which it also keeps
#: finite.
BFS_MAX_HOPS = 3


def _local_hops(batches):
    """mapInPandas body of :func:`dupgraph_hops`'s local path: the same
    seeds and hop cap as the distributed rounds, as a plain BFS."""
    import pandas as pd

    adj: dict = {}
    for pdf in batches:
        for a, b in zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()):
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
    hops = {v: 0 for v, nbrs in adj.items() if min(nbrs) > v}
    frontier = list(hops)
    for r in range(1, BFS_MAX_HOPS + 1):
        nxt = []
        for v in frontier:
            for w in adj[v]:
                if w not in hops:
                    hops[w] = r
                    nxt.append(w)
        frontier = nxt
    yield pd.DataFrame(
        {"doc_id": list(hops), "hops": list(hops.values())}, dtype="int64"
    )


def dupgraph_hops(pairs: DataFrame) -> DataFrame:
    """Multi-source BFS hop distances over the undirected graph of
    ``pairs`` (id_a, id_b bigint) → (doc_id, hops bigint). Seeds are
    the local minima (nodes with no smaller neighbour — every component
    has at least one); nodes more than :data:`BFS_MAX_HOPS` from every
    seed are absent.

    ``pairs`` must be materialized (checkpointed): it is counted once
    here and read again by the path the count picks.

    - At most :data:`LOCAL_GRAPH_MAX_PAIRS` pairs: one ``coalesce(1)
      .mapInPandas`` pass. It adds no exchange and runs no job until the
      result is read; the distributed rounds below each launch jobs
      while the plan is built (a lazy ``localCheckpoint`` over shuffles
      materializes its AQE stages eagerly), about four each.
    - Above it, :data:`BFS_MAX_HOPS` synchronous rounds: each is an
      edge join keyed on the node id followed by a min-dist aggregate
      on the same key — one co-partitioned shuffle per round — and a
      ``localCheckpoint`` truncates the lineage as the CC kernel does.
      Each round re-expands the full distance table rather than keeping
      a frontier frame: at 3 rounds that costs less than the extra
      anti-join a frontier needs.
    """
    if pairs.count() <= LOCAL_GRAPH_MAX_PAIRS:
        return pairs.select("id_a", "id_b").coalesce(1).mapInPandas(
            _local_hops, schema="doc_id long, hops long"
        )
    edges = (
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .unionAll(
            pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d"))
        )
        .localCheckpoint(eager=False)
    )
    cur = (
        edges.groupBy("s")
        .agg(F.min("d").alias("mn"))
        .filter(F.col("mn") > F.col("s"))
        .select(F.col("s").alias("v"), F.lit(0).alias("dist"))
    )
    for r in range(1, BFS_MAX_HOPS + 1):
        expanded = cur.join(edges, cur["v"] == edges["s"]).select(
            F.col("d").alias("v"), F.lit(r).alias("dist")
        )
        cur = (
            cur.unionAll(expanded)
            .groupBy("v")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return cur.select(
        F.col("v").alias("doc_id"), F.col("dist").cast("bigint").alias("hops")
    )


# --------------------------------------------------------------- simhash


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash signature per doc from token md5 bits.

    bit j of the signature = majority vote of bit j across token hashes
    (each token's md5 first 4 bytes, engine-portable). Implemented as
    explode(tokens) × explode(bit positions) → conditional sum → bit
    reassembly; two narrow shuffles on doc_id.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(_tokens(text_col))).alias("tok")
    ).filter(F.length("tok") > 0)
    # token hash: first 8 hex chars of md5 → 32-bit int (conv base 16)
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    bitted = toks.withColumn("h", h).select(
        id_col, F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"), "h"
    )
    votes = bitted.withColumn(
        "vote",
        F.when(F.expr("shiftright(h, bit)").bitwiseAND(1) == 1, 1).otherwise(-1),
    ).groupBy(id_col, "bit").agg(F.sum("vote").alias("v"))
    sig = votes.withColumn(
        "bitval",
        F.when(F.col("v") > 0, F.pow(2, F.col("bit")).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        ),
    ).groupBy(id_col).agg(F.sum("bitval").alias("simhash"))
    return sig

