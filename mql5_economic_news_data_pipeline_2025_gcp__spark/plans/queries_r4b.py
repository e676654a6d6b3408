"""Round-4 (session 3) additions: journey analytics — frequent event
paths, gap-constrained funnels, audience overlap, and Markov
removal-effect attribution.

All follow the determinism contract in ``registry`` — integer-exact
counting, identical division trees on both engines, deterministic
tie-breaks.  Reference parity: these extend the reference's
event-sequence surface (PUSH's per-(Currency,Event) series shape) with
the journey queries a production event pipeline runs next; none exist
in the reference, all are Spark-first.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .common import fan_out, keyed_events, t
from .registry import register


@register(
    "evt_topk_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t2,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t3
      FROM events),
    p AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS path,
             count(*) AS n
      FROM seq WHERE t3 IS NOT NULL
      GROUP BY 1),
    r AS (
      SELECT path, CAST(n AS BIGINT) AS n,
             CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT)
               AS rnk
      FROM p)
    SELECT path, n, rnk FROM r WHERE rnk <= 10
    """,
    description=(
        "top-10 most frequent length-3 event-type paths across user "
        "journeys (sequence-mining lite): two leads within each user's "
        "(ts, event_id) order build the trigram, a global count "
        "collapses to at most |types|³ rows, and the final rank runs "
        "on that tiny frame. Shape: ONE shuffle on user_id for the "
        "window; the path aggregate is map-side-combinable (125 "
        "distinct trigrams max here), so the top-k never sorts the "
        "event log — the classic mistake is ranking the raw sequence "
        "table. Deterministic tie-break: (n DESC, path ASC)"
    ),
    tags=("events", "window", "sequence", "topk"),
)
def evt_topk_paths(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    p = seq.groupBy(
        F.concat_ws(">", "event_type", "t2", "t3").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    # rank over the ≤|types|³-row aggregate only
    rnk = F.row_number().over(
        Window.orderBy(F.col("n").desc(), F.col("path").asc())
    )
    return (
        p.select("path", F.col("n").cast("bigint").alias("n"),
                 rnk.cast("bigint").alias("rnk"))
        .filter(F.col("rnk") <= 10)
    )


@register(
    "evt_windowed_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, event_type, ts,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS tv
      FROM events),
    s2 AS (
      SELECT user_id, event_type, ts, tv,
             min(CASE WHEN event_type = 'click' AND ts > tv
                       AND ts <= tv + INTERVAL 24 HOUR THEN ts END)
               OVER (PARTITION BY user_id) AS tc
      FROM s1),
    s3 AS (
      SELECT user_id, tv, tc,
             min(CASE WHEN event_type = 'purchase' AND ts > tc
                       AND ts <= tc + INTERVAL 48 HOUR THEN ts END)
               OVER (PARTITION BY user_id) AS tp
      FROM s2),
    u AS (
      SELECT user_id, max(tv) AS tv, max(tc) AS tc, max(tp) AS tp
      FROM s3 GROUP BY user_id)
    SELECT
      CAST(count(tv) AS BIGINT) AS n_view,
      CAST(count(tc) AS BIGINT) AS n_click_24h,
      CAST(count(tp) AS BIGINT) AS n_purchase_48h
    FROM u
    """,
    description=(
        "gap-constrained ordered funnel (view → click within 24 h → "
        "purchase within 48 h), greedy-first-chain semantics: the "
        "anchor is each user's FIRST view, the click must land inside "
        "(tv, tv+24h], the purchase inside (tc, tc+48h]. Shape: three "
        "stacked whole-partition windows on user_id — each stage's "
        "threshold is a conditional min over the SAME partitioning, so "
        "Catalyst chains all three Window operators behind ONE "
        "exchange (asserted by test_windowed_funnel_single_exchange); "
        "the per-stage self-join formulation (the classic funnel "
        "anti-pattern) would pay k shuffled joins over the event log. "
        "The per-user collapse reuses the partitioning; the final fold "
        "is a 3-counter global agg"
    ),
    tags=("events", "window", "funnel"),
)
def evt_windowed_funnel(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).select("user_id", "event_type", "ts")
    wu = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "tv",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu),
    )
    s2 = s1.withColumn(
        "tc",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("tv"))
                & (F.col("ts") <= F.col("tv") + F.expr("INTERVAL 24 HOUR")),
                F.col("ts"),
            )
        ).over(wu),
    )
    s3 = s2.withColumn(
        "tp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("tc"))
                & (F.col("ts") <= F.col("tc") + F.expr("INTERVAL 48 HOUR")),
                F.col("ts"),
            )
        ).over(wu),
    )
    u = s3.groupBy("user_id").agg(
        F.max("tv").alias("tv"),
        F.max("tc").alias("tc"),
        F.max("tp").alias("tp"),
    )
    return u.agg(
        F.count("tv").cast("bigint").alias("n_view"),
        F.count("tc").cast("bigint").alias("n_click_24h"),
        F.count("tp").cast("bigint").alias("n_purchase_48h"),
    )


@register(
    "evt_audience_overlap",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, event_type FROM events),
    sizes AS (
      SELECT event_type, count(*) AS n FROM d GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM d a JOIN d b ON a.user_id = b.user_id
                        AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           round(CAST(p.n_both AS DOUBLE)
                 / (sa.n + sb.n - p.n_both), 6) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.event_type = p.type_a
    JOIN sizes sb ON sb.event_type = p.type_b
    """,
    description=(
        "pairwise audience overlap between event types — the "
        "segment-intersection question behind campaign planning. NOT "
        "the textbook distinct+self-join (that shape costs 3 shuffles "
        "and re-scans the log for the size table): ONE collect_set "
        "aggregation per user dedups types in the combiner, a "
        "map-side double-explode emits each user's ordered type pairs "
        "(a ≤ b, fan-out bounded by |types|²), and a == b rows double "
        "as the per-type audience sizes — so pair counts AND sizes "
        "come out of a single |types|²-row aggregate in one lineage. "
        "Sizes are then window-lifted onto the pairs (two windows "
        "over ≤|types|² rows — no join-back, no second scan). Exact "
        "Jaccard from |A∩B|/(|A|+|B|−|A∩B|). At 100 TB the per-user "
        "set is bounded by the type vocabulary; when type cardinality "
        "is unbounded, the HLL inclusion-exclusion variant "
        "(evt_hll_rollup_distinct's sketch machinery) replaces the "
        "pair explosion with mergeable per-type sketches"
    ),
    tags=("events", "aggregate", "set", "overlap"),
)
def evt_audience_overlap(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    sets = ev.groupBy("user_id").agg(
        F.collect_set("event_type").alias("types")
    )
    # ordered pairs incl. the diagonal: (a,a) rows carry audience sizes
    pairs = (
        sets.select(F.explode("types").alias("type_a"), "types")
        .select("type_a", F.explode("types").alias("type_b"))
        .filter(F.col("type_a") <= F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # window-lift the diagonal counts onto each pair: (a,a) lives in
    # both the partitionBy(type_a) and partitionBy(type_b) groups of
    # every (a,b) pair — two tiny windows, one lineage, no join-back
    n_a = F.max(
        F.when(F.col("type_a") == F.col("type_b"), F.col("n"))
    ).over(Window.partitionBy("type_a"))
    n_b = F.max(
        F.when(F.col("type_a") == F.col("type_b"), F.col("n"))
    ).over(Window.partitionBy("type_b"))
    out = (
        pairs.withColumn("n_a", n_a)
        .withColumn("n_b", n_b)
        .filter(F.col("type_a") < F.col("type_b"))
    )
    return out.select(
        "type_a",
        "type_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n").cast("bigint").alias("n_both"),
        F.round(
            F.col("n").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n")),
            6,
        ).alias("jaccard"),
    )


@register(
    "evt_markov_attribution",
    oracle=None,  # linear-system solve is not SQL-expressible; gated by
    # tests/test_markov_attribution.py's pure-python reference instead
    description=(
        "Markov removal-effect attribution over user journeys: "
        "journeys truncate at the first purchase (absorbing "
        "conversion) or end in a NULL absorber; transition counts "
        "(START → first, state → next) aggregate distributed — ONE "
        "user_id window shuffle, |states|² output — then the "
        "absorption probability P(conv | START) solves a tiny dense "
        "linear system on the driver (numpy, ≤(|types|+1)² — same "
        "bounded out-of-band pattern as emb_pca_project's d² "
        "covariance). Removal effect per channel c = 1 − p(without "
        "c)/p(base), the standard data-driven attribution measure. "
        "The distributed part scales with the event log; the solve is "
        "O(|types|³) regardless of data size"
    ),
    tags=("events", "sequence", "markov", "attribution", "driver-solve"),
)
def evt_markov_attribution(spark, sf_dir):
    counts = _markov_transition_counts(spark, sf_dir)
    rows = counts.collect()  # bounded: ≤ (|types|+1) × (|types|+2)
    assert len(rows) <= 2048, "transition matrix unexpectedly large"
    effects = _removal_effects(
        [(r["src"], r["dst"], r["n"]) for r in rows]
    )
    out = spark.createDataFrame(
        effects, "channel string, p_base double, removal_effect double"
    )
    return out.select(
        "channel",
        F.round("p_base", 6).alias("p_base"),
        F.round("removal_effect", 6).alias("removal_effect"),
    )


def _markov_transition_counts(spark, sf_dir):
    """Distributed transition counts with START / purchase / NULL
    absorbers; journeys truncate at the first purchase."""
    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    # first-purchase row per user (NULL → journey never converts)
    first_p = F.min(
        F.when(F.col("event_type") == "purchase", F.col("rn"))
    ).over(Window.partitionBy("user_id"))
    kept = (
        rn.withColumn("first_p", first_p)
        .filter(
            F.col("first_p").isNull() | (F.col("rn") <= F.col("first_p"))
        )
    )
    # src of each kept row: previous kept row's type, or START at rn=1
    wk = Window.partitionBy("user_id").orderBy("rn")
    stepped = kept.select(
        "user_id",
        "event_type",
        "first_p",
        F.coalesce(F.lag("event_type").over(wk), F.lit("START")).alias(
            "src"
        ),
        F.lead("event_type").over(wk).alias("nxt"),
    )
    # state → state transitions (purchase rows emit no outgoing edge —
    # they are absorbing by construction of the truncation)
    inner = stepped.select(
        "src", F.col("event_type").alias("dst")
    )
    # terminal NULL edge for non-converting journeys: last kept row has
    # nxt IS NULL and is not a purchase
    nulls = stepped.filter(
        F.col("nxt").isNull() & (F.col("event_type") != "purchase")
    ).select(F.col("event_type").alias("src"), F.lit("NULL").alias("dst"))
    return (
        inner.unionByName(nulls)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _removal_effects(triples):
    """Absorption-probability solve + per-channel removal effects.

    ``triples``: (src, dst, n) counts, src ∈ channels ∪ {START},
    dst ∈ channels ∪ {purchase, NULL}.  Pure driver-side numpy on a
    ≤(|types|+1)-state system.
    """
    import numpy as np

    srcs = sorted({s for s, _, _ in triples})
    by_src: dict[str, dict[str, int]] = {}
    for s, d, n in triples:
        by_src.setdefault(s, {})[d] = by_src.setdefault(s, {}).get(d, 0) + n

    def p_conv(removed: str | None) -> float:
        # transient states: START + channels (minus the removed one)
        trans = [s for s in srcs if s != removed]
        idx = {s: i for i, s in enumerate(trans)}
        k = len(trans)
        A = np.eye(k)
        b = np.zeros(k)
        for s in trans:
            row = by_src.get(s, {})
            tot = sum(row.values())
            if tot == 0:
                continue
            for d, n in row.items():
                p = n / tot
                if d == "purchase":
                    b[idx[s]] += p
                elif d in idx:  # transient → transient
                    A[idx[s], idx[d]] -= p
                # d == NULL, or d == removed: contributes 0 (lost)
        x = np.linalg.solve(A, b)
        return float(x[idx["START"]])

    base = p_conv(None)
    out = []
    for ch in srcs:
        if ch == "START":
            continue
        eff = 0.0 if base == 0.0 else 1.0 - p_conv(ch) / base
        out.append((ch, base, eff))
    return sorted(out)


@register(
    "evt_activity_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    g AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id
                                         ORDER BY d) AS INTEGER) AS grp
      FROM days),
    i AS (
      SELECT user_id, grp, count(*) AS run_len
      FROM g GROUP BY user_id, grp)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(max(run_len) AS BIGINT) AS longest_run,
           CAST(sum(run_len) AS BIGINT) AS active_days
    FROM i GROUP BY user_id
    """,
    description=(
        "gaps-and-islands over per-user activity days: distinct active "
        "dates, the date − row_number() constant-per-run trick groups "
        "consecutive days into islands, then per-user island count / "
        "longest streak / total active days. Shape: the distinct "
        "collapses the log to ≤|users|·|days| rows FIRST (map-side "
        "combined), so the window and both aggregates run on the "
        "reduced frame; the final groupBy(user) reuses the window's "
        "user partitioning. The classic mistake — windowing the raw "
        "event log then deduping — pays the shuffle at log size"
    ),
    tags=("events", "window", "islands"),
)
def evt_activity_islands(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    days = (
        ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    g = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    islands = g.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.max("run_len").cast("bigint").alias("longest_run"),
        F.sum("run_len").cast("bigint").alias("active_days"),
    )


@register(
    "doc_phrase_search",
    oracle="""
    WITH sp AS (
      SELECT doc_id, string_split(text, ' ') AS s FROM documents),
    hits AS (
      SELECT doc_id,
             len(list_filter(range(1, len(s)),
                             i -> s[i] = 'table' AND s[i+1] = 'window'))
               AS n_occ
      FROM sp)
    SELECT doc_id, CAST(n_occ AS BIGINT) AS n_occ
    FROM hits WHERE n_occ > 0
    """,
    description=(
        "exact phrase search ('table window') over the corpus: token "
        "adjacency via lead() within each document's position order — "
        "ONE scan, ONE shuffle on doc_id for the position window, "
        "map-side-combined per-doc occurrence counts. The distinct-"
        "word bigram makes occurrences non-overlapping, so the count "
        "is well-defined in both engines. At serving scale the same "
        "adjacency predicate runs as a positional-postings "
        "intersection against a MATERIALIZED (term, doc, pos) index — "
        "term filters prune the posting scan (doc_bm25_search builds "
        "that index shape); built on the fly, the lead() form is "
        "strictly cheaper because it avoids a second corpus scan"
    ),
    tags=("documents", "text", "search", "window"),
)
def doc_phrase_search(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    adj = toks.withColumn("nxt", F.lead("tok").over(w))
    return (
        adj.filter((F.col("tok") == "table") & (F.col("nxt") == "window"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    )


@register(
    "emb_knn_communities",
    oracle=None,  # iterative mode-label propagation is not
    # SQL-expressible; gated by test_journeys_r4's pure-python twin
    description=(
        "label-propagation communities over the k-NN graph (k=5, 5 "
        "synchronous rounds): init label = vec_id; each round every "
        "node adopts the most frequent label among its neighbors "
        "(ties → smallest label, via max(struct(n, −label))), which "
        "finds denser groupings than connected components (CC merges "
        "anything touching; LPA needs plurality). Distributed shape "
        "per round: edges ⋈ labels on dst (broadcast — the label "
        "frame is |V| rows of two longs), count aggregate on (src, "
        "label) with map-side combine, argmax per src; labels "
        "localCheckpoint each round so the plan stays flat (the same "
        "iterative-lineage discipline as dedup's CC). At 100 TB the "
        "k-NN edges come from the bucketed-ANN path, edges stay "
        "partitioned by src across rounds, and only the |V|-row label "
        "state moves"
    ),
    tags=("embeddings", "graph", "iterative", "communities"),
)
def emb_knn_communities(spark, sf_dir, k: int = 5, rounds: int = 5):
    # LAZY checkpoints throughout (r13): the loop has NO per-round
    # driver action (fixed 5 rounds, no convergence test), so eager
    # checkpoints were paying one dedicated job per round + one for the
    # edges. eager=False still truncates each round's logical plan at
    # build time and still persists each RDD; the single final action
    # materializes the whole chain, computing every round exactly once.
    # TRADE (§5): checkpoint blocks live in executor storage — under
    # executor loss / dynamic allocation the truncated lineage is
    # unrecoverable; a cluster run should use reliable checkpoint().
    edges = _knn_edges(spark, sf_dir, k).localCheckpoint(eager=False)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        nbr = edges.join(
            F.broadcast(labels), edges.dst == labels.node
        ).select("src", "label")
        counts = nbr.groupBy("src", "label").agg(
            F.count(F.lit(1)).alias("n")
        )
        best = counts.groupBy("src").agg(
            F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg"))).alias(
                "m"
            )
        )
        labels = best.select(
            F.col("src").alias("node"), (-F.col("m.neg")).alias("label")
        ).localCheckpoint(eager=False)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(
            F.col("label").alias("community"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


def _knn_edges(spark, sf_dir, k: int):
    """Symmetrized k-NN edges over the embeddings table (deterministic:
    cosine quantized to 1e-6, ties by neighbor_id — the int64-key
    ordering of allpairs_knn_topk)."""
    from ..operators.similarity import allpairs_knn_topk

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    knn = allpairs_knn_topk(emb, k=k, label_col=None).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    # symmetrize: an undirected neighborhood propagates labels both ways
    rev = knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return knn.unionByName(rev).distinct()


@register(
    "mm_scene_cuts",
    oracle="""
    WITH media AS (
      SELECT doc_id AS asset_id, text,
             octet_length(encode(text)) AS n
      FROM documents WHERE doc_id % 3 = 2),
    framed AS (
      SELECT asset_id, text,
             least((5000 + n % 600000) // 1000, 8) AS n_frames
      FROM media),
    frames AS (
      SELECT asset_id, CAST(u.i AS INT) AS frame_idx,
             md5(text || ':' || CAST(u.i AS VARCHAR)) AS fc
      FROM framed, unnest(range(0, n_frames)) AS u(i)),
    hashed AS (
      SELECT asset_id, frame_idx,
             CAST(('0x' || substring(fc, 1, 8)) AS BIGINT) AS h1,
             CAST(('0x' || substring(fc, 9, 8)) AS BIGINT) AS h2
      FROM frames),
    lagged AS (
      SELECT asset_id, frame_idx, h1, h2,
             lag(h1) OVER (PARTITION BY asset_id ORDER BY frame_idx) AS p1,
             lag(h2) OVER (PARTITION BY asset_id ORDER BY frame_idx) AS p2
      FROM hashed),
    dist AS (
      SELECT asset_id, frame_idx,
             CASE WHEN p1 IS NULL THEN NULL
                  ELSE bit_count(xor(h1, p1)) + bit_count(xor(h2, p2))
             END AS hamming
      FROM lagged)
    SELECT asset_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(count(CASE WHEN hamming > 36 THEN 1 END) AS BIGINT)
             AS n_cuts,
           CAST(count(CASE WHEN hamming > 36 THEN 1 END) + 1 AS BIGINT)
             AS n_scenes
    FROM dist GROUP BY asset_id
    """,
    description=(
        "video scene-cut detection over sampled frames: the "
        "frame-sampling Arrow stage (one-to-many mapInPandas, stub "
        "fingerprints — real deployments hash decoded pixels at the "
        "same seam) feeds a pure-JVM change detector — per-frame "
        "64-bit signatures as two 32-bit hex halves, lag() hamming "
        "distance between consecutive frames via bit_count(xor), cut "
        "where distance > 36 bits. Shape: fan-out bounded by the "
        "frame cap, ONE asset_id window shuffle over frame rows (≤8 "
        "per asset), per-asset scene counts map-side combined. The "
        "detector never touches payload bytes after the hash stage — "
        "at 100 TB the frame-hash table is the only thing shuffled, "
        "KB per thousand assets"
    ),
    tags=("multimodal", "mapInPandas", "window", "scene-detection"),
)
def mm_scene_cuts(spark, sf_dir):
    from ..operators.multimodal import documents_as_media, sample_frames

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    frames = sample_frames(documents_as_media(docs))
    hashed = frames.select(
        "asset_id",
        "frame_idx",
        F.conv(F.substring("frame_checksum", 1, 8), 16, 10)
        .cast("long")
        .alias("h1"),
        F.conv(F.substring("frame_checksum", 9, 8), 16, 10)
        .cast("long")
        .alias("h2"),
    )
    w = Window.partitionBy("asset_id").orderBy("frame_idx")
    lagged = hashed.select(
        "asset_id",
        "frame_idx",
        "h1",
        "h2",
        F.lag("h1").over(w).alias("p1"),
        F.lag("h2").over(w).alias("p2"),
    )
    ham = F.when(
        F.col("p1").isNotNull(),
        F.bit_count(F.col("h1").bitwiseXOR(F.col("p1")))
        + F.bit_count(F.col("h2").bitwiseXOR(F.col("p2"))),
    )
    dist = lagged.select("asset_id", ham.alias("hamming"))
    cuts = F.count(F.when(F.col("hamming") > 36, 1))
    return dist.groupBy("asset_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        cuts.cast("bigint").alias("n_cuts"),
        (cuts + 1).cast("bigint").alias("n_scenes"),
    )


@register(
    "evt_hll_audience_overlap",
    oracle=None,  # HLL sketch estimates are engine-specific binaries;
    # the gate is tests/test_journeys_r4.py::
    # test_hll_overlap_tracks_exact (estimate within error bound of the
    # exact evt_audience_overlap counts)
    description=(
        "sketch-based audience overlap (the unbounded-cardinality "
        "twin of evt_audience_overlap): per-type HLL user sketches "
        "(Apache DataSketches, lgk=14) + pairwise inclusion-exclusion "
        "— |A∩B| ≈ est(A) + est(B) − est(A ∪ B) with the union "
        "computed by MERGING the two sketches (hll_union), never "
        "re-reading rows. Shape: ONE distinct + sketch aggregate over "
        "the log; the pairwise stage joins |types| KB-sized sketch "
        "rows — cost independent of user cardinality, which is the "
        "whole point: the exact pair-explosion form needs "
        "|types|²-bounded per-user fan-out, this needs a fixed-size "
        "sketch per segment no matter how many segments a user is in"
    ),
    tags=("events", "sketch", "set", "overlap"),
)
def evt_hll_audience_overlap(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    d = ev.select("user_id", "event_type").distinct()
    sk = d.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("n_exact").alias("n_a_exact"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("n_exact").alias("n_b_exact"),
    )
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    est_union = F.expr("hll_sketch_estimate(hll_union(sk_a, sk_b))")
    est_a = F.expr("hll_sketch_estimate(sk_a)")
    est_b = F.expr("hll_sketch_estimate(sk_b)")
    return pairs.select(
        "type_a",
        "type_b",
        F.col("n_a_exact").cast("bigint").alias("n_a_exact"),
        F.col("n_b_exact").cast("bigint").alias("n_b_exact"),
        F.round(est_a + est_b - est_union, 2).alias("est_overlap"),
    )


@register(
    "evt_asof_nearest",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(round(value*100) AS BIGINT) AS v
      FROM events WHERE event_type = 'click'),
    r AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             max(CAST(round(value*100) AS BIGINT)) AS rv
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    p AS (
      SELECT l.event_id, l.user_id, l.ts, l.v,
             r.ts AS pts, r.rv AS pv
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts >= r.ts),
    n AS (
      SELECT l.event_id, r.ts AS nts, r.rv AS nv
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts < r.ts)
    SELECT p.event_id, p.user_id, p.ts, p.v,
           CASE WHEN n.nts IS NULL
                  OR (p.pts IS NOT NULL
                      AND epoch_us(p.ts) - epoch_us(p.pts)
                          <= epoch_us(n.nts) - epoch_us(p.ts))
                THEN p.pv ELSE n.nv END AS rv_near,
           CASE WHEN n.nts IS NULL
                  OR (p.pts IS NOT NULL
                      AND epoch_us(p.ts) - epoch_us(p.pts)
                          <= epoch_us(n.nts) - epoch_us(p.ts))
                THEN p.pts ELSE n.nts END AS ts_near
    FROM p JOIN n ON n.event_id = p.event_id
    """,
    description=(
        "nearest-match as-of join (either direction): each click gets "
        "the purchase value whose timestamp is closest in absolute "
        "time, ties to the earlier row — the sensor-alignment "
        "primitive (backward-only as-of is wrong when the nearest "
        "reading is just ahead). Construction: the union+window trick "
        "run in BOTH directions over ONE user_id exchange — backward "
        "candidate from frame (-∞,0], forward from [0,+∞), two frames "
        "on the same window ordering that Catalyst stacks behind a "
        "single shuffle; the naive form is two range joins. Δt "
        "comparison in integer microseconds (unix_micros both "
        "engines). The DuckDB oracle needs TWO native ASOF joins plus "
        "a re-join to express the same thing"
    ),
    tags=("events", "window", "asof"),
)
def evt_asof_nearest(spark, sf_dir):
    from ..operators.asof import asof_nearest_join

    ev = keyed_events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value_c").alias("v")
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value_c").alias("rv"))
    )
    return asof_nearest_join(
        left, right, key=["user_id"], ts_col="ts", value_col="rv"
    ).select(
        "event_id",
        "user_id",
        "ts",
        "v",
        F.col("rv_near"),
        F.col("ts_near"),
    )


@register(
    "evt_weighted_sample",
    oracle="""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(round(value*100) AS BIGINT) AS w
      FROM events WHERE CAST(round(value*100) AS BIGINT) > 0),
    keyed AS (
      SELECT event_id, event_type, w,
             CAST(round(
               ln((CAST(('0x' || substring(
                     md5(CAST(event_id AS VARCHAR)), 1, 12)) AS BIGINT)
                   + 1) / 281474976710657.0)
               / w * 1000000) AS BIGINT) AS key_micro
      FROM base),
    ranked AS (
      SELECT event_id, event_type, w, key_micro,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY key_micro DESC, event_id ASC)
               AS rnk
      FROM keyed)
    SELECT event_type, CAST(rnk AS BIGINT) AS rnk, event_id, w,
           key_micro
    FROM ranked WHERE rnk <= 10
    """,
    description=(
        "weighted reservoir sampling per group (Efraimidis–Spirakis "
        "A-ES): each row draws u = hash01(event_id) and competes on "
        "key = ln(u)/w — the top-k by key IS a weight-proportional "
        "sample without replacement, computable as an ordinary top-k: "
        "map-side key computation, one window per group, no "
        "multi-pass rejection loop. Fully DETERMINISTIC (u from md5, "
        "no RNG state) so re-runs and both engines agree; keys "
        "quantize to micro-units (the micro-nat convention) so the "
        "cross-engine ln() ULP difference cannot flip a rank — "
        "residual ties break on event_id. At 100 TB this is the "
        "standard one-pass distributed weighted sampler: partial "
        "top-k per partition merges associatively (here the rank "
        "window; on a cluster, per-partition heaps)"
    ),
    tags=("events", "sampling", "window"),
)
def evt_weighted_sample(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    base = ev.filter(F.col("value_c") > 0).select(
        "event_id", "event_type", F.col("value_c").alias("w")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 12),
            16,
            10,
        ).cast("bigint")
        + 1
    ) / F.lit(281474976710657.0)
    keyed = base.withColumn(
        "key_micro",
        F.round(F.log(u) / F.col("w") * 1000000).cast("bigint"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("key_micro").desc(), F.col("event_id").asc()
    )
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select(
            "event_type",
            F.col("rnk").cast("bigint").alias("rnk"),
            "event_id",
            "w",
            "key_micro",
        )
    )


@register(
    "evt_stl_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value*100) AS BIGINT))
                             AS DOUBLE) * 10000 / count(*)) AS BIGINT)
               AS mean_micro
      FROM events GROUP BY 1, 2),
    tr AS (
      SELECT event_type, day, mean_micro,
             CASE WHEN count(*) OVER w = 7
                  THEN CAST(round(CAST(sum(mean_micro) OVER w AS DOUBLE)
                                  / 7) AS BIGINT)
             END AS trend_micro
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT event_type, day, mean_micro, trend_micro,
             mean_micro - trend_micro AS detrended,
             dayofweek(day) AS dow
      FROM tr),
    seas AS (
      SELECT event_type, day, mean_micro, trend_micro,
             CASE WHEN trend_micro IS NOT NULL THEN
               CAST(round(CAST(sum(detrended)
                          OVER (PARTITION BY event_type, dow) AS DOUBLE)
                          / count(detrended)
                          OVER (PARTITION BY event_type, dow))
                    AS BIGINT)
             END AS seasonal_micro
      FROM det)
    SELECT event_type, day, mean_micro, trend_micro, seasonal_micro,
           mean_micro - trend_micro - seasonal_micro AS residual_micro
    FROM seas
    """,
    description=(
        "classical seasonal-trend decomposition of the per-type daily "
        "series (STL-lite): daily means quantize to integer "
        "MICRO-CENTS first (one exact-integer day aggregate collapses "
        "the log to |types|·|days| rows), trend = centered 7-day "
        "moving average (full windows only), seasonal = day-of-week "
        "mean of the detrended series (window-lifted over the same "
        "tiny frame — no join-back), residual = value − trend − "
        "seasonal, all in integer micro-units so every aggregation "
        "order is exact. Shape: the ONLY data-sized operation is the "
        "first aggregate; every window runs on ≤|types|·|days| rows. "
        "The dual of evt_seasonal_profile (which fits the seasonal "
        "baseline directly): this one separates trend from season, "
        "the pre-step anomaly detection and forecasting both want"
    ),
    tags=("events", "window", "timeseries", "statistics"),
)
def evt_stl_decompose(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.round(
            F.sum("value_c").cast("double") * 10000
            / F.count(F.lit(1))
        )
        .cast("bigint")
        .alias("mean_micro")
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.withColumn(
        "trend_micro",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.round(F.sum("mean_micro").over(w7).cast("double") / 7).cast(
                "bigint"
            ),
        ),
    )
    det = tr.withColumn(
        "detrended", F.col("mean_micro") - F.col("trend_micro")
    ).withColumn("dow", F.dayofweek("day"))
    wd = Window.partitionBy("event_type", "dow")
    seas = det.withColumn(
        "seasonal_micro",
        F.when(
            F.col("trend_micro").isNotNull(),
            F.round(
                F.sum("detrended").over(wd).cast("double")
                / F.count("detrended").over(wd)
            ).cast("bigint"),
        ),
    )
    return seas.select(
        "event_type",
        "day",
        "mean_micro",
        "trend_micro",
        "seasonal_micro",
        (
            F.col("mean_micro")
            - F.col("trend_micro")
            - F.col("seasonal_micro")
        ).alias("residual_micro"),
    )


@register(
    "evt_rolling_distinct",
    oracle="""
    WITH act AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS d, user_id
      FROM events),
    spine AS (
      SELECT t.event_type, s.day
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) s)
    SELECT sp.event_type, sp.day,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active_7d
    FROM spine sp
    LEFT JOIN act a
      ON a.event_type = sp.event_type
     AND a.d BETWEEN sp.day - 6 AND sp.day
    GROUP BY sp.event_type, sp.day
    """,
    description=(
        "exact rolling 7-day distinct users per event type — the "
        "windowed-cardinality metric (WAU-style) that does NOT "
        "tolerate sketches when it feeds billing or SLAs. NOT the "
        "textbook range self-join (day spine × 7-day event window — "
        "O(7·|log|) join rows): distinct (type, user, day) activity "
        "collapses the log once; per (type, user) consecutive days "
        "merge into COVERAGE INTERVALS [start, end+6] (gap ≤ 6 joins "
        "an island, so intervals never overlap and each user counts "
        "once); intervals become +1/−1 deltas and a per-type "
        "cumulative sum over the day spine reads off the rolling "
        "distinct count — the sweep-line trick (evt_max_concurrency's "
        "machinery) applied to windowed cardinality. Everything after "
        "the first distinct runs on ≤|users|·|days| rows"
    ),
    tags=("events", "window", "sweep-line", "distinct"),
)
def evt_rolling_distinct(spark, sf_dir):
    return rolling_distinct_days(keyed_events(spark, sf_dir), window=7)


def rolling_distinct_days(ev, window: int = 7):
    """Exact trailing-``window``-day distinct users per event type —
    the interval-merge + sweep construction behind evt_rolling_distinct
    (kept callable so the property test drives the SAME code on random
    frames; the fixed-corpus differential alone missed the sparse-spine
    delta-drop bug this structure now guards against)."""
    gap = window - 1
    act = ev.select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    # merge per-(type, user) activity days into coverage intervals:
    # a day within 6 of the previous extends the island
    wu = Window.partitionBy("event_type", "user_id").orderBy("d")
    isl = act.withColumn(
        "new_isl",
        F.when(
            F.datediff(F.col("d"), F.lag("d").over(wu)) > gap, 1
        ).otherwise(F.when(F.lag("d").over(wu).isNull(), 1).otherwise(0)),
    ).withColumn(
        "isl_id",
        F.sum("new_isl").over(
            wu.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    iv = isl.groupBy("event_type", "user_id", "isl_id").agg(
        F.min("d").alias("start"),
        F.date_add(F.max("d"), gap).alias("end"),
    )
    # both interval endpoints explode out of ONE pass — a union of two
    # selects over iv would re-derive the data-sized distinct+window
    # lineage twice (measured: 2 extra scans + 2 extra exchanges)
    deltas = (
        iv.select(
            "event_type",
            F.explode(
                F.array(
                    F.struct(
                        F.col("start").alias("day"),
                        F.lit(1).alias("delta"),
                    ),
                    F.struct(
                        F.date_add("end", 1).alias("day"),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("ep"),
        )
        .select("event_type", F.col("ep.day").alias("day"), F.col("ep.delta").alias("delta"))
        .groupBy("event_type", "day")
        .agg(F.sum("delta").alias("delta"))
    )
    spine = (
        ev.select(F.to_date("ts").alias("day"))
        .distinct()
        .crossJoin(F.broadcast(ev.select("event_type").distinct()))
        .withColumn("in_spine", F.lit(1))
    )
    # FULL OUTER merge, not a left join: a −1 delta can land on a day
    # with no events (interval end + 1), and dropping it before the
    # cumulative sum overcounts every later day. The sparse-activity
    # property test (test_rolling_distinct_matches_bruteforce) fails on
    # the left-join form; the dense test corpus alone never would.
    joined = spine.join(deltas, ["event_type", "day"], "full_outer")
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        joined.select(
            "event_type",
            "day",
            "in_spine",
            F.sum(F.coalesce("delta", F.lit(0)))
            .over(wc)
            .cast("bigint")
            .alias("n_active_7d"),
        )
        .filter(F.col("in_spine") == 1)
        .drop("in_spine")
    )


@register(
    "rel_scd2_point_in_time",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority
      FROM orders),
    flagged AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM
                       o_orderpriority
                  THEN 1 ELSE 0 END AS brk
      FROM o
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)),
    runs AS (
      SELECT o_custkey, o_orderdate, o_orderpriority,
             sum(brk) OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM flagged),
    dim AS (
      SELECT o_custkey, version, o_orderpriority AS priority,
             min(o_orderdate) AS eff_from
      FROM runs GROUP BY o_custkey, version, o_orderpriority),
    dim2 AS (
      SELECT o_custkey, version, priority, eff_from,
             lead(eff_from) OVER (PARTITION BY o_custkey
                                  ORDER BY version) AS eff_to
      FROM dim),
    fact AS (
      SELECT o.o_custkey AS custkey, l.l_shipdate AS d,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS rev_c
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    pit AS (
      SELECT f.rev_c, d2.priority
      FROM fact f LEFT JOIN dim2 d2
        ON d2.o_custkey = f.custkey
       AND d2.eff_from <= f.d
       AND (d2.eff_to IS NULL OR f.d < d2.eff_to))
    SELECT coalesce(priority, 'NONE') AS priority_at_ship,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(rev_c) AS BIGINT) AS revenue_c
    FROM pit GROUP BY 1
    """,
    description=(
        "point-in-time SCD2 lookup — the read side of the versioned "
        "dimension rel_scd2_priority_dim builds: every lineitem is "
        "attributed to the customer-priority version VALID AT ITS SHIP "
        "DATE ([eff_from, eff_to) half-open), then revenue rolls up by "
        "that historical attribute — the 'as was' report every "
        "warehouse needs and every naive current-dim join gets wrong. "
        "Implementation reuses asof_join (union + ordered window, ONE "
        "custkey shuffle, tie_break=version so same-day version "
        "flips resolve to the later version exactly like the "
        "half-open ranges do) instead of the validity-range join, "
        "which would expand per-customer cross products. Ships before "
        "the first version report as 'NONE' — exact totals, no "
        "silently dropped rows"
    ),
    tags=("relational", "scd2", "asof", "window"),
)
def rel_scd2_point_in_time(spark, sf_dir):
    from ..operators.asof import asof_join

    o = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    runs = o.withColumn(
        "brk",
        F.when(
            ~F.lag("o_orderpriority").over(wo).eqNullSafe(
                F.col("o_orderpriority")
            ),
            1,
        ).otherwise(0),
    ).withColumn(
        "version",
        F.sum("brk").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    dim = runs.groupBy(
        F.col("o_custkey").alias("custkey"),
        "version",
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.min("o_orderdate").alias("d"))
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_shipdate").alias("d"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        )
        .cast("bigint")
        .alias("rev_c"),
    )
    fact = li.join(
        t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.col("o_custkey").alias("custkey"),
        ),
        "l_orderkey",
    ).select("custkey", "d", "rev_c")
    pit = asof_join(
        fact,
        dim.select("custkey", "d", "priority", "version"),
        key=["custkey"],
        ts_col="d",
        value_cols=("priority",),
        tie_break="version",
    )
    return pit.groupBy(
        F.coalesce("priority_asof", F.lit("NONE")).alias("priority_at_ship")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("rev_c").cast("bigint").alias("revenue_c"),
    )


# Shared IEEE expression fragments for the beta-binomial shrinkage:
# ONE string evaluated by BOTH engines (Spark F.expr and the DuckDB
# oracle), so the float op sequence — and hence the hash — is identical
# by construction (the evt_ols_features determinism pattern).
_EB_M = "(CAST(sm AS DOUBLE) / cnt / 1000000.0)"
_EB_V = (
    f"(CAST(sq AS DOUBLE) / cnt / 1000000000000.0 - {_EB_M} * {_EB_M})"
)
_EB_K = (
    f"(CASE WHEN {_EB_V} > 0 AND {_EB_M} * (1 - {_EB_M}) / {_EB_V} - 1 > 0 "
    f"THEN {_EB_M} * (1 - {_EB_M}) / {_EB_V} - 1 ELSE 1.0 END)"
)
_EB_ALPHA = f"({_EB_M} * {_EB_K})"
_EB_BETA = f"((1 - {_EB_M}) * {_EB_K})"
_EB_POST = (
    f"round((x + {_EB_ALPHA}) / (n + {_EB_ALPHA} + {_EB_BETA}), 6)"
)
_EB_RMICRO = "CAST(round(CAST(x AS DOUBLE) * 1000000 / n) AS BIGINT)"
_EB_RAW = "round(CAST(x AS DOUBLE) / n, 6)"


@register(
    "evt_eb_shrunk_rates",
    oracle=f"""
    WITH s AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS BIGINT) AS x
      FROM events GROUP BY user_id),
    s2 AS (SELECT user_id, n, x, {_EB_RMICRO} AS r_micro FROM s),
    g AS (
      SELECT CAST(sum(r_micro) AS BIGINT) AS sm,
             CAST(sum(r_micro * r_micro) AS BIGINT) AS sq,
             CAST(count(*) AS BIGINT) AS cnt
      FROM s2)
    SELECT user_id, n, x,
           {_EB_RAW} AS raw_rate,
           {_EB_POST} AS shrunk_rate
    FROM s2 CROSS JOIN g
    """,
    description=(
        "empirical-Bayes beta-binomial shrinkage of per-user "
        "conversion rates — the hierarchical fix for the "
        "small-denominator problem (a 1-of-2 user is not a 50% "
        "converter): per-user (n, x) in ONE integer aggregate, "
        "method-of-moments α/β from the rate mean/variance (rates "
        "quantized to integer micro-units so the global sufficient "
        "statistics are exact in any aggregation order), posterior "
        "mean (x+α)/(n+α+β). The α/β/posterior arithmetic is a "
        "SINGLE SQL string evaluated by both engines (F.expr on the "
        "Spark side), making the IEEE op sequence — and the hash — "
        "identical by construction. Shape: one user_id aggregate, a "
        "1-row global aggregate broadcast back; no iteration, no "
        "MCMC — closed-form shrinkage at any scale"
    ),
    tags=("events", "statistics", "bayes"),
)
def evt_eb_shrunk_rates(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("x"),
    )
    # the user-stats frame feeds BOTH the global moments and the final
    # posterior projection — checkpoint it once (|users| rows of three
    # longs) rather than re-scanning the event log for each reference
    s2 = s.withColumn("r_micro", F.expr(_EB_RMICRO)).localCheckpoint()
    g = s2.agg(
        F.sum("r_micro").cast("bigint").alias("sm"),
        F.sum(F.col("r_micro") * F.col("r_micro"))
        .cast("bigint")
        .alias("sq"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    return (
        s2.crossJoin(F.broadcast(g))
        .select(
            "user_id",
            "n",
            "x",
            F.expr(_EB_RAW).alias("raw_rate"),
            F.expr(_EB_POST).alias("shrunk_rate"),
        )
    )


@register(
    "doc_zipf_fit",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
               AS term
      FROM documents),
    tf AS (
      SELECT term, count(*) AS freq FROM toks
      WHERE term <> '' GROUP BY term),
    ranked AS (
      SELECT term, freq,
             row_number() OVER (ORDER BY freq DESC, term ASC) AS rnk
      FROM tf),
    top AS (
      SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT)
               AS lr,
             CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT)
               AS lf
      FROM ranked WHERE rnk <= 100),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(lr) AS BIGINT) AS sx,
             CAST(sum(lf) AS BIGINT) AS sy,
             CAST(sum(lr * lr) AS BIGINT) AS sxx,
             CAST(sum(lr * lf) AS BIGINT) AS sxy
      FROM top)
    SELECT n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (n * sxx - sx * sx), 6) AS zipf_slope,
           round((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / (n * sxx - sx * sx) * sx)
                 / n / 1000000.0, 6) AS intercept_nats
    FROM s
    """,
    description=(
        "Zipf power-law fit over the term-frequency distribution: "
        "log-log OLS of frequency against rank for the top-100 terms "
        "— the standard sanity probe of corpus naturalness (natural "
        "text fits slope ≈ −1; templated/synthetic corpora bend the "
        "curve). Determinism: log-rank/log-frequency quantize to "
        "integer MICRO-NATS before the sufficient-statistic sums "
        "(exact in any order), and the slope/intercept division trees "
        "are written identically on both engines (the OLS pattern of "
        "evt_ols_features). Shape: one token-count aggregate over the "
        "corpus, a 100-row rank window, a 1-row fit — the rank window "
        "runs on |vocab| rows, never the token stream"
    ),
    tags=("documents", "statistics", "text"),
)
def doc_zipf_fit(spark, sf_dir):
    from ..operators.textops import tokens

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    tf = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = tf.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.col("freq").desc(), F.col("term").asc())
        ),
    ).filter(F.col("rnk") <= 100)
    top = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")) * 1000000)
        .cast("bigint")
        .alias("lr"),
        F.round(F.log(F.col("freq").cast("double")) * 1000000)
        .cast("bigint")
        .alias("lf"),
    )
    s = top.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("lr").cast("bigint").alias("sx"),
        F.sum("lf").cast("bigint").alias("sy"),
        F.sum(F.col("lr") * F.col("lr")).cast("bigint").alias("sxx"),
        F.sum(F.col("lr") * F.col("lf")).cast("bigint").alias("sxy"),
    )
    slope_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope_den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = slope_num.cast("double") / slope_den
    return s.select(
        "n",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx"))
            / F.col("n")
            / 1000000.0,
            6,
        ).alias("intercept_nats"),
    )


@register(
    "doc_term_burstiness",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
               AS term
      FROM documents),
    percount AS (
      SELECT term, doc_id, count(*) AS c FROM toks
      WHERE term <> '' GROUP BY term, doc_id),
    stats AS (
      SELECT term,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(c * c) AS BIGINT) AS sc2
      FROM percount GROUP BY term),
    scored AS (
      SELECT term, df, sc,
             round((CAST(sc2 AS DOUBLE) / df
                    - (CAST(sc AS DOUBLE) / df)
                      * (CAST(sc AS DOUBLE) / df))
                   / (CAST(sc AS DOUBLE) / df), 6) AS burstiness
      FROM stats WHERE df >= 5),
    ranked AS (
      SELECT term, df, sc, burstiness,
             CAST(row_number() OVER (ORDER BY burstiness DESC, term ASC)
                  AS BIGINT) AS rnk
      FROM scored)
    SELECT term, df, sc, burstiness, rnk FROM ranked WHERE rnk <= 20
    """,
    description=(
        "term burstiness: variance-to-mean ratio (index of "
        "dispersion) of per-document term counts over the documents "
        "containing each term — bursty terms (topical, named) score "
        "≫ 1, function words ≈ 1; the statistic behind Church-Gale "
        "adaptation models and quality-weighting term salience. "
        "Determinism: integer (df, Σc, Σc²) sufficient statistics, "
        "identical division trees. Shape: (term, doc) counts with "
        "map-side combine, per-term stats on |vocab·docs-touched| "
        "rows, the rank window on the |vocab|-row score table only"
    ),
    tags=("documents", "statistics", "text"),
)
def doc_term_burstiness(spark, sf_dir):
    from ..operators.textops import tokens

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    percount = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = percount.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
    )
    mean = F.col("sc").cast("double") / F.col("df")
    disp = (F.col("sc2").cast("double") / F.col("df") - mean * mean) / mean
    scored = stats.filter(F.col("df") >= 5).select(
        "term", "df", "sc", F.round(disp, 6).alias("burstiness")
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("burstiness").desc(), F.col("term").asc()
                )
            )
            .cast("bigint"),
        )
        .filter(F.col("rnk") <= 20)
    )


@register(
    "evt_time_to_convert",
    oracle="""
    WITH m AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS tv
      FROM events GROUP BY user_id),
    p AS (
      SELECT e.user_id, m.tv, min(e.ts) AS tp
      FROM events e JOIN m ON m.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > m.tv
      GROUP BY e.user_id, m.tv),
    durs AS (
      SELECT user_id,
             epoch_us(tp) - epoch_us(tv) AS dur_us
      FROM p),
    ranked AS (
      SELECT user_id, dur_us,
             row_number() OVER (ORDER BY dur_us, user_id) AS rn,
             count(*) OVER () AS n
      FROM durs),
    pct AS (SELECT unnest([25, 50, 75, 90]) AS pct)
    SELECT CAST(pct.pct AS BIGINT) AS pct,
           CAST(max(r.dur_us) AS BIGINT) AS dur_us,
           CAST(max(r.n) AS BIGINT) AS n_converted
    FROM pct JOIN ranked r
      ON r.rn = CAST(ceil(pct.pct * r.n / 100.0) AS BIGINT)
    GROUP BY pct.pct
    """,
    description=(
        "time-to-convert percentiles (first view → first subsequent "
        "purchase, per user): exact nearest-rank P25/P50/P75/P90 of "
        "the conversion-lag distribution in integer microseconds — "
        "the funnel-latency metric product teams watch next to the "
        "conversion rate itself. Shape: ONE user_id aggregate builds "
        "the anchor, the purchase probe joins back on the same "
        "partitioning, and the rank selection runs on the "
        "|converted-users|-row duration table (the whole-table window "
        "is bounded by user cardinality, never the event log; at true "
        "scale the nearest-rank trick swaps to the per-group double "
        "row_number form of evt_series_mad_fast). Integer "
        "microseconds end to end — no float quantiles"
    ),
    tags=("events", "funnel", "percentiles"),
)
def evt_time_to_convert(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    m = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "tv"
        )
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(m, "user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id", "tv")
        .agg(F.min("ts").alias("tp"))
    )
    durs = p.select(
        "user_id",
        (F.unix_micros("tp") - F.unix_micros("tv")).alias("dur_us"),
    )
    # |converted users| rows — the single-partition window is bounded
    # by user cardinality (documented; scale path = grouped double
    # row_number as in evt_series_mad_fast)
    ranked = durs.select(
        "user_id",
        "dur_us",
        F.row_number()
        .over(Window.orderBy("dur_us", "user_id"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .alias("n"),
    )
    pcts = spark.range(1).select(
        F.explode(
            F.array(F.lit(25), F.lit(50), F.lit(75), F.lit(90))
        ).alias("pct")
    )
    sel = F.ceil(F.col("pct") * F.col("n") / 100.0).cast("bigint")
    return (
        ranked.crossJoin(F.broadcast(pcts))
        .filter(F.col("rn") == sel)
        .groupBy(F.col("pct").cast("bigint").alias("pct"))
        .agg(
            F.max("dur_us").cast("bigint").alias("dur_us"),
            F.max("n").cast("bigint").alias("n_converted"),
        )
    )


#: STL CTE chain shared by evt_stl_decompose's spec and the anomaly
#: flagger below: `resid` = (event_type, day, r) integer micro-residuals
#: for full-trend days only.
_STL_RESID_CTES = """
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value*100) AS BIGINT))
                             AS DOUBLE) * 10000 / count(*)) AS BIGINT)
               AS mean_micro
      FROM events GROUP BY 1, 2),
    tr AS (
      SELECT event_type, day, mean_micro,
             CASE WHEN count(*) OVER w = 7
                  THEN CAST(round(CAST(sum(mean_micro) OVER w AS DOUBLE)
                                  / 7) AS BIGINT)
             END AS trend_micro
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT event_type, day, mean_micro, trend_micro,
             mean_micro - trend_micro AS detrended,
             dayofweek(day) AS dow
      FROM tr),
    seas AS (
      SELECT event_type, day, mean_micro, trend_micro,
             CASE WHEN trend_micro IS NOT NULL THEN
               CAST(round(CAST(sum(detrended)
                          OVER (PARTITION BY event_type, dow) AS DOUBLE)
                          / count(detrended)
                          OVER (PARTITION BY event_type, dow))
                    AS BIGINT)
             END AS seasonal_micro
      FROM det),
    resid AS (
      SELECT event_type, day,
             mean_micro - trend_micro - seasonal_micro AS r
      FROM seas WHERE trend_micro IS NOT NULL)
"""


@register(
    "evt_stl_anomaly",
    oracle=f"""
    WITH {_STL_RESID_CTES},
    med AS (
      SELECT event_type, day, r,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY r, day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM resid),
    m AS (
      SELECT event_type, r AS med
      FROM med WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)),
    dev AS (
      SELECT d.event_type, d.day, d.r, m.med, abs(d.r - m.med) AS ad
      FROM resid d JOIN m ON m.event_type = d.event_type),
    madr AS (
      SELECT event_type, day, r, med, ad,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ad, day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM dev),
    mad AS (
      SELECT event_type, ad AS mad
      FROM madr WHERE rn = CAST(ceil(n / 2.0) AS BIGINT))
    SELECT d.event_type, d.day,
           CAST(d.r AS BIGINT) AS residual_micro,
           CAST(d.med AS BIGINT) AS med_micro,
           CAST(mad.mad AS BIGINT) AS mad_micro,
           abs(d.r - d.med) > 3 * mad.mad AS is_anomaly
    FROM dev d JOIN mad ON mad.event_type = d.event_type
    """,
    description=(
        "seasonal anomaly flagging on the STL residual: per-type "
        "nearest-rank median and MAD of the integer micro-residuals "
        "(lower-median at even counts, day tie-break — identical rank "
        "rule both engines), flag days where |r − med| > 3·MAD — the "
        "robust control band that survives outliers, unlike the "
        "z-score band evt_anomaly_zscore draws. Shape: everything "
        "after the daily aggregate runs on |types|·|days| rows; the "
        "median/MAD rank windows are per-type (the grouped double-"
        "row_number trick of evt_series_mad_fast applies unchanged "
        "when |days| grows)"
    ),
    tags=("events", "timeseries", "anomaly", "statistics"),
)
def evt_stl_anomaly(spark, sf_dir):
    resid = (
        evt_stl_decompose(spark, sf_dir)
        .filter(F.col("trend_micro").isNotNull())
        .select("event_type", "day", F.col("residual_micro").alias("r"))
        # |types|·|days| rows feed four downstream references (two rank
        # passes + two joins) — checkpoint once, never re-run the STL
        .localCheckpoint()
    )
    wt = Window.partitionBy("event_type")
    med = resid.select(
        "event_type",
        "day",
        "r",
        F.row_number()
        .over(wt.orderBy("r", "day"))
        .alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    m = med.filter(
        F.col("rn") == F.ceil(F.col("n") / 2.0).cast("bigint")
    ).select("event_type", F.col("r").alias("med"))
    dev = resid.join(F.broadcast(m), "event_type").withColumn(
        "ad", F.abs(F.col("r") - F.col("med"))
    )
    madr = dev.select(
        "event_type",
        "ad",
        F.row_number().over(wt.orderBy("ad", "day")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    mad = madr.filter(
        F.col("rn") == F.ceil(F.col("n") / 2.0).cast("bigint")
    ).select("event_type", F.col("ad").alias("mad"))
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        F.col("r").cast("bigint").alias("residual_micro"),
        F.col("med").cast("bigint").alias("med_micro"),
        F.col("mad").cast("bigint").alias("mad_micro"),
        (
            F.abs(F.col("r") - F.col("med")) > 3 * F.col("mad")
        ).alias("is_anomaly"),
    )


@register(
    "evt_basket_lift",
    oracle="""
    WITH b AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      FROM events),
    nb AS (
      SELECT count(*) AS n_baskets
      FROM (SELECT DISTINCT user_id, day FROM b)),
    sizes AS (
      SELECT event_type, count(*) AS n FROM b GROUP BY event_type),
    pairs AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
             count(*) AS n_ab
      FROM b x JOIN b y
        ON x.user_id = y.user_id AND x.day = y.day
       AND x.event_type < y.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(nb.n_baskets AS BIGINT) AS n_baskets,
           round(CAST(p.n_ab AS DOUBLE) / nb.n_baskets, 6) AS support,
           round(CAST(p.n_ab AS DOUBLE) * nb.n_baskets
                 / (sa.n * sb.n), 6) AS lift
    FROM pairs p
    JOIN sizes sa ON sa.event_type = p.type_a
    JOIN sizes sb ON sb.event_type = p.type_b
    CROSS JOIN nb
    """,
    description=(
        "market-basket lift between event types, basket = (user, "
        "day): support and lift for every type pair — the "
        "association-rule primitive behind 'users who X also Y'. "
        "Same single-lineage shape as evt_audience_overlap: ONE "
        "collect_set per basket, map-side pair explosion with the "
        "basket-count sentinel appended (pairs, per-type sizes AND "
        "the global basket count all come out of one |types|²-row "
        "aggregate — no second scan for the denominator), then "
        "window-lifted sizes. Lift > 1 = positive association; the "
        "division trees are written identically on both engines"
    ),
    tags=("events", "aggregate", "association"),
)
def evt_basket_lift(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    sets = (
        ev.select(
            "user_id", F.to_date("ts").alias("day"), "event_type"
        )
        .groupBy("user_id", "day")
        .agg(F.collect_set("event_type").alias("types"))
        # sentinel joins every basket: its (sentinel, sentinel) pair
        # count IS the global basket count — no second aggregation
        .select(F.array_union("types", F.array(F.lit("~ALL"))).alias("tp"))
    )
    pairs = (
        sets.select(F.explode("tp").alias("type_a"), "tp")
        .select("type_a", F.explode("tp").alias("type_b"))
        .filter(F.col("type_a") <= F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n_a = F.max(
        F.when(F.col("type_a") == F.col("type_b"), F.col("n"))
    ).over(Window.partitionBy("type_a"))
    n_b = F.max(
        F.when(F.col("type_a") == F.col("type_b"), F.col("n"))
    ).over(Window.partitionBy("type_b"))
    n_baskets = F.max(
        F.when(
            (F.col("type_a") == "~ALL") & (F.col("type_b") == "~ALL"),
            F.col("n"),
        )
    ).over(Window.partitionBy())
    out = (
        pairs.withColumn("n_a", n_a)
        .withColumn("n_b", n_b)
        .withColumn("n_baskets", n_baskets)
        .filter(
            (F.col("type_a") < F.col("type_b"))
            & (F.col("type_a") != "~ALL")
            & (F.col("type_b") != "~ALL")
        )
    )
    return out.select(
        "type_a",
        "type_b",
        F.col("n").cast("bigint").alias("n_ab"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_baskets").cast("bigint").alias("n_baskets"),
        F.round(
            F.col("n").cast("double") / F.col("n_baskets"), 6
        ).alias("support"),
        F.round(
            F.col("n").cast("double")
            * F.col("n_baskets")
            / (F.col("n_a") * F.col("n_b")),
            6,
        ).alias("lift"),
    )


@register(
    "evt_new_returning",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    flagged AS (
      SELECT day, user_id,
             CASE WHEN day = min(day) OVER (PARTITION BY user_id)
                  THEN 1 ELSE 0 END AS is_new
      FROM act)
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(is_new) AS BIGINT) AS n_new,
           CAST(count(*) - sum(is_new) AS BIGINT) AS n_returning
    FROM flagged GROUP BY day
    """,
    description=(
        "daily new-vs-returning user split — the growth-accounting "
        "decomposition every activity dashboard leads with. "
        "ONE collect_set aggregate per user dedups active days in the "
        "combiner AND hands the first day to a map-side array_min — "
        "no distinct+window re-exchange, no min-join-back re-scan — "
        "then one day aggregate. Two exchanges total: user-keyed "
        "(data-sized) and day-keyed (≤|users|·|days| rows)"
    ),
    tags=("events", "aggregate", "growth"),
)
def evt_new_returning(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    sets = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).groupBy("user_id").agg(F.collect_set("day").alias("days"))
    flagged = sets.select(
        F.explode("days").alias("day"),
        F.array_min("days").alias("first_day"),
    ).select(
        "day",
        F.when(F.col("day") == F.col("first_day"), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    return flagged.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum("is_new").cast("bigint").alias("n_new"),
        (F.count(F.lit(1)) - F.sum("is_new"))
        .cast("bigint")
        .alias("n_returning"),
    )


@register(
    "evt_approx_percentiles",
    oracle=None,  # GK-sketch outputs depend on merge order
    # (engine-specific); the gate is tests/test_journeys_r4.py::
    # test_approx_percentiles_rank_error (rank error vs exact ranks
    # within the sketch's accuracy contract)
    description=(
        "mergeable approximate percentiles (Greenwald-Khanna via "
        "Spark's percentile_approx, accuracy 10000): per-type "
        "P50/P90/P99 of value cents from a FIXED-SIZE summary that "
        "merges associatively — the third leg of the sketch family "
        "(CMS counts, HLL cardinality, GK quantiles) and the right "
        "answer when the exact nearest-rank forms "
        "(evt_value_percentiles / evt_time_to_convert) would sort "
        "ever-growing groups. At 100 TB the per-partition summaries "
        "are KBs and the merge cost is independent of row count; "
        "rank error is bounded by n/accuracy, asserted by the gate "
        "test against exact ranks"
    ),
    tags=("events", "sketch", "percentiles"),
)
def evt_approx_percentiles(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    pcts = ev.groupBy("event_type").agg(
        F.percentile_approx(
            "value_c", [0.5, 0.9, 0.99], 10000
        ).alias("p"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return pcts.select(
        "event_type",
        "n",
        F.col("p")[0].cast("bigint").alias("p50_c"),
        F.col("p")[1].cast("bigint").alias("p90_c"),
        F.col("p")[2].cast("bigint").alias("p99_c"),
    )


@register(
    "evt_pit_training_matrix",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_label,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value*100) AS BIGINT) END AS label_c,
             CASE WHEN event_type = 'click'
                  THEN CAST(round(value*100) AS BIGINT) END AS click_c,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view
      FROM events
      WHERE event_type IN ('purchase', 'click', 'view')),
    feat AS (
      SELECT user_id, ts, event_id, is_label, label_c,
             last_value(click_c IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, is_label, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_click_c,
             sum(is_view)
               OVER (PARTITION BY user_id ORDER BY ts, is_label, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS views_before,
             min(CAST(ts AS DATE)) OVER (PARTITION BY user_id)
               AS first_day
      FROM u)
    SELECT event_id AS label_event_id, user_id, ts, label_c,
           last_click_c,
           CAST(views_before AS BIGINT) AS views_before,
           CAST(CAST(ts AS DATE) - first_day AS BIGINT) AS days_active
    FROM feat WHERE is_label = 1
    """,
    description=(
        "point-in-time-correct training-matrix assembly (the "
        "feature-store join): every purchase label row carries ONLY "
        "features computable at its own timestamp — last click value "
        "at-or-before, cumulative view count, account age in days — "
        "leakage-free BY CONSTRUCTION because all features come from "
        "cumulative window frames ending at the current row in one "
        "(ts, is_label, event_id) order (feature rows at an equal "
        "timestamp sort before the label and are visible; anything "
        "later is unreachable). ONE user_id exchange serves the "
        "as-of, the running count, AND the whole-partition first-day "
        "— the per-feature as-of-join formulation pays one shuffle "
        "per feature table. This is the assembly step every "
        "training pipeline gets subtly wrong with a naive "
        "current-value join"
    ),
    tags=("events", "window", "asof", "training"),
)
def evt_pit_training_matrix(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    u = ev.filter(
        F.col("event_type").isin("purchase", "click", "view")
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("is_label"),
        F.when(
            F.col("event_type") == "purchase", F.col("value_c")
        ).alias("label_c"),
        F.when(F.col("event_type") == "click", F.col("value_c")).alias(
            "click_c"
        ),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias(
            "is_view"
        ),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_label", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wu = Window.partitionBy("user_id")
    feat = u.select(
        "user_id",
        "ts",
        "event_id",
        "is_label",
        "label_c",
        F.last("click_c", ignorenulls=True).over(wc).alias("last_click_c"),
        F.sum("is_view").over(wc).alias("views_before"),
        F.min(F.to_date("ts")).over(wu).alias("first_day"),
    )
    return feat.filter(F.col("is_label") == 1).select(
        F.col("event_id").alias("label_event_id"),
        "user_id",
        "ts",
        "label_c",
        "last_click_c",
        F.col("views_before").cast("bigint").alias("views_before"),
        F.datediff(F.to_date("ts"), F.col("first_day"))
        .cast("bigint")
        .alias("days_active"),
    )


@register(
    "evt_did_estimate",
    oracle="""
    WITH flagged AS (
      SELECT CAST(round(value*100) AS BIGINT) AS v_c,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS treated,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                  THEN 0 ELSE 1 END AS post
      FROM events),
    cells AS (
      SELECT treated, post,
             CAST(sum(v_c) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM flagged GROUP BY treated, post),
    wide AS (
      SELECT
        max(CASE WHEN treated = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS t_pre,
        max(CASE WHEN treated = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS t_post,
        max(CASE WHEN treated = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS c_pre,
        max(CASE WHEN treated = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS c_post,
        CAST(sum(n) AS BIGINT) AS n_total
      FROM cells)
    SELECT round(t_pre, 6) AS t_pre_c, round(t_post, 6) AS t_post_c,
           round(c_pre, 6) AS c_pre_c, round(c_post, 6) AS c_post_c,
           round((t_post - t_pre) - (c_post - c_pre), 6) AS did_c,
           n_total
    FROM wide
    """,
    description=(
        "difference-in-differences estimate over a hash-assigned "
        "treatment split (md5(user) parity — deterministic, so both "
        "engines and every re-run agree on group membership) and a "
        "fixed pre/post cutover: the 2×2 cell means come from ONE "
        "exact-integer aggregate (4 rows), the DiD contrast "
        "(ΔT − ΔC) is a pure projection with identical division "
        "trees. The causal-analytics shape A/B platforms run when "
        "randomization happens at rollout time rather than request "
        "time. Map-side combinable; nothing after the first aggregate "
        "sees raw rows"
    ),
    tags=("events", "statistics", "causal"),
)
def evt_did_estimate(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    flagged = ev.select(
        F.col("value_c").alias("v_c"),
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 2
        ).alias("treated"),
        F.when(F.to_date("ts") < F.lit("2024-01-16").cast("date"), 0)
        .otherwise(1)
        .alias("post"),
    )
    cells = flagged.groupBy("treated", "post").agg(
        F.sum("v_c").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    wide = cells.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), mean)).alias("t_pre"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), mean)).alias("t_post"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0), mean)).alias("c_pre"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), mean)).alias("c_post"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return wide.select(
        F.round("t_pre", 6).alias("t_pre_c"),
        F.round("t_post", 6).alias("t_post_c"),
        F.round("c_pre", 6).alias("c_pre_c"),
        F.round("c_post", 6).alias("c_post_c"),
        F.round(
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre")),
            6,
        ).alias("did_c"),
        "n_total",
    )


@register(
    "stream_hll_distinct",
    # Round 12: the streamed state is the PORTABLE m=256 register
    # table (the evt_hll_portable_rollup recipe — md5-prefix hash,
    # rho via the bin()-string trick, exact Σ 2^(25−reg) BIGINT
    # denominator), and register max is micro-batch-split invariant,
    # so DuckDB replays the drained state — this retired the suite's
    # LAST rows-only driver cell. Streaming-mechanics gate stays
    # tests/test_streaming_semantics.py::test_stream_hll_equals_batch
    # (streamed register table == one-pass batch register table).
    oracle="""
    WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
               ::BIGINT AS hv
      FROM u),
    b AS (SELECT event_type, hv % 256 AS bucket, hv // 256 AS w FROM h),
    r AS (
      SELECT event_type, bucket,
             max(CASE WHEN w = 0 THEN 25
                      ELSE 25 - length(bin(w)) END) AS reg
      FROM b GROUP BY event_type, bucket),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(CAST(1 AS BIGINT) << (25 - reg)) AS BIGINT)
               AS sum_present
      FROM r GROUP BY event_type),
    ex AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM u GROUP BY event_type)
    SELECT a.event_type,
           CAST(256 - a.n_buckets AS BIGINT) AS zero_registers,
           CAST(a.sum_present
                + (256 - a.n_buckets) * 33554432 AS BIGINT) AS sum_scaled,
           round(1579498136381.3938
                 / (a.sum_present + (256 - a.n_buckets) * 33554432), 6)
             AS hll_estimate,
           e.exact_distinct
    FROM agg a
    JOIN ex e ON e.event_type = a.event_type
    """,
    description=(
        "streaming distinct-user monitor: per-type PORTABLE m=256 HLL "
        "register tables folded across micro-batches through the "
        "batch-id-ledgered parquet state's max-merge (at-least-once "
        "replays skipped, one manifest commit per batch — the CMS stream's "
        "exactly-once mechanics with register max instead of integer "
        "sums). State is |types|×256 integer rows forever; register "
        "max is split-invariant, so the drained table equals a "
        "one-pass batch register table and the whole readout "
        "(zero registers, exact BIGINT harmonic denominator, raw "
        "alpha*m^2*2^25/sum estimate) is hash-checked against a "
        "DuckDB replay (round 12)"
    ),
    tags=("events", "streaming", "sketch"),
)
def stream_hll_distinct_q(spark, sf_dir):
    from ..streaming.ingest import stream_hll_distinct

    return stream_hll_distinct(spark, sf_dir)


@register(
    "doc_source_log_odds",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
               AS term
      FROM documents),
    st AS (
      SELECT source, term, count(*) AS n FROM toks
      WHERE term <> '' GROUP BY source, term),
    tt AS (
      SELECT source, term, n,
             sum(n) OVER (PARTITION BY term) AS n_t,
             sum(n) OVER (PARTITION BY source) AS n_s,
             sum(n) OVER () AS n_all,
             count(*) OVER () AS vocab_pairs
      FROM st),
    v AS (
      SELECT source, term, n, n_t, n_s, n_all,
             (SELECT count(DISTINCT term) FROM st) AS vsz
      FROM tt),
    scored AS (
      SELECT source, term, CAST(n AS BIGINT) AS n,
             round(
               ln((n + 1.0) / (n_s + vsz - n - 1.0))
               - ln((n_t - n + 1.0)
                    / (n_all - n_s + vsz - (n_t - n) - 1.0)), 6)
               AS log_odds
      FROM v),
    ranked AS (
      SELECT source, term, n, log_odds,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY log_odds DESC, term ASC)
                  AS BIGINT) AS rnk
      FROM scored)
    SELECT source, term, n, log_odds, rnk
    FROM ranked WHERE rnk <= 3
    """,
    description=(
        "discriminative terms per source: smoothed log-odds ratio of "
        "each term's in-source vs rest-of-corpus usage (add-one "
        "Dirichlet smoothing over the vocabulary) — the "
        "corpus-comparison statistic behind 'what does this source "
        "talk about that others don't', which raw tf-idf gets wrong "
        "for common-but-skewed terms. Shape: ONE (source, term) "
        "count aggregate; term totals, source totals and the grand "
        "total all WINDOW-LIFT over that vocab-sized frame (zero "
        "join-backs, zero re-scans — the naive form runs four "
        "aggregations over the token stream); the per-source top-3 "
        "rank runs on the same frame. The ln arguments are rationals "
        "built from identical integer counts with an identical "
        "expression tree, so round-6 values hash-match across engines"
    ),
    tags=("documents", "statistics", "text"),
)
def doc_source_log_odds(spark, sf_dir):
    from ..operators.textops import tokens

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    st = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        # vocab-sized frame feeds the window-lifts AND the distinct-
        # vocab count — checkpoint once rather than re-run the token
        # explode for the second reference
        .localCheckpoint()
    )
    n_t = F.sum("n").over(Window.partitionBy("term"))
    n_s = F.sum("n").over(Window.partitionBy("source"))
    n_all = F.sum("n").over(Window.partitionBy())
    vsz = F.size(
        F.collect_set("term").over(Window.partitionBy())
    )
    v = st.select(
        "source",
        "term",
        "n",
        n_t.alias("n_t"),
        n_s.alias("n_s"),
        n_all.alias("n_all"),
    ).withColumn("vsz", F.lit(None))  # replaced below
    # distinct-vocab size via a 1-row broadcast (collect_set over a
    # whole-partition window would build a |vocab| array per row)
    vocab = st.agg(F.countDistinct("term").alias("vsz"))
    v = v.drop("vsz").crossJoin(F.broadcast(vocab))
    log_odds = F.round(
        F.log(
            (F.col("n") + 1.0)
            / (F.col("n_s") + F.col("vsz") - F.col("n") - 1.0)
        )
        - F.log(
            (F.col("n_t") - F.col("n") + 1.0)
            / (
                F.col("n_all")
                - F.col("n_s")
                + F.col("vsz")
                - (F.col("n_t") - F.col("n"))
                - 1.0
            )
        ),
        6,
    )
    scored = v.select(
        "source",
        "term",
        F.col("n").cast("bigint").alias("n"),
        log_odds.alias("log_odds"),
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    F.col("log_odds").desc(), F.col("term").asc()
                )
            )
            .cast("bigint"),
        )
        .filter(F.col("rnk") <= 3)
    )


@register(
    "doc_novelty_fraction",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i, i+2), ' ') AS shingle
      FROM toks, unnest(range(1, len(t)-1)) AS u(i)
      WHERE len(t) >= 3),
    owner AS (
      SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle),
    per AS (
      SELECT s.doc_id,
             count(*) AS n_shingles,
             count(CASE WHEN o.first_doc = s.doc_id THEN 1 END) AS n_novel
      FROM sh s JOIN owner o ON o.shingle = s.shingle
      GROUP BY s.doc_id)
    SELECT doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_novel AS BIGINT) AS n_novel,
           round(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty
    FROM per
    """,
    description=(
        "per-document novelty fraction in corpus order: a shingle "
        "belongs to the FIRST document (min doc_id) that contains it; "
        "novelty = owned / total shingles — the curation signal for "
        "'does this document add anything', the per-doc dual of the "
        "corpus-level dup-ngram audit. Shape: map-side distinct "
        "shingling (no shuffle), one shingle-keyed min aggregate, one "
        "join back on the shingle key (co-partitioned — same "
        "partitioning the aggregate just produced), one doc rollup. "
        "The min-attribution trick is what incremental ingestion uses "
        "to bill novelty to the earliest shard without replaying the "
        "corpus"
    ),
    tags=("documents", "dedup", "text"),
)
def doc_novelty_fraction(spark, sf_dir):
    from ..operators.dedup import shingles

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sh = shingles(docs, n=3)
    owner = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per = (
        sh.join(owner, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.count(
                F.when(F.col("first_doc") == F.col("doc_id"), 1)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_shingles"), 6
        ).alias("novelty"),
    )


@register(
    "evt_seasonality_strength",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value*100) AS BIGINT))
                             AS DOUBLE) * 10000 / count(*)) AS BIGINT)
               AS mean_micro
      FROM events GROUP BY 1, 2),
    tr AS (
      SELECT event_type, day, mean_micro,
             CASE WHEN count(*) OVER w = 7
                  THEN CAST(round(CAST(sum(mean_micro) OVER w AS DOUBLE)
                                  / 7) AS BIGINT)
             END AS trend_micro
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT event_type, day, mean_micro, trend_micro,
             mean_micro - trend_micro AS detrended,
             dayofweek(day) AS dow
      FROM tr),
    seas AS (
      SELECT event_type, day, trend_micro, detrended,
             CASE WHEN trend_micro IS NOT NULL THEN
               CAST(round(CAST(sum(detrended)
                          OVER (PARTITION BY event_type, dow) AS DOUBLE)
                          / count(detrended)
                          OVER (PARTITION BY event_type, dow))
                    AS BIGINT)
             END AS seasonal_micro
      FROM det),
    rows_full AS (
      SELECT event_type, detrended,
             detrended - seasonal_micro AS resid
      FROM seas WHERE trend_micro IS NOT NULL),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(detrended) AS BIGINT) AS sd,
             CAST(sum(detrended * detrended) AS BIGINT) AS sdd,
             CAST(sum(resid) AS BIGINT) AS sr,
             CAST(sum(resid * resid) AS BIGINT) AS srr
      FROM rows_full GROUP BY event_type)
    SELECT event_type, n,
           round(greatest(0.0,
             1.0 - (CAST(srr AS DOUBLE) / n
                    - (CAST(sr AS DOUBLE) / n) * (CAST(sr AS DOUBLE) / n))
                   / (CAST(sdd AS DOUBLE) / n
                      - (CAST(sd AS DOUBLE) / n) * (CAST(sd AS DOUBLE) / n))
           ), 6) AS seasonal_strength
    FROM s
    """,
    description=(
        "seasonality-strength score per series: 1 − Var(remainder) / "
        "Var(detrended), the Hyndman forecastability diagnostic — ≈0 "
        "means the day-of-week component explains nothing (don't fit "
        "seasonal models), →1 means the series is dominated by its "
        "weekly cycle. Computed from the same STL chain as "
        "evt_stl_decompose with exact integer micro-unit sufficient "
        "statistics and identical variance/division trees on both "
        "engines. Everything after the daily aggregate runs on "
        "|types|·|days| rows"
    ),
    tags=("events", "timeseries", "statistics"),
)
def evt_seasonality_strength(spark, sf_dir):
    base = (
        evt_stl_decompose(spark, sf_dir)
        .filter(F.col("trend_micro").isNotNull())
        .select(
            "event_type",
            (F.col("mean_micro") - F.col("trend_micro")).alias("detrended"),
            F.col("residual_micro").alias("resid"),
        )
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("detrended").cast("bigint").alias("sd"),
        F.sum(F.col("detrended") * F.col("detrended"))
        .cast("bigint")
        .alias("sdd"),
        F.sum("resid").cast("bigint").alias("sr"),
        F.sum(F.col("resid") * F.col("resid")).cast("bigint").alias("srr"),
    )
    mean_d = F.col("sd").cast("double") / F.col("n")
    mean_r = F.col("sr").cast("double") / F.col("n")
    var_d = F.col("sdd").cast("double") / F.col("n") - mean_d * mean_d
    var_r = F.col("srr").cast("double") / F.col("n") - mean_r * mean_r
    return s.select(
        "event_type",
        "n",
        F.round(F.greatest(F.lit(0.0), 1.0 - var_r / var_d), 6).alias(
            "seasonal_strength"
        ),
    )


@register(
    "rel_segment_migration",
    oracle="""
    WITH halves AS (
      SELECT o_custkey,
             CASE WHEN o_orderdate < DATE '1995-06-01' THEN 0 ELSE 1 END
               AS half,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c
      FROM orders GROUP BY 1, 2),
    seg AS (
      SELECT o_custkey, half,
             CASE WHEN spend_c >= 50000000 THEN 'high'
                  WHEN spend_c >= 20000000 THEN 'mid'
                  ELSE 'low' END AS segment
      FROM halves),
    wide AS (
      SELECT a.o_custkey,
             a.segment AS seg_from, b.segment AS seg_to
      FROM seg a JOIN seg b
        ON a.o_custkey = b.o_custkey AND a.half = 0 AND b.half = 1)
    SELECT seg_from, seg_to, CAST(count(*) AS BIGINT) AS n_customers
    FROM wide GROUP BY seg_from, seg_to
    """,
    description=(
        "customer segment-migration matrix: spend segments (fixed "
        "integer-cent thresholds) computed per customer for two "
        "halves of the order history, then the from→to transition "
        "counts — the churn/upgrade movement report behind retention "
        "planning. Shape: ONE custkey aggregate produces both halves "
        "(the period is a grouping column, not two scans), the "
        "self-join runs on the |customers|-sized segment frame "
        "co-partitioned on custkey, and the matrix collapses to 9 "
        "rows. Exact integer spend, no floats anywhere"
    ),
    tags=("relational", "aggregate", "migration"),
)
def rel_segment_migration(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    halves = o.groupBy(
        "o_custkey",
        F.when(
            F.col("o_orderdate") < F.lit("1995-06-01").cast("date"), 0
        )
        .otherwise(1)
        .alias("half"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "spend_c"
        )
    )
    seg = halves.select(
        "o_custkey",
        "half",
        F.when(F.col("spend_c") >= 50000000, "high")
        .when(F.col("spend_c") >= 20000000, "mid")
        .otherwise("low")
        .alias("segment"),
    )
    a = seg.filter(F.col("half") == 0).select(
        "o_custkey", F.col("segment").alias("seg_from")
    )
    b = seg.filter(F.col("half") == 1).select(
        "o_custkey", F.col("segment").alias("seg_to")
    )
    return (
        a.join(b, "o_custkey")
        .groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


def _register_cluster_topics():
    from .queries_ext import _SQL_MINHASH_AGGS, _SQL_SHINGLES

    @register(
        "doc_cluster_topics",
        oracle=rf"""
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
          SELECT node AS doc_id, min(label) AS cluster_id
          FROM walk GROUP BY node),
        sizes AS (
          SELECT cluster_id, count(*) AS n_members
          FROM cc GROUP BY cluster_id HAVING count(*) >= 2),
        terms AS (
          SELECT cc.cluster_id, u.term, count(*) AS n
          FROM documents d
          JOIN cc ON cc.doc_id = d.doc_id
          JOIN sizes s ON s.cluster_id = cc.cluster_id,
          unnest(string_split(
            regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g'), ' '))
            AS u(term)
          WHERE u.term <> ''
          GROUP BY cc.cluster_id, u.term),
        ranked AS (
          SELECT cluster_id, term, CAST(n AS BIGINT) AS n,
                 CAST(row_number() OVER (PARTITION BY cluster_id
                                         ORDER BY n DESC, term ASC)
                      AS BIGINT) AS rnk
          FROM terms)
        SELECT r.cluster_id, CAST(s.n_members AS BIGINT) AS n_members,
               r.term, r.n, r.rnk
        FROM ranked r JOIN sizes s ON s.cluster_id = r.cluster_id
        WHERE r.rnk <= 2
        """,
        description=(
            "topic labels for near-dup clusters: the LSH→CC machinery "
            "groups documents, then each multi-member cluster gets its "
            "top-2 terms by in-cluster frequency — the human-readable "
            "label a dedup review UI shows next to 'these 7 docs are "
            "the same thing'. Shape: the cluster build is the standard "
            "candidate chain; the labeling joins the |multi-member "
            "docs| subset to its token counts (cluster sizes prune "
            "singletons FIRST, so the explode runs on members only) "
            "and ranks within each cluster's tiny vocabulary"
        ),
        tags=("documents", "dedup", "text", "clusters"),
    )
    def doc_cluster_topics(spark, sf_dir):
        from ..operators.dedup import (
            dedup_clusters,
            lsh_candidate_pairs,
            minhash_signatures_mapside,
        )
        from ..operators.textops import tokens

        docs = fan_out(spark, t(spark, sf_dir, "documents"))
        sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
        pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
        cc = dedup_clusters(pairs, docs, id_col="doc_id")
        sizes = (
            cc.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_members"))
            .filter(F.col("n_members") >= 2)
        )
        members = cc.join(F.broadcast(sizes), "cluster_id")
        terms = (
            members.join(docs.select("doc_id", "text"), "doc_id")
            .select(
                "cluster_id",
                "n_members",
                F.explode(tokens("text")).alias("term"),
            )
            .filter(F.col("term") != "")
            .groupBy("cluster_id", "n_members", "term")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("n").desc(), F.col("term").asc()
        )
        return (
            terms.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rnk") <= 2)
            .select(
                "cluster_id",
                F.col("n_members").cast("bigint").alias("n_members"),
                "term",
                F.col("n").cast("bigint").alias("n"),
                "rnk",
            )
        )


_register_cluster_topics()


@register(
    "evt_type_diversity",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n_i
      FROM events GROUP BY user_id, event_type),
    s AS (
      SELECT user_id,
             CAST(sum(n_i) AS BIGINT) AS n,
             CAST(sum(n_i * n_i) AS BIGINT) AS ss,
             CAST(count(*) AS BIGINT) AS n_types
      FROM c GROUP BY user_id)
    SELECT user_id, n, n_types,
           round(1.0 - CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6)
             AS gini_simpson
    FROM s
    """,
    description=(
        "per-user behavioral diversity (Gini–Simpson index): 1 − "
        "Σ(nᵢ/n)² over the user's event-type distribution — 0 = "
        "single-behavior users, →1 = uniformly mixed; the engagement-"
        "breadth feature churn models lean on. Two stacked integer "
        "aggregates on the same user partitioning (the (user, type) "
        "counts collapse first, map-side combined; the diversity fold "
        "sees ≤|types| rows per user); the index is one identical "
        "division tree from exact integer sums"
    ),
    tags=("events", "aggregate", "statistics"),
)
def evt_type_diversity(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_i")
    )
    s = c.groupBy("user_id").agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum(F.col("n_i") * F.col("n_i")).cast("bigint").alias("ss"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    return s.select(
        "user_id",
        "n",
        "n_types",
        F.round(
            1.0
            - F.col("ss").cast("double")
            / (F.col("n").cast("double") * F.col("n")),
            6,
        ).alias("gini_simpson"),
    )


@register(
    "doc_source_js_divergence",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
               AS term
      FROM documents),
    d AS (
      SELECT source, term, count(*) AS n FROM toks
      WHERE term <> '' GROUP BY source, term),
    tot AS (SELECT source, sum(n) AS nt FROM d GROUP BY source),
    srcs AS (SELECT DISTINCT source FROM d),
    prs AS (
      SELECT a.source AS sa, b.source AS sb
      FROM srcs a JOIN srcs b ON a.source < b.source),
    vocab AS (SELECT DISTINCT term FROM d),
    grid AS (
      SELECT p.sa, p.sb, v.term FROM prs p CROSS JOIN vocab v),
    joined AS (
      SELECT g.sa, g.sb, g.term,
             coalesce(da.n, 0) AS na, coalesce(db.n, 0) AS nb,
             ta.nt AS nta, tb.nt AS ntb
      FROM grid g
      LEFT JOIN d da ON da.source = g.sa AND da.term = g.term
      LEFT JOIN d db ON db.source = g.sb AND db.term = g.term
      JOIN tot ta ON ta.source = g.sa
      JOIN tot tb ON tb.source = g.sb),
    contrib AS (
      SELECT sa, sb,
             CAST(round(
               CASE WHEN na > 0 THEN
                 (CAST(na AS DOUBLE) / nta)
                 * ln((CAST(na AS DOUBLE) / nta)
                      / ((CAST(na AS DOUBLE) / nta
                          + CAST(nb AS DOUBLE) / ntb) / 2))
               ELSE 0.0 END * 1000000000) AS BIGINT) AS xa,
             CAST(round(
               CASE WHEN nb > 0 THEN
                 (CAST(nb AS DOUBLE) / ntb)
                 * ln((CAST(nb AS DOUBLE) / ntb)
                      / ((CAST(na AS DOUBLE) / nta
                          + CAST(nb AS DOUBLE) / ntb) / 2))
               ELSE 0.0 END * 1000000000) AS BIGINT) AS xb
      FROM joined),
    js AS (
      SELECT sa, sb,
             CAST(sum(xa) AS BIGINT) AS sxa,
             CAST(sum(xb) AS BIGINT) AS sxb
      FROM contrib GROUP BY sa, sb),
    scored AS (
      SELECT sa, sb,
             round((sxa + sxb) / 2000000000.0, 6) AS js_div
      FROM js),
    ranked AS (
      SELECT sa, sb, js_div,
             CAST(row_number() OVER (ORDER BY js_div DESC, sa, sb)
                  AS BIGINT) AS rnk
      FROM scored)
    SELECT sa, sb, js_div, rnk FROM ranked WHERE rnk <= 5
    """,
    description=(
        "most-divergent source pairs by Jensen–Shannon divergence "
        "between unigram distributions — the corpus-drift comparison "
        "for mixture rebalancing (which sources are saying different "
        "things). Determinism: each term's JS contribution quantizes "
        "to integer NANO-NATS before the pair sum (float sums over "
        "the vocabulary are order-dependent; integer sums are exact — "
        "the markov-entropy treatment), and the p/m expressions share "
        "one tree on both engines. Shape: the term-count aggregate "
        "collapses the corpus once; the pair grid is |sources|² × "
        "|vocab| — QUADRATIC IN SOURCES by definition (the sf1 probe "
        "measures exp 1.1 when the replica multiplies sources), so "
        "the op asserts ≤256 sources; beyond that, compare each "
        "source against the GLOBAL distribution instead (1-vs-rest "
        "is linear and usually answers the same drift question), or "
        "prune candidate pairs with a cheap L1 screen first"
    ),
    tags=("documents", "statistics", "divergence"),
)
def doc_source_js_divergence(spark, sf_dir):
    from ..operators.textops import tokens

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    d = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        # vocab-sized frame feeds totals, the source list, the vocab
        # list and the grid join — checkpoint once
        .localCheckpoint()
    )
    tot = d.groupBy("source").agg(F.sum("n").alias("nt"))
    srcs = d.select("source").distinct()
    n_sources = srcs.limit(257).count()
    assert n_sources <= 256, (
        "pairwise JS is quadratic in sources; use 1-vs-rest for "
        f"{n_sources}+ sources"
    )
    prs = (
        srcs.select(F.col("source").alias("sa"))
        .crossJoin(F.broadcast(srcs.select(F.col("source").alias("sb"))))
        .filter(F.col("sa") < F.col("sb"))
    )
    # r5 scale rewrite: the dense |pairs| × |vocab| grid (the oracle's
    # formulation, and this op's round-4 sf1 super-linear row, exp 1.26)
    # decomposes EXACTLY. A term absent from both sources contributes 0;
    # a term in a only contributes round(pa·ln(pa/((pa+0)/2))·1e9) —
    # independent of the partner (0/ntb is exactly 0.0) — so
    #   sxa(a,b) = Σ_shared xa_both  +  LONE(a) − Σ_shared lone_a
    # where LONE(a) = Σ_{t∈a} round(pa·ln2·1e9) is a per-SOURCE integer
    # constant. Only the shared-term inverted-index join scales with the
    # corpus; salted/rare vocabulary (the probe's growth axis) never
    # enters a pair row. Every per-term quantization keeps the oracle's
    # exact expression tree, so the integer sums match cell-for-cell.
    dp = d.join(F.broadcast(tot), "source")
    p_ = F.col("n").cast("double") / F.col("nt")
    # oracle's a-only cell: nb/ntb = 0.0 exactly → same tree with +0.0
    lone_ = F.round(p_ * F.log(p_ / ((p_ + F.lit(0.0)) / 2)) * 1000000000).cast(
        "bigint"
    )
    dpl = dp.select("source", "term", "n", "nt", lone_.alias("lone"))
    lone_sums = dpl.groupBy("source").agg(
        F.sum("lone").cast("bigint").alias("lone_sum")
    )
    sa_side = dpl.select(
        F.col("source").alias("sa"), "term",
        F.col("n").alias("na"), F.col("nt").alias("nta"),
        F.col("lone").alias("lone_a"),
    )
    sb_side = dpl.select(
        F.col("source").alias("sb"), "term",
        F.col("n").alias("nb"), F.col("nt").alias("ntb"),
        F.col("lone").alias("lone_b"),
    )
    shared = sa_side.join(sb_side, "term").filter(F.col("sa") < F.col("sb"))
    pa = F.col("na").cast("double") / F.col("nta")
    pb = F.col("nb").cast("double") / F.col("ntb")
    m = (pa + pb) / 2
    xa = F.round(pa * F.log(pa / m) * 1000000000).cast("bigint")
    xb = F.round(pb * F.log(pb / m) * 1000000000).cast("bigint")
    sh_agg = shared.groupBy("sa", "sb").agg(
        F.sum(xa - F.col("lone_a")).cast("bigint").alias("dxa"),
        F.sum(xb - F.col("lone_b")).cast("bigint").alias("dxb"),
    )
    la = F.broadcast(
        lone_sums.select(F.col("source").alias("sa"), F.col("lone_sum").alias("lsa"))
    )
    lb = F.broadcast(
        lone_sums.select(F.col("source").alias("sb"), F.col("lone_sum").alias("lsb"))
    )
    js = (
        prs.join(sh_agg, ["sa", "sb"], "left")
        .join(la, "sa")
        .join(lb, "sb")
        .select(
            "sa",
            "sb",
            (F.coalesce(F.col("dxa"), F.lit(0)) + F.col("lsa"))
            .cast("bigint")
            .alias("sxa"),
            (F.coalesce(F.col("dxb"), F.lit(0)) + F.col("lsb"))
            .cast("bigint")
            .alias("sxb"),
        )
    )
    scored = js.select(
        "sa",
        "sb",
        F.round((F.col("sxa") + F.col("sxb")) / 2000000000.0, 6).alias(
            "js_div"
        ),
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("js_div").desc(), F.col("sa"), F.col("sb")
                )
            )
            .cast("bigint"),
        )
        .filter(F.col("rnk") <= 5)
    )


@register(
    "evt_growth_accounting",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    lagged AS (
      SELECT user_id, day,
             lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
      FROM act),
    classed AS (
      SELECT day,
             CASE WHEN prev_day IS NULL THEN 'new'
                  WHEN day - prev_day <= 7 THEN 'retained'
                  ELSE 'resurrected' END AS stage
      FROM lagged)
    SELECT day,
           CAST(count(CASE WHEN stage = 'new' THEN 1 END) AS BIGINT)
             AS n_new,
           CAST(count(CASE WHEN stage = 'retained' THEN 1 END) AS BIGINT)
             AS n_retained,
           CAST(count(CASE WHEN stage = 'resurrected' THEN 1 END)
                AS BIGINT) AS n_resurrected
    FROM classed GROUP BY day
    """,
    description=(
        "growth accounting (lifecycle decomposition): every active "
        "user-day classifies as new (first ever), retained (last "
        "active ≤7 days ago) or resurrected (gap >7 days) — the full "
        "version of the new/returning split, and the decomposition "
        "growth teams reconcile DAU movement against. Shape: distinct "
        "(user, day) collapses the log once, ONE user window computes "
        "the previous active day, the day rollup reuses nothing "
        "data-sized. The churn complement (users whose window expired "
        "today) is the same frame probed at day+8 — same machinery"
    ),
    tags=("events", "window", "growth"),
)
def evt_growth_accounting(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    act = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    classed = act.select(
        "day",
        F.when(F.lag("day").over(w).isNull(), "new")
        .when(F.datediff("day", F.lag("day").over(w)) <= 7, "retained")
        .otherwise("resurrected")
        .alias("stage"),
    )
    return classed.groupBy("day").agg(
        F.count(F.when(F.col("stage") == "new", 1))
        .cast("bigint")
        .alias("n_new"),
        F.count(F.when(F.col("stage") == "retained", 1))
        .cast("bigint")
        .alias("n_retained"),
        F.count(F.when(F.col("stage") == "resurrected", 1))
        .cast("bigint")
        .alias("n_resurrected"),
    )


@register(
    "rel_backlog_aging",
    oracle="""
    WITH mx AS (SELECT max(o_orderdate) AS snap FROM orders),
    open_orders AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             date_diff('day', o.o_orderdate, mx.snap) AS age_days,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_c
      FROM orders o CROSS JOIN mx
      WHERE o.o_orderstatus <> 'F'),
    bucketed AS (
      SELECT o_orderpriority,
             CASE WHEN age_days <= 30 THEN '0-30'
                  WHEN age_days <= 90 THEN '31-90'
                  WHEN age_days <= 365 THEN '91-365'
                  ELSE '365+' END AS age_bucket,
             total_c
      FROM open_orders)
    SELECT o_orderpriority, age_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(total_c) AS BIGINT) AS backlog_c
    FROM bucketed GROUP BY o_orderpriority, age_bucket
    """,
    description=(
        "open-order backlog aging: non-finalized orders bucketed by "
        "age at the snapshot date (max order date), value and count "
        "per (priority, age bucket) — the receivables-style aging "
        "report operations teams pull daily. Shape: the snapshot "
        "scalar broadcasts (1 row), the status filter pushes into the "
        "scan, the bucket is a map-side CASE, one aggregate — exact "
        "integer cents throughout"
    ),
    tags=("relational", "aggregate", "aging"),
)
def rel_backlog_aging(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("snap"))
    open_orders = (
        o.filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(mx))
        .select(
            "o_orderpriority",
            F.datediff("snap", "o_orderdate").alias("age_days"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("total_c"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 90, "31-90")
        .when(F.col("age_days") <= 365, "91-365")
        .otherwise("365+")
    )
    return (
        open_orders.withColumn("age_bucket", bucket)
        .groupBy("o_orderpriority", "age_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("total_c").cast("bigint").alias("backlog_c"),
        )
    )


@register(
    "rel_supplier_hhi",
    oracle="""
    WITH supply AS (
      SELECT n.n_name AS nation, l.l_suppkey,
             sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT)) AS v_c
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY n.n_name, l.l_suppkey),
    tot AS (
      SELECT nation, v_c, l_suppkey,
             sum(v_c) OVER (PARTITION BY nation) AS nat_c,
             count(*) OVER (PARTITION BY nation) AS n_suppliers
      FROM supply)
    SELECT nation,
           CAST(max(n_suppliers) AS BIGINT) AS n_suppliers,
           CAST(max(nat_c) AS BIGINT) AS nation_value_c,
           round(sum((CAST(v_c AS DOUBLE) / nat_c)
                     * (CAST(v_c AS DOUBLE) / nat_c)), 6) AS hhi
    FROM tot GROUP BY nation
    """,
    description=(
        "supplier-concentration HHI per nation: Herfindahl–Hirschman "
        "index of each supplier's share of the nation's total supply "
        "revenue (Σ shareᵢ²) — the procurement-risk metric behind "
        "single-source exposure reviews; >0.25 is the antitrust "
        "screening line. Shape: one (nation, supplier) integer-cent "
        "aggregate with two broadcast dimension joins, nation totals "
        "WINDOW-LIFTED onto the supplier rows (no join-back), the "
        "share-square sum collapses to |nations| rows. The Σshare² "
        "identity means HHI needs only per-supplier sums — never "
        "pairwise comparisons"
    ),
    tags=("relational", "aggregate", "concentration"),
)
def rel_supplier_hhi(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("nation"),
    )
    supply = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), "s_nationkey")
        .groupBy("nation", "l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("v_c")
        )
    )
    wn = Window.partitionBy("nation")
    tot = supply.select(
        "nation",
        "v_c",
        F.sum("v_c").over(wn).alias("nat_c"),
        F.count(F.lit(1)).over(wn).alias("n_suppliers"),
    )
    share = F.col("v_c").cast("double") / F.col("nat_c")
    return tot.groupBy("nation").agg(
        F.max("n_suppliers").cast("bigint").alias("n_suppliers"),
        F.max("nat_c").cast("bigint").alias("nation_value_c"),
        F.round(F.sum(share * share), 6).alias("hhi"),
    )


@register(
    "rel_discount_elasticity",
    oracle="""
    WITH base AS (
      SELECT p.p_brand AS brand,
             CAST(round(l.l_discount * 100) AS BIGINT) AS disc_pct,
             CAST(round(l.l_quantity) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    s AS (
      SELECT brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(disc_pct) AS BIGINT) AS sx,
             CAST(sum(qty) AS BIGINT) AS sy,
             CAST(sum(disc_pct * disc_pct) AS BIGINT) AS sxx,
             CAST(sum(disc_pct * qty) AS BIGINT) AS sxy
      FROM base GROUP BY brand)
    SELECT brand, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (n * sxx - sx * sx), 6) AS qty_per_disc_pct
    FROM s WHERE n * sxx - sx * sx > 0
    """,
    description=(
        "discount elasticity proxy per brand: OLS slope of line "
        "quantity on discount percentage — the does-discounting-move-"
        "volume readout merchandising asks for. Exact integer "
        "sufficient statistics (discount quantized to whole percents, "
        "quantity integral in TPC-H), one brand-keyed aggregate after "
        "a broadcast part join, Cramer slope with identical division "
        "trees (the evt_ols_features pattern on a second fact table). "
        "Degenerate brands (no discount variance) drop via the "
        "determinant guard"
    ),
    tags=("relational", "statistics", "regression"),
)
def rel_discount_elasticity(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("disc_pct"),
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
    )
    s = base.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("disc_pct").cast("bigint").alias("sx"),
        F.sum("qty").cast("bigint").alias("sy"),
        F.sum(F.col("disc_pct") * F.col("disc_pct"))
        .cast("bigint")
        .alias("sxx"),
        F.sum(F.col("disc_pct") * F.col("qty"))
        .cast("bigint")
        .alias("sxy"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.filter(det > 0).select(
        "brand",
        "n",
        F.round(num.cast("double") / det, 6).alias("qty_per_disc_pct"),
    )


@register(
    "emb_fisher_ratio",
    oracle="""
    WITH comp AS (
      SELECT label, i AS dim,
             CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS c
      FROM embeddings, unnest(range(len(embedding))) AS u(i)),
    per AS (
      SELECT label, dim,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS ss
      FROM comp GROUP BY label, dim),
    dims AS (
      SELECT dim,
             CAST(sum(n) AS BIGINT) AS n_all,
             CAST(sum(s) AS BIGINT) AS s_all,
             sum(CAST(ss AS DOUBLE) / 1
                 - CAST(s AS DOUBLE) * s / n) AS within_d,
             sum(CAST(s AS DOUBLE) * s / n) AS cls_sq_d
      FROM per GROUP BY dim),
    agg AS (
      SELECT sum(within_d) AS w,
             sum(cls_sq_d
                 - CAST(s_all AS DOUBLE) * s_all / n_all) AS b,
             max(n_all) AS n_vecs
      FROM dims)
    SELECT CAST(n_vecs AS BIGINT) AS n_vectors,
           round(b / w, 6) AS fisher_ratio
    FROM agg
    """,
    description=(
        "Fisher discriminant ratio of the embedding space: "
        "between-class scatter / within-class scatter summed over "
        "dimensions — the linear-separability score that predicts "
        "probe-classifier accuracy before training one (complements "
        "the k-NN eval, which measures the same thing the slow way). "
        "Components quantize to integer micro-units so the per-"
        "(label, dim) sufficient statistics are exact; the scatter "
        "decomposition (Σx² − (Σx)²/n per group, grouped vs global) "
        "is the textbook one-pass form, and every division tree is "
        "written identically on both engines. Shape: one exploded "
        "(label, dim) aggregate — map-side combined — then |dims| and "
        "1-row folds; row count never survives the first aggregate"
    ),
    tags=("embeddings", "statistics", "evaluation"),
)
def emb_fisher_ratio(spark, sf_dir):
    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    comp = emb.select(
        "label", F.posexplode("embedding").alias("dim", "comp")
    ).select(
        "label",
        "dim",
        F.round(F.col("comp").cast("double") * 1000000)
        .cast("bigint")
        .alias("c"),
    )
    per = comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    within_d = F.sum(
        F.col("ss").cast("double") / 1
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    )
    cls_sq_d = F.sum(
        F.col("s").cast("double") * F.col("s") / F.col("n")
    )
    dims = per.groupBy("dim").agg(
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("s").cast("bigint").alias("s_all"),
        within_d.alias("within_d"),
        cls_sq_d.alias("cls_sq_d"),
    )
    agg = dims.agg(
        F.sum("within_d").alias("w"),
        F.sum(
            F.col("cls_sq_d")
            - F.col("s_all").cast("double") * F.col("s_all") / F.col("n_all")
        ).alias("b"),
        F.max("n_all").alias("n_vecs"),
    )
    return agg.select(
        F.col("n_vecs").cast("bigint").alias("n_vectors"),
        F.round(F.col("b") / F.col("w"), 6).alias("fisher_ratio"),
    )
