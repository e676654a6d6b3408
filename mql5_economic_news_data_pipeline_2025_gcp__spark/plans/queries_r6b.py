"""Round-6 continuation: training-data featurization and
experimentation-analytics operators.

Everything here follows the determinism contract in ``registry`` (exact
integer statistics, portable md5-derived hashing so DuckDB can replay
bit-for-bit).  None of these exist in the reference (a pandas/MySQL
pipeline, SURVEY §2.8); they extend its analytics surface the way a
large-scale training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import fan_out, keyed_events, t
from .registry import register

#: Portable 32-bit token hash: first 8 hex digits of md5, identical in
#: Spark (``conv(substr(md5(x),1,8),16,10)``) and DuckDB
#: (``('0x' || substr(md5(x),1,8))::BIGINT``) — same trick as
#: ``doc_simhash`` (queries_ext.py).
def _h32(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


@register(
    "doc_feature_hashing",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
               AS tok
      FROM documents),
    h AS (
      SELECT source, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
      FROM toks WHERE tok <> '')
    SELECT source,
           h % 64 AS bucket,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END)
                AS BIGINT) AS signed_weight
    FROM h
    GROUP BY source, h % 64
    """,
    description="signed hashing-trick featurization (Weinberger et al.): "
    "md5-derived 64-bucket term hash with a sign bit, per-source bucket "
    "weights",
    tags=("documents", "text", "featurize"),
)
def doc_feature_hashing(spark, sf_dir):
    """Hashing-trick (feature-hashing) term featurization.

    The classic trick behind linear text classifiers at corpus scale:
    no vocabulary build, no dictionary shuffle — each token maps
    straight to ``bucket = h(tok) % D`` with an independent sign bit
    ``s(tok) = ±1`` debiasing collisions, so featurization is a pure
    map followed by ONE (source, bucket) aggregation.

    Scale: map-side only until the final agg on a bounded key space
    (|sources| × D rows); no vocabulary state, no skew (buckets are
    hash-uniform).  The JVM md5/conv pipeline keeps the hot path in
    whole-stage codegen — no Python seam.
    """
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = docs.select(
        "source",
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
            )
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    h = toks.select("source", _h32(F.col("tok")).alias("h"))
    sign = F.when(F.shiftright("h", 6).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
        -1
    )
    return h.groupBy(
        "source", (F.col("h") % 64).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum(sign).cast("bigint").alias("signed_weight"),
    )


@register(
    "doc_cdc_chunks",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
      FROM documents),
    ch AS (
      SELECT doc_id, source,
             generate_subscripts(string_split(s, ''), 1) AS p,
             CAST(ascii(unnest(string_split(s, ''))) AS BIGINT) AS c
      FROM d),
    h AS (
      SELECT doc_id, source, p, c,
             c
             + lag(c, 1) OVER w * 31
             + lag(c, 2) OVER w * 961
             + lag(c, 3) OVER w * 29791
             + lag(c, 4) OVER w * 923521
             + lag(c, 5) OVER w * 28629151
             + lag(c, 6) OVER w * 887503681
             + lag(c, 7) OVER w * 27512614111 AS roll
      FROM ch
      WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
    marked AS (
      SELECT doc_id, source, p, c,
             CASE WHEN p >= 8 AND roll % 64 = 0 THEN 1 ELSE 0 END AS cut
      FROM h),
    assigned AS (
      SELECT doc_id, source, p, c,
             coalesce(sum(cut) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_id
      FROM marked),
    chunks AS (
      SELECT doc_id, source, chunk_id,
             md5(string_agg(chr(CAST(c AS INTEGER)), '' ORDER BY p)) AS fp
      FROM assigned GROUP BY doc_id, source, chunk_id)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
           CAST((1000000 * (count(*) - count(DISTINCT fp)))
                // count(*) AS BIGINT) AS dup_micro
    FROM chunks GROUP BY source
    """,
    description="content-defined chunking (rolling 8-char polynomial "
    "hash, cut where h%64==0) with md5 chunk fingerprints; per-source "
    "chunk-level dedup ratio — the rsync/CDC storage-dedup primitive",
    tags=("documents", "dedup", "chunking"),
)
def doc_cdc_chunks(spark, sf_dir):
    """Content-defined chunking + chunk-fingerprint dedup audit.

    Fixed-size chunking breaks under insertion (every boundary after
    the edit shifts); CONTENT-defined boundaries (cut where a rolling
    hash of the last 8 chars ≡ 0 mod 64) re-synchronize immediately —
    the principle behind rsync, backup dedup stores, and
    shift-tolerant near-dup chunk indexes for training corpora.

    The engine side chunks each document independently inside
    ``mapInPandas`` (a per-doc linear scan; only (source, fp) rows —
    never text — cross the Arrow seam or the shuffle), then one
    per-source aggregation computes the dedup ratio.  The oracle
    replays the identical recurrence char-relationally: 8 lag terms
    (31^k weights, max sum 7.4e12 — exact int64, no modulus needed),
    an exclusive running sum for chunk ids, string_agg + md5 per
    chunk.  Production note: real CDC adds min/max chunk-size clamps;
    omitted here to keep the two sides one formula.
    """
    import hashlib

    import pandas as pd

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    d = docs.select(
        "source",
        F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ").alias("s"),
    )
    pow31 = [31**k for k in range(8)]

    def _chunks(batches):
        for pdf in batches:
            srcs, fps = [], []
            for src, s in zip(pdf["source"], pdf["s"]):
                cur = []
                for i, chx in enumerate(s):
                    cur.append(chx)
                    if i >= 7:
                        roll = sum(
                            ord(s[i - k]) * pow31[k] for k in range(8)
                        )
                        if roll % 64 == 0:
                            srcs.append(src)
                            fps.append(
                                hashlib.md5(
                                    "".join(cur).encode()
                                ).hexdigest()
                            )
                            cur = []
                if cur:
                    srcs.append(src)
                    fps.append(
                        hashlib.md5("".join(cur).encode()).hexdigest()
                    )
            if srcs:
                yield pd.DataFrame({"source": srcs, "fp": fps})

    chunks = d.mapInPandas(_chunks, schema="source string, fp string")
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.countDistinct("fp").cast("bigint").alias("n_distinct"),
        F.floor(
            (1000000 * (F.count(F.lit(1)) - F.countDistinct("fp")))
            / F.count(F.lit(1))
        )
        .cast("bigint")
        .alias("dup_micro"),
    )


@register(
    "evt_state_machine_audit",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(ts) FILTER (event_type = 'signup') AS first_signup,
             min(ts) FILTER (event_type = 'purchase')
               AS first_purchase,
             min(ts) FILTER (event_type IN ('click', 'view'))
               AS first_touch
      FROM events GROUP BY user_id),
    st AS (
      SELECT user_id,
             CASE
               WHEN first_purchase IS NOT NULL THEN 'purchaser'
               WHEN first_signup IS NOT NULL THEN 'registered'
               WHEN first_touch IS NOT NULL THEN 'visitor'
               ELSE 'other' END AS final_state,
             CASE WHEN first_purchase IS NOT NULL
                   AND (first_signup IS NULL
                        OR first_purchase < first_signup)
                  THEN 1 ELSE 0 END AS purchase_before_signup,
             CASE WHEN first_signup IS NOT NULL
                   AND (first_touch IS NULL
                        OR first_signup < first_touch)
                  THEN 1 ELSE 0 END AS signup_before_touch
      FROM f)
    SELECT final_state,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(purchase_before_signup) AS BIGINT)
             AS purchase_before_signup,
           CAST(sum(signup_before_touch) AS BIGINT)
             AS signup_before_touch
    FROM st GROUP BY final_state
    """,
    description="event-sourcing state-machine audit: fold each user's "
    "stream to a lifecycle state (visitor -> registered -> purchaser) "
    "and count ordering violations (purchase before signup, signup "
    "before first touch) — one conditional-min aggregation",
    tags=("events", "lifecycle", "audit"),
)
def evt_state_machine_audit(spark, sf_dir):
    """Does the event log obey its own lifecycle?

    Event-sourced systems assume transitions happen in order; logs
    disagree (backfills, client clocks, dropped events).  Folding each
    user's stream to first-transition timestamps needs no window at
    all — conditional ``min`` aggregation per user gives every
    state's first occurrence in one pass, the lifecycle state is a
    CASE over them, and each ordering violation is a timestamp
    comparison.  The violation counts are the data-quality contract
    for every downstream funnel/attribution query that ASSUMES the
    ordering.
    """
    ev = keyed_events(spark, sf_dir)
    f = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("first_signup"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
        F.min(
            F.when(
                F.col("event_type").isin("click", "view"), F.col("ts")
            )
        ).alias("first_touch"),
    )
    state = (
        F.when(F.col("first_purchase").isNotNull(), "purchaser")
        .when(F.col("first_signup").isNotNull(), "registered")
        .when(F.col("first_touch").isNotNull(), "visitor")
        .otherwise("other")
    )
    pbs = F.when(
        F.col("first_purchase").isNotNull()
        & (
            F.col("first_signup").isNull()
            | (F.col("first_purchase") < F.col("first_signup"))
        ),
        1,
    ).otherwise(0)
    sbt = F.when(
        F.col("first_signup").isNotNull()
        & (
            F.col("first_touch").isNull()
            | (F.col("first_signup") < F.col("first_touch"))
        ),
        1,
    ).otherwise(0)
    return (
        f.select(
            state.alias("final_state"),
            pbs.alias("pbs"),
            sbt.alias("sbt"),
        )
        .groupBy("final_state")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("pbs").cast("bigint").alias("purchase_before_signup"),
            F.sum("sbt").cast("bigint").alias("signup_before_touch"),
        )
    )


@register(
    "evt_twap",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(value * 100) AS BIGINT) AS v,
             CAST(epoch_us(ts) AS BIGINT) AS us,
             lead(epoch_us(ts)) OVER (
               PARTITION BY event_type, CAST(ts AS DATE)
               ORDER BY ts, event_id) AS next_us
      FROM events WHERE value IS NOT NULL),
    seg AS (
      SELECT event_type, day, v,
             (next_us - us) // 1000000 AS hold_s
      FROM s WHERE next_us IS NOT NULL)
    SELECT event_type, day,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(hold_s) AS BIGINT) AS covered_s,
           CAST(sum(v * hold_s) AS BIGINT) AS vt_num,
           CAST(sum(v * hold_s) // nullif(sum(hold_s), 0) AS BIGINT)
             AS twap_c
    FROM seg GROUP BY event_type, day
    """,
    description="time-weighted average price over irregular series "
    "(TimescaleDB time_weight parity): each observation holds until "
    "the next within its (type, day), exact integer value x seconds "
    "sums and the floored TWAP",
    tags=("events", "timeseries", "finance"),
)
def evt_twap(spark, sf_dir):
    """TWAP — the average a plain mean gets wrong on irregular data.

    When observations arrive irregularly, the arithmetic mean
    over-weights busy periods; the time-weighted average holds each
    value until the next observation and weights by holding time
    (last-observation-carried-forward — the same convention as the
    engine's as-of join and ffill operators).  One
    (type, day)-partitioned lead window gives holding intervals, one
    aggregation gives exact integer ``Σ value·seconds`` sums; the
    final TWAP is a single floored division, with the raw numerator
    kept so day rows roll up to weeks exactly.
    """
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    s = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.col("value_c").alias("v"),
        F.unix_micros("ts").alias("us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    seg = s.select(
        "event_type",
        "day",
        "v",
        F.expr("(next_us - us) div 1000000").alias("hold_s"),
    )
    return seg.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum("hold_s").cast("bigint").alias("covered_s"),
        F.sum(F.col("v") * F.col("hold_s")).cast("bigint").alias("vt_num"),
        F.expr(
            "sum(v * hold_s) div nullif(sum(hold_s), 0)"
        ).alias("twap_c"),
    )


@register(
    "doc_winnowing_fingerprints",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
      FROM documents),
    grams AS (
      SELECT doc_id, source, p,
             ('0x' || substr(md5(substr(s, p, 5)), 1, 8))::BIGINT AS h
      FROM d, LATERAL (
        SELECT unnest(range(1, greatest(length(s) - 3, 1))) AS p)
      WHERE length(s) >= 5),
    win AS (
      SELECT doc_id, source, p, h,
             min(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
               AS wmin,
             count(*) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
               AS wn
      FROM grams),
    sel AS (
      SELECT DISTINCT doc_id, source, h
      FROM win WHERE wn = 8 AND h = wmin)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_fingerprints,
           CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST((1000000 * (count(*) - count(DISTINCT h)))
                // count(*) AS BIGINT) AS shared_micro
    FROM sel GROUP BY source
    """,
    description="winnowing fingerprints (Schleimer et al. 2003, the "
    "MOSS algorithm): min 5-gram hash per 8-gram window, guaranteed "
    "to fingerprint every match of length >= 12; per-source density "
    "and cross-doc sharing",
    tags=("documents", "dedup", "fingerprint"),
)
def doc_winnowing_fingerprints(spark, sf_dir):
    """Winnowing: fingerprint selection with a matching guarantee.

    CDC cuts where a hash is 0; winnowing instead keeps the MINIMUM
    k-gram hash in every sliding window, which buys the property CDC
    lacks: any shared substring of length ≥ w+k−1 is guaranteed to
    share a selected fingerprint (the MOSS plagiarism detector's
    core).  The dataflow is chars → 5-gram hashes (map-only md5) →
    a doc-PARTITIONED sliding min window → distinct selections; the
    windows never cross documents, so there is no global stage.  The
    sharing ratio across docs of a source is the plagiarism/dup
    signal.
    """
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id",
        "source",
        F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ").alias("s"),
    ).filter(F.length("s") >= 5)
    # the whole per-doc winnowing runs as higher-order array
    # expressions on the ONE row the doc already occupies — no gram
    # explode, no doc-key shuffle for a partitioned window (the probe
    # measured that shuffle at exp 0.70; this form only exchanges the
    # per-source aggregate).  CASE guard: sequence(8, n) REVERSES when
    # n < 8 in Spark, so short docs must short-circuit to an empty
    # selection (mirroring the oracle's wn = 8 full-window rule).
    hs = F.expr(
        "transform(sequence(1, length(s) - 4), "
        "p -> CAST(conv(substring(md5(substring(s, p, 5)), 1, 8), "
        "16, 10) AS BIGINT))"
    )
    sel_expr = F.expr(
        "CASE WHEN size(hs) >= 8 THEN array_distinct(filter("
        "transform(sequence(8, size(hs)), i -> "
        "IF(element_at(hs, i) = array_min(slice(hs, i - 7, 8)), "
        "element_at(hs, i), NULL)), x -> x IS NOT NULL)) "
        "ELSE array() END"
    )
    sel = (
        d.select("doc_id", "source", hs.alias("hs"))
        .select("doc_id", "source", F.explode(sel_expr).alias("h"))
    )
    return sel.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.countDistinct("h").cast("bigint").alias("n_distinct"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.expr(
            "(1000000 * (count(1) - count(DISTINCT h))) div count(1)"
        ).alias("shared_micro"),
    )


@register(
    "evt_user_skyline",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS v,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS d
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id),
    sweep AS (
      SELECT user_id, v, d,
             max(d) OVER (ORDER BY v DESC
                          RANGE BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS best_d_higher,
             max(d) OVER (PARTITION BY v) AS best_d_same
      FROM u)
    SELECT user_id, v AS total_value_c, d AS active_days
    FROM sweep
    WHERE d > coalesce(best_d_higher, -1) AND d = best_d_same
    """,
    description="2D skyline (Pareto frontier) of users over (total "
    "value, active days): the classic preference-query operator via "
    "the sort-sweep identity — on the frontier iff days beats every "
    "strictly-richer user and ties the best at equal value",
    tags=("events", "skyline", "preference"),
)
def evt_user_skyline(spark, sf_dir):
    """Skyline / Pareto-frontier query (Börzsönyi et al. 2001).

    "Best" users when no single score exists: keep exactly the points
    no other point dominates on (total value, active days).  The
    naive form is an O(n²) NOT-EXISTS self-join; in 2D the sort-sweep
    identity collapses it to windows: a point is on the frontier iff
    its days exceed the best days among all STRICTLY richer points
    (RANGE ... 1 PRECEDING over descending integer value ⇔ v' > v)
    and it ties the best days within its own value group (equal-value
    strict dominance).  The windows run over the USERS aggregate, not
    raw events; a 100 TB run grid-partitions the frontier (local
    skylines per cell → merge, the standard distributed skyline) —
    the identity here is the per-cell kernel.
    """
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    u = ev.groupBy("user_id").agg(
        F.sum("value_c").cast("bigint").alias("v"),
        F.countDistinct(F.to_date("ts")).cast("bigint").alias("d"),
    )
    from pyspark.sql import Window

    higher = (
        Window.orderBy(F.desc("v"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    same = Window.partitionBy("v")
    sweep = u.select(
        "user_id",
        "v",
        "d",
        F.max("d").over(higher).alias("best_d_higher"),
        F.max("d").over(same).alias("best_d_same"),
    )
    return sweep.filter(
        (F.col("d") > F.coalesce(F.col("best_d_higher"), F.lit(-1)))
        & (F.col("d") == F.col("best_d_same"))
    ).select(
        "user_id",
        F.col("v").alias("total_value_c"),
        F.col("d").alias("active_days"),
    )


@register(
    "evt_data_contract_checks",
    oracle="""
    WITH m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) FILTER (value IS NULL) AS BIGINT)
               AS null_value,
             CAST(count(*) FILTER (event_type NOT IN
               ('click', 'error', 'purchase', 'signup', 'view'))
               AS BIGINT) AS bad_type,
             CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
               AS dup_ids,
             CAST(count(*) FILTER (value < 0) AS BIGINT) AS neg_value,
             CAST(count(*) FILTER (user_id IS NULL) AS BIGINT)
               AS null_user
      FROM events)
    SELECT name, measured_micro, threshold_micro,
           CAST(CASE WHEN measured_micro <= threshold_micro
                     THEN 1 ELSE 0 END AS BIGINT) AS passed
    FROM (
      SELECT 'value_null_rate' AS name,
             CAST((1000000 * null_value) // n_rows AS BIGINT)
               AS measured_micro,
             CAST(150000 AS BIGINT) AS threshold_micro FROM m
      UNION ALL
      SELECT 'type_in_accepted_set',
             CAST((1000000 * bad_type) // n_rows AS BIGINT), 0 FROM m
      UNION ALL
      SELECT 'event_id_unique',
             CAST((1000000 * dup_ids) // n_rows AS BIGINT), 0 FROM m
      UNION ALL
      SELECT 'value_non_negative',
             CAST((1000000 * neg_value) // n_rows AS BIGINT), 0 FROM m
      UNION ALL
      SELECT 'user_id_not_null',
             CAST((1000000 * null_user) // n_rows AS BIGINT), 0 FROM m)
    """,
    description="data-contract validation (expectation-suite style): "
    "null-rate budget, accepted-set membership, key uniqueness, "
    "non-negativity — five checks from ONE scan, each a measured "
    "violation rate vs its threshold plus a pass flag",
    tags=("events", "quality", "contract"),
)
def evt_data_contract_checks(spark, sf_dir):
    """The ingest gate: expectations evaluated in one pass.

    Contract checks run on EVERY batch, so their cost model matters:
    all five expectations here (null budget, accepted set, key
    uniqueness, sign, required field) fold into ONE full-scan
    aggregate — no per-check pass, no driver-side loop — and the
    output is the audit artifact itself: measured violation rate vs
    threshold, pass flag per check.  A failing batch quarantines
    before the upsert; thresholds are data (cf. ``evt_alert_rules``),
    so tightening the contract is an edit, not a deploy.
    """
    ev = keyed_events(spark, sf_dir)
    ok_types = ["click", "error", "purchase", "signup", "view"]
    m = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("bigint")).alias("null_value"),
        F.sum((~F.col("event_type").isin(ok_types)).cast("bigint")).alias(
            "bad_type"
        ),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("dup_ids"),
        F.sum((F.col("value") < 0).cast("bigint")).alias("neg_value"),
        F.sum(F.col("user_id").isNull().cast("bigint")).alias("null_user"),
    )
    checks = m.selectExpr(
        "stack(5, "
        "'value_null_rate', (1000000 * null_value) div n_rows, "
        "CAST(150000 AS BIGINT), "
        "'type_in_accepted_set', (1000000 * bad_type) div n_rows, "
        "CAST(0 AS BIGINT), "
        "'event_id_unique', (1000000 * dup_ids) div n_rows, "
        "CAST(0 AS BIGINT), "
        "'value_non_negative', (1000000 * coalesce(neg_value, 0)) "
        "div n_rows, CAST(0 AS BIGINT), "
        "'user_id_not_null', (1000000 * null_user) div n_rows, "
        "CAST(0 AS BIGINT)) "
        "AS (name, measured_micro, threshold_micro)"
    )
    return checks.select(
        "name",
        "measured_micro",
        "threshold_micro",
        (F.col("measured_micro") <= F.col("threshold_micro"))
        .cast("bigint")
        .alias("passed"),
    )


@register(
    "evt_decision_stump",
    oracle="""
    WITH d AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS x,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CASE WHEN day(ts) <= 15 THEN 'train' ELSE 'test' END
               AS split
      FROM events WHERE value IS NOT NULL),
    bands AS (
      SELECT x // 500 AS band,
             count(*) AS n, sum(y) AS pos
      FROM d WHERE split = 'train' GROUP BY x // 500),
    tot AS (
      SELECT sum(n) AS n, sum(pos) AS pos FROM bands),
    cand AS (
      SELECT band AS thr_band,
             sum(n) OVER o AS n_le, sum(pos) OVER o AS pos_le
      FROM bands
      WINDOW o AS (ORDER BY band ROWS UNBOUNDED PRECEDING)),
    scored AS (
      SELECT c.thr_band,
             (c.n_le - c.pos_le) + (t.pos - c.pos_le) AS correct_le_neg,
             c.pos_le + ((t.n - c.n_le) - (t.pos - c.pos_le))
               AS correct_le_pos
      FROM cand c, tot t),
    best AS (
      SELECT thr_band,
             greatest(correct_le_neg, correct_le_pos) AS correct,
             CASE WHEN correct_le_pos >= correct_le_neg
                  THEN 1 ELSE 0 END AS predict_pos_below
      FROM scored),
    pick AS (
      SELECT thr_band, correct, predict_pos_below
      FROM (
        SELECT *, row_number() OVER (
          ORDER BY correct DESC, thr_band ASC) AS rn
        FROM best)
      WHERE rn = 1)
    SELECT CAST(p.thr_band * 500 + 499 AS BIGINT) AS threshold_c,
           CAST(p.predict_pos_below AS BIGINT) AS predict_pos_below,
           CAST(p.correct AS BIGINT) AS train_correct,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN (CASE WHEN d.x <= p.thr_band * 500 + 499
                                    THEN p.predict_pos_below
                                    ELSE 1 - p.predict_pos_below END)
                              = d.y
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS test_correct
    FROM d, pick p
    WHERE d.split = 'test'
    GROUP BY p.thr_band, p.predict_pos_below, p.correct
    """,
    description="exact decision-stump training: best value threshold "
    "(500-cent bands) for predicting purchase events, chosen by exact "
    "train accuracy via one cumulative scan over the band histogram; "
    "scored on the temporal test half",
    tags=("events", "ml", "train"),
)
def evt_decision_stump(spark, sf_dir):
    """Exact 1-split tree training as a histogram scan.

    How tree learners actually train at scale: candidate splits are
    evaluated on a compressed HISTOGRAM, not raw rows (XGBoost/
    LightGBM's binned 'hist' mode) — one (band → n, positives)
    aggregation, then every threshold's exact train accuracy falls
    out of a single cumulative window over the bands, in both predict
    directions at once.  Argmax picks the stump; a temporal test half
    scores it.  Pairs with ``treecompile`` (which SERVES trees as
    CASE expressions) — this is the training half of that story, and
    ``evt_next_event_prediction``'s broadcast-score shape reappears
    downstream.
    """
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    d = ev.select(
        F.col("value_c").alias("x"),
        (F.col("event_type") == "purchase").cast("bigint").alias("y"),
        F.when(F.dayofmonth("ts") <= 15, "train")
        .otherwise("test")
        .alias("split"),
    ).localCheckpoint(eager=False)
    bands = (
        d.filter(F.col("split") == "train")
        .groupBy(F.expr("x div 500").alias("band"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    tot = bands.agg(
        F.sum("n").alias("tn"), F.sum("pos").alias("tpos")
    )
    from pyspark.sql import Window

    o = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    cand = bands.select(
        F.col("band").alias("thr_band"),
        F.sum("n").over(o).alias("n_le"),
        F.sum("pos").over(o).alias("pos_le"),
    ).crossJoin(F.broadcast(tot))
    scored = cand.select(
        "thr_band",
        (
            (F.col("n_le") - F.col("pos_le"))
            + (F.col("tpos") - F.col("pos_le"))
        ).alias("correct_le_neg"),
        (
            F.col("pos_le")
            + (
                (F.col("tn") - F.col("n_le"))
                - (F.col("tpos") - F.col("pos_le"))
            )
        ).alias("correct_le_pos"),
    )
    best = scored.select(
        "thr_band",
        F.greatest("correct_le_neg", "correct_le_pos").alias("correct"),
        (F.col("correct_le_pos") >= F.col("correct_le_neg"))
        .cast("bigint")
        .alias("predict_pos_below"),
    )
    pick = (
        best.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc("correct"), F.asc("thr_band"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("thr_band", "correct", "predict_pos_below")
    )
    test = d.filter(F.col("split") == "test").crossJoin(
        F.broadcast(pick)
    )
    pred = F.when(
        F.col("x") <= F.col("thr_band") * 500 + 499,
        F.col("predict_pos_below"),
    ).otherwise(1 - F.col("predict_pos_below"))
    return test.groupBy(
        (F.col("thr_band") * 500 + 499).cast("bigint").alias("threshold_c"),
        F.col("predict_pos_below").cast("bigint").alias(
            "predict_pos_below"
        ),
        F.col("correct").cast("bigint").alias("train_correct"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum((pred == F.col("y")).cast("bigint"))
        .cast("bigint")
        .alias("test_correct"),
    )


@register(
    "emb_shard_plan",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
    assign AS (
      SELECT v.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC,
                        c.cid ASC) AS rnk
      FROM v JOIN cents c ON true),
    occ AS (
      SELECT cid AS cell, count(*) AS n
      FROM assign WHERE rnk = 1 GROUP BY cid),
    planned AS (
      SELECT cell, n,
             coalesce(sum(n) OVER (
               ORDER BY n DESC, cell
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // 150 AS shard
      FROM occ)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(n) AS BIGINT) AS n_vectors,
           CAST(max(n) AS BIGINT) AS largest_cell
    FROM planned GROUP BY shard
    """,
    description="IVF shard plan: pack coarse cells into ~150-vector "
    "shards by size-ordered running sum — per-shard cell count, "
    "occupancy and largest cell; the index-serving layout step",
    tags=("embeddings", "similarity", "ivf", "layout"),
)
def emb_shard_plan(spark, sf_dir):
    """From cells to serving shards.

    An IVF index ships to serving nodes in shards; packing CELLS (the
    query routing unit) rather than raw vectors keeps each probe
    single-shard.  The plan is the same size-ordered running-sum
    bin-packing as the table-compaction operator, applied to the cell
    occupancy histogram — |cells| rows, so planning cost is nil next
    to the assignment pass it reads, and ``largest_cell`` flags the
    cell that caps achievable balance (the re-clustering signal the
    incremental-assign audit also watches).
    """
    from pyspark.sql import Window

    from ..operators.similarity import ivf_assign

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    occ = (
        ivf_assign(vecs, centroids)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Window.orderBy(F.desc("n"), F.asc("cell"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = occ.withColumn(
        "shard",
        F.floor(F.coalesce(F.sum("n").over(w), F.lit(0)) / F.lit(150)),
    )
    return planned.groupBy(
        F.col("shard").cast("bigint").alias("shard")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.max("n").cast("bigint").alias("largest_cell"),
    )


def _lsh_cost_oracle() -> str:
    from .queries_ext import _SQL_MINHASH_AGGS, _SQL_SHINGLES

    return f"""
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
    hist AS (
      SELECT band, bkey, count(*) AS n
      FROM banded GROUP BY band, bkey),
    pred AS (
      SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(max(n) AS BIGINT) AS max_bucket,
             CAST(sum(n * (n - 1) // 2) AS BIGINT) AS pred_pairs
      FROM hist GROUP BY band),
    pairs AS (
      SELECT a.band, a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bkey = b.bkey
       AND a.doc_id < b.doc_id),
    raw AS (
      SELECT band, CAST(count(*) AS BIGINT) AS raw_pairs
      FROM pairs GROUP BY band),
    dt AS (
      SELECT CAST(count(*) AS BIGINT) AS distinct_pairs
      FROM (SELECT DISTINCT id_a, id_b FROM pairs))
    SELECT CAST(p.band AS BIGINT) AS band, p.n_buckets, p.max_bucket,
           p.pred_pairs, r.raw_pairs, d.distinct_pairs
    FROM pred p JOIN raw r ON r.band = p.band, dt d
    """


@register(
    "doc_lsh_cost_estimator",
    oracle=_lsh_cost_oracle(),
    description="LSH join cost model: predicted candidate pairs per "
    "band from the bucket histogram (sum of C(n,2)), the measured raw "
    "pairs (an arithmetic identity), and the cross-band distinct "
    "union — oracle rebuilds the same bands from the shared minhash "
    "fragments",
    tags=("documents", "dedup", "optimizer"),
)
def doc_lsh_cost_estimator(spark, sf_dir):
    """Predict the LSH self-join's output before paying for it.

    The banded self-join's cost IS the bucket histogram: each bucket
    of size n contributes C(n, 2) candidate pairs, so the planner can
    price a (bands, rows) configuration from a cheap per-bucket count
    — the same statistics-before-work idea as the relational join
    estimator, applied to the dedup pipeline.  The report also
    measures what the histogram alone cannot predict: the cross-band
    overlap (pairs found by >1 band), i.e. how much of the raw
    candidate volume deduplicates away before verification.  The
    oracle rebuilds the identical bands from the shared minhash SQL
    fragments; ``pred_pairs == raw_pairs`` is additionally pinned as
    an arithmetic identity by the pytest gate.
    """
    from ..operators.dedup import lsh_bands, minhash_signatures_mapside

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
    bands = lsh_bands(sig, bands=4, rows_per_band=2).localCheckpoint()
    hist = bands.groupBy("band", "bkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    pred = hist.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("n").cast("bigint").alias("max_bucket"),
        F.sum(F.expr("n * (n - 1) div 2")).cast("bigint").alias(
            "pred_pairs"
        ),
    )
    a = bands.select("band", "bkey", F.col("doc_id").alias("id_a"))
    b = bands.select("band", "bkey", F.col("doc_id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("band", "id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    raw = pairs.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("raw_pairs")
    )
    distinct_total = (
        pairs.select("id_a", "id_b")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("distinct_pairs"))
    )
    return (
        pred.join(raw, "band")
        .crossJoin(F.broadcast(distinct_total))
        .select(
            F.col("band").cast("bigint").alias("band"),
            "n_buckets",
            "max_bucket",
            "pred_pairs",
            "raw_pairs",
            "distinct_pairs",
        )
    )


@register(
    "rel_join_size_estimator",
    oracle="""
    WITH ca AS (
      SELECT o_custkey AS k, count(*) AS c FROM orders
      GROUP BY o_custkey),
    cb AS (
      SELECT c_custkey AS k, count(*) AS c FROM customer
      GROUP BY c_custkey),
    hha AS (
      SELECT k, c FROM (
        SELECT k, c, row_number() OVER (ORDER BY c DESC, k) AS rn
        FROM ca) WHERE rn <= 20),
    hot AS (
      SELECT coalesce(sum(a.c * b.c), 0) AS hot_est
      FROM hha a JOIN cb b ON b.k = a.k),
    resta AS (
      SELECT coalesce(sum(c), 0) AS rows_, count(*) AS nd
      FROM ca WHERE k NOT IN (SELECT k FROM hha)),
    restb AS (
      SELECT coalesce(sum(c), 0) AS rows_, count(*) AS nd
      FROM cb WHERE k NOT IN (SELECT k FROM hha)),
    act AS (
      SELECT count(*) AS actual
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
    SELECT CAST(h.hot_est AS BIGINT) AS hot_est,
           CAST(ra.rows_ * rb.rows_
                // greatest(greatest(ra.nd, rb.nd), 1) AS BIGINT)
             AS residual_est,
           CAST(h.hot_est + ra.rows_ * rb.rows_
                // greatest(greatest(ra.nd, rb.nd), 1) AS BIGINT)
             AS total_est,
           CAST(a.actual AS BIGINT) AS actual,
           CAST((1000000 * (h.hot_est + ra.rows_ * rb.rows_
                 // greatest(greatest(ra.nd, rb.nd), 1)))
                // nullif(a.actual, 0) AS BIGINT)
             AS est_over_actual_micro
    FROM hot h, resta ra, restb rb, act a
    """,
    description="optimizer-style join-cardinality estimate for "
    "orders JOIN customer: top-20 heavy keys exact + uniform residual "
    "(rowsA*rowsB / max distinct), audited against the true join size "
    "— exact integers throughout",
    tags=("relational", "optimizer", "stats"),
)
def rel_join_size_estimator(spark, sf_dir):
    """The statistic every cost-based optimizer bets a plan on.

    Join-size estimation drives join ORDER, broadcast decisions, and
    shuffle sizing; the classic estimator is per-key frequency stats:
    the top heavy hitters contribute exactly (c_A(k)·c_B(k)), the tail
    falls back to the uniform assumption
    ``rows_A·rows_B / max(ndv_A, ndv_B)`` — precisely the shape of
    engine histogram statistics (Spark CBO column stats, DB2-style
    frequent values).  The audit joins the estimate against the TRUE
    size so the uniform-tail error is a measured number, not folklore.
    Two per-key count aggregations + 20-row heavy-hitter frames; the
    actual-size join is the audit baseline.
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    ca = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    cb = c.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    from pyspark.sql import Window

    hha = (
        ca.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("c"), F.asc("k"))),
        )
        .filter(F.col("rn") <= 20)
        .select("k", "c")
        .localCheckpoint()
    )
    hot = (
        hha.alias("a")
        .join(cb.alias("b"), "k")
        .agg(
            F.coalesce(F.sum(F.col("a.c") * F.col("b.c")), F.lit(0))
            .cast("bigint")
            .alias("hot_est")
        )
    )
    resta = ca.join(hha.select("k"), "k", "left_anti").agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("rows_"),
        F.count(F.lit(1)).alias("nd"),
    )
    restb = cb.join(hha.select("k"), "k", "left_anti").agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("rows_"),
        F.count(F.lit(1)).alias("nd"),
    )
    act = o.join(c, o["o_custkey"] == c["c_custkey"]).agg(
        F.count(F.lit(1)).alias("actual")
    )
    j = (
        hot.crossJoin(
            resta.select(
                F.col("rows_").alias("ra_rows"), F.col("nd").alias("ra_nd")
            )
        )
        .crossJoin(
            restb.select(
                F.col("rows_").alias("rb_rows"), F.col("nd").alias("rb_nd")
            )
        )
        .crossJoin(act)
    )
    residual = F.expr(
        "(ra_rows * rb_rows) div greatest(greatest(ra_nd, rb_nd), 1)"
    )
    return j.select(
        F.col("hot_est").cast("bigint").alias("hot_est"),
        residual.cast("bigint").alias("residual_est"),
        (F.col("hot_est") + residual).cast("bigint").alias("total_est"),
        F.col("actual").cast("bigint").alias("actual"),
        F.expr(
            "(1000000 * (hot_est + (ra_rows * rb_rows) div "
            "greatest(greatest(ra_nd, rb_nd), 1))) div nullif(actual, 0)"
        ).alias("est_over_actual_micro"),
    )


@register(
    "evt_k_anonymity_audit",
    oracle="""
    WITH q AS (
      SELECT event_type,
             hour(ts) // 6 AS hour_band,
             least(CAST(round(value * 100) AS BIGINT) // 10000, 5)
               AS value_band
      FROM events WHERE value IS NOT NULL),
    eq AS (
      SELECT event_type, hour_band, value_band,
             CAST(count(*) AS BIGINT) AS k
      FROM q GROUP BY event_type, hour_band, value_band)
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(sum(k) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             AS rows_below_k5,
           CAST((1000000 * sum(CASE WHEN k < 5 THEN k ELSE 0 END))
                // sum(k) AS BIGINT) AS below_k5_micro,
           CAST(sum(CASE WHEN k < 20 THEN k ELSE 0 END) AS BIGINT)
             AS rows_below_k20
    FROM eq
    """,
    description="k-anonymity audit over the quasi-identifier tuple "
    "(event_type, 6h hour band, value band): equivalence-class size "
    "floor and the exact share of rows in classes below k=5 / k=20",
    tags=("events", "privacy", "audit"),
)
def evt_k_anonymity_audit(spark, sf_dir):
    """Re-identification risk, measured before release.

    A record is k-anonymous when at least k−1 others share its
    quasi-identifier tuple; publishing classes with tiny k is how
    'anonymized' datasets get re-identified.  The audit is one
    generalized projection (banded hour and value — generalization IS
    the mitigation lever, so the bands are the tunable) plus one
    equivalence-class aggregation; the output row gates a release
    pipeline (``min_k >= 5``) and quantifies exactly how many rows
    suppression would cost at k=5 and k=20.
    """
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    q = ev.select(
        "event_type",
        F.expr("hour(ts) div 6").alias("hour_band"),
        F.least(F.expr("value_c div 10000"), F.lit(5)).alias(
            "value_band"
        ),
    )
    eq = q.groupBy("event_type", "hour_band", "value_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    below5 = F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
    return eq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("k").cast("bigint").alias("min_k"),
        F.sum("k").cast("bigint").alias("n_rows"),
        below5.cast("bigint").alias("rows_below_k5"),
        F.expr(
            "(1000000 * sum(CASE WHEN k < 5 THEN k ELSE 0 END)) "
            "div sum(k)"
        ).alias("below_k5_micro"),
        F.sum(F.when(F.col("k") < 20, F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("rows_below_k20"),
    )


@register(
    "evt_dp_contribution_bounds",
    oracle="""
    WITH u AS (
      SELECT event_type, user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_sum
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, user_id),
    r AS (
      SELECT event_type, n_events, value_sum,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n_events DESC, user_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nu
      FROM u)
    SELECT event_type,
           CAST(any_value(nu) AS BIGINT) AS n_users,
           CAST(max(n_events) AS BIGINT) AS max_events_per_user,
           CAST(max(value_sum) AS BIGINT) AS max_value_per_user,
           CAST(min(CASE WHEN 100 * rn >= nu THEN n_events END)
                AS BIGINT) AS p99_events_per_user
    FROM r GROUP BY event_type
    """,
    description="differential-privacy sensitivity report: per-type "
    "max and P99 user contribution (events and value cents) — the "
    "clipping bounds a DP aggregation release must choose before "
    "calibrating noise",
    tags=("events", "privacy", "dp"),
)
def evt_dp_contribution_bounds(spark, sf_dir):
    """What one user can move the answer by — DP's first question.

    Every differentially-private aggregate needs a contribution bound
    (clip each user to C events / V value) BEFORE noise calibration:
    sensitivity = the clip, noise ∝ sensitivity/ε, and clipping too
    low biases while clipping too high wastes budget.  This report
    reads the trade off real data: max and P99 per-user contribution
    per type, from one (type, user) aggregation plus a type-
    partitioned ranking over the users frame.  (The release itself
    would then clip-join and add calibrated noise — noise is
    deliberately out of scope here; it is the one non-deterministic
    stage.)
    """
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    u = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("value_c").cast("bigint").alias("value_sum"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    r = u.select(
        "event_type",
        "n_events",
        "value_sum",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("nu"),
    )
    return r.groupBy("event_type").agg(
        F.first("nu").cast("bigint").alias("n_users"),
        F.max("n_events").cast("bigint").alias("max_events_per_user"),
        F.max("value_sum").cast("bigint").alias("max_value_per_user"),
        F.min(
            F.when(100 * F.col("rn") >= F.col("nu"), F.col("n_events"))
        )
        .cast("bigint")
        .alias("p99_events_per_user"),
    )


@register(
    "evt_correlation_matrix",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)),
    p AS (
      SELECT a.event_type AS ta, b.event_type AS tb,
             count(*) AS n,
             sum(a.v) AS sa, sum(b.v) AS sb,
             sum(a.v * b.v) AS sab,
             sum(a.v * a.v) AS saa, sum(b.v * b.v) AS sbb
      FROM d a JOIN d b ON b.day = a.day AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type)
    SELECT ta, tb, CAST(n AS BIGINT) AS n_days,
           CAST(n * sab - sa * sb AS BIGINT) AS cov_num,
           CAST(n * saa - sa * sa AS BIGINT) AS var_a_num,
           CAST(n * sbb - sb * sb AS BIGINT) AS var_b_num
    FROM p
    """,
    description="pairwise correlation components across event-type "
    "daily series: exact integer covariance/variance numerators from "
    "a day-key self-join — corr = cov_num / sqrt(var_a*var_b) "
    "off-engine",
    tags=("events", "stats", "matrix"),
)
def evt_correlation_matrix(spark, sf_dir):
    """Cross-metric correlation matrix, exact to the last integer.

    Which daily series move together (and which lead a crash) — the
    matrix everyone computes before building composite metrics.  The
    dataflow aggregates ONCE to (type, day), self-joins on the day key
    (fan-out bounded by |types| per day, never data²), and emits the
    cross-multiplied integer moment numerators so the engine never
    divides or square-roots; consumers finish ``corr = cov /
    √(var_a·var_b)`` off-engine.  Triangular output (ta < tb).
    """
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum("value_c").cast("bigint").alias("v")).localCheckpoint(
        eager=False
    )
    a = d.select(
        F.col("event_type").alias("ta"), "day", F.col("v").alias("va")
    )
    b = d.select(
        F.col("event_type").alias("tb"), "day", F.col("v").alias("vb")
    )
    p = (
        a.join(b, "day")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("va").alias("sa"),
            F.sum("vb").alias("sb"),
            F.sum(F.col("va") * F.col("vb")).alias("sab"),
            F.sum(F.col("va") * F.col("va")).alias("saa"),
            F.sum(F.col("vb") * F.col("vb")).alias("sbb"),
        )
    )
    return p.select(
        "ta",
        "tb",
        F.col("n").cast("bigint").alias("n_days"),
        (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
        .cast("bigint")
        .alias("cov_num"),
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        .cast("bigint")
        .alias("var_a_num"),
        (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
        .cast("bigint")
        .alias("var_b_num"),
    )


@register(
    "emb_health_check",
    oracle="""
    WITH ve AS (
      SELECT vec_id, label,
             generate_subscripts(embedding::DOUBLE[], 1) AS d,
             CAST(round(unnest(embedding::DOUBLE[]) * 1000) AS BIGINT)
               AS x
      FROM embeddings),
    norms AS (
      SELECT vec_id, label,
             CAST(sum(x * x) AS BIGINT) AS norm2,
             CAST(count(*) AS BIGINT) AS dims
      FROM ve GROUP BY vec_id, label),
    dimvar AS (
      SELECT d,
             count(*) * sum(x * x) - sum(x) * sum(x) AS var_num
      FROM ve GROUP BY d)
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(any_value(dims) AS BIGINT) AS dims,
           CAST(count(*) FILTER (norm2 = 0) AS BIGINT) AS n_zero,
           CAST(min(norm2) AS BIGINT) AS min_norm2,
           CAST(max(norm2) AS BIGINT) AS max_norm2,
           CAST(sum(norm2) // count(*) AS BIGINT) AS mean_norm2,
           CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
           (SELECT CAST(count(*) FILTER (var_num = 0) AS BIGINT)
            FROM dimvar) AS n_dead_dims
    FROM norms
    """,
    description="embedding-table QA: vector count, dimensionality, "
    "zero vectors, norm range/mean, label count, and dead (zero-"
    "variance) dimensions — the pre-indexing health gate, exact "
    "integers",
    tags=("embeddings", "quality", "audit"),
)
def emb_health_check(spark, sf_dir):
    """The check you run BEFORE building any index.

    Broken embedding exports are depressingly common — zero vectors
    from failed inference, dead dimensions from a truncated writer,
    norm blow-ups from a bad normalization flag — and every one of
    them poisons ANN recall silently.  One explode pass feeds both
    per-vector norms and per-dimension variance numerators; the
    output is a single exact-integer row a pipeline can gate on
    (``n_zero = 0 AND n_dead_dims = 0``).
    """
    ve = (
        t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "d0", "xd"
            ),
        )
        .select(
            "vec_id",
            "label",
            (F.col("d0") + 1).alias("d"),
            F.round(F.col("xd") * 1000).cast("bigint").alias("x"),
        )
        .localCheckpoint(eager=False)
    )
    norms = ve.groupBy("vec_id", "label").agg(
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("norm2"),
        F.count(F.lit(1)).cast("bigint").alias("dims"),
    )
    dimvar = ve.groupBy("d").agg(
        (
            F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x"))
            - F.sum("x") * F.sum("x")
        ).alias("var_num")
    )
    dead = dimvar.agg(
        F.sum((F.col("var_num") == 0).cast("bigint"))
        .cast("bigint")
        .alias("n_dead_dims")
    )
    stats = norms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.first("dims").cast("bigint").alias("dims"),
        F.sum((F.col("norm2") == 0).cast("bigint"))
        .cast("bigint")
        .alias("n_zero"),
        F.min("norm2").cast("bigint").alias("min_norm2"),
        F.max("norm2").cast("bigint").alias("max_norm2"),
        F.expr("sum(norm2) div count(1)").alias("mean_norm2"),
        F.countDistinct("label").cast("bigint").alias("n_labels"),
    )
    return stats.crossJoin(F.broadcast(dead))


@register(
    "evt_histogram_quantile_check",
    oracle="""
    WITH v AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL),
    b AS (
      SELECT least(x // 1000, 63) AS bucket, count(*) AS c
      FROM v GROUP BY least(x // 1000, 63)),
    cum AS (
      SELECT bucket, c,
             sum(c) OVER (ORDER BY bucket) AS cum_c,
             (SELECT count(*) FROM v) AS n
      FROM b),
    sweep AS (SELECT unnest([50, 90, 99]) AS q),
    est AS (
      SELECT s.q,
             min(cum.bucket) AS qb
      FROM sweep s JOIN cum
        ON 100 * cum.cum_c >= CAST(s.q AS BIGINT) * cum.n
      GROUP BY s.q),
    exact AS (
      SELECT s.q,
             min(r.x) AS exact_x
      FROM sweep s
      JOIN (SELECT x, row_number() OVER (ORDER BY x) AS rn,
                   count(*) OVER () AS n
            FROM v) r
        ON 100 * r.rn >= CAST(s.q AS BIGINT) * r.n
      GROUP BY s.q)
    SELECT e.q AS q,
           CAST(est.qb * 1000 AS BIGINT) AS hist_est_lo,
           CAST(est.qb * 1000 + 999 AS BIGINT) AS hist_est_hi,
           CAST(e.exact_x AS BIGINT) AS exact_x,
           CAST(CASE WHEN e.exact_x BETWEEN est.qb * 1000
                                        AND est.qb * 1000 + 999
                     THEN 1 ELSE 0 END AS BIGINT) AS bucket_contains
    FROM exact e JOIN est ON est.q = e.q
    """,
    description="sketch-accuracy audit for histogram quantiles: "
    "64-bucket equi-width estimate vs exact nearest-rank P50/P90/P99 "
    "— the estimated bucket must contain the exact value (integer "
    "cents throughout)",
    tags=("events", "sketch", "audit"),
)
def evt_histogram_quantile_check(spark, sf_dir):
    """Histogram quantiles audited against exact order statistics.

    The equi-width histogram is the cheapest mergeable quantile
    sketch (fixed 64-counter state, map-side partials, trivially
    portable — the same family as the HLL/CMS portable twins); its
    guarantee is a BUCKET, not a point.  This audit computes the
    P50/P90/P99 bucket from cumulative counts and the exact
    nearest-rank values, and asserts containment — the accuracy
    statement a production percentile dashboard needs written down.
    The exact side's global ranking window is the AUDIT baseline,
    not the production path.
    """
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    v = ev.select(F.col("value_c").alias("x")).localCheckpoint(
        eager=False
    )
    b = v.groupBy(
        F.least(F.expr("x div 1000"), F.lit(63)).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    cum = b.select(
        "bucket",
        F.sum("c").over(
            Window.orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ).alias("cum_c"),
    ).crossJoin(F.broadcast(v.agg(F.count(F.lit(1)).alias("n"))))
    sweep = spark.createDataFrame([(50,), (90,), (99,)], "q long")
    est = (
        cum.crossJoin(F.broadcast(sweep))
        .filter(100 * F.col("cum_c") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("bucket").alias("qb"))
    )
    r = v.select(
        "x",
        F.row_number().over(Window.orderBy("x")).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    exact = (
        r.crossJoin(F.broadcast(sweep))
        .filter(100 * F.col("rn") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("x").alias("exact_x"))
    )
    return exact.join(est, "q").select(
        "q",
        (F.col("qb") * 1000).cast("bigint").alias("hist_est_lo"),
        (F.col("qb") * 1000 + 999).cast("bigint").alias("hist_est_hi"),
        F.col("exact_x").cast("bigint").alias("exact_x"),
        F.col("exact_x")
        .between(F.col("qb") * 1000, F.col("qb") * 1000 + 999)
        .cast("bigint")
        .alias("bucket_contains"),
    )


@register(
    "evt_next_event_prediction",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    labeled AS (
      SELECT user_id, event_type, next_type,
             CASE WHEN day(ts) <= 15 THEN 'train' ELSE 'test' END
               AS split
      FROM s WHERE next_type IS NOT NULL),
    counts AS (
      SELECT event_type, next_type, count(*) AS c
      FROM labeled WHERE split = 'train'
      GROUP BY event_type, next_type),
    model AS (
      SELECT event_type, next_type AS pred
      FROM (
        SELECT event_type, next_type,
               row_number() OVER (
                 PARTITION BY event_type
                 ORDER BY c DESC, next_type ASC) AS rnk
        FROM counts)
      WHERE rnk = 1)
    SELECT l.event_type,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN l.next_type = m.pred THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST((1000000 * sum(CASE WHEN l.next_type = m.pred
                                    THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS accuracy_micro,
           any_value(m.pred) AS predicted_type
    FROM labeled l JOIN model m ON m.event_type = l.event_type
    WHERE l.split = 'test'
    GROUP BY l.event_type
    """,
    description="next-event prediction eval, end to end: temporal "
    "train/test split, bigram-argmax model fit on the first half, "
    "top-1 accuracy per current type on the second — the minimal "
    "train-predict-score loop as pure relational ops",
    tags=("events", "ml", "eval"),
)
def evt_next_event_prediction(spark, sf_dir):
    """A complete (tiny) ML loop with no ML library.

    Fit on the past, score on the future: per-user next-event pairs
    from ONE lead window, a temporal split (no leakage — the model
    only sees first-half transitions), the argmax-bigram model as a
    |types|² count aggregate, and test accuracy via a broadcast join
    of the 5-row model.  The shape matters more than the model: this
    is the same partition-train-broadcast-score dataflow the routed
    pandas-UDF inference islands use, expressed entirely in
    aggregates — swap the counts CTE for a real learner and nothing
    downstream changes.
    """
    ev = keyed_events(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        "ts",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    labeled = s.select(
        "event_type",
        "next_type",
        F.when(F.dayofmonth("ts") <= 15, "train")
        .otherwise("test")
        .alias("split"),
    ).localCheckpoint(eager=False)
    counts = (
        labeled.filter(F.col("split") == "train")
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mw = Window.partitionBy("event_type").orderBy(
        F.desc("c"), F.asc("next_type")
    )
    model = (
        counts.withColumn("rnk", F.row_number().over(mw))
        .filter(F.col("rnk") == 1)
        .select("event_type", F.col("next_type").alias("pred"))
    )
    test = labeled.filter(F.col("split") == "test")
    hit = (F.col("next_type") == F.col("pred")).cast("bigint")
    return (
        test.join(F.broadcast(model), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(hit).cast("bigint").alias("n_correct"),
            F.expr(
                "(1000000 * sum(CASE WHEN next_type = pred THEN 1 "
                "ELSE 0 END)) div count(1)"
            ).alias("accuracy_micro"),
            F.first("pred").alias("predicted_type"),
        )
    )


#: Bandit-replay policy pieces, generated once and shared verbatim by
#: the oracle SQL and (in spirit) the Python twin below: 5 arms in
#: fixed order; greedy argmax by exact cross-multiplied win-rate
#: compare (unplayed arms first, ties to the lower index), overridden
#: by deterministic round-robin exploration on every 5th step.
_BR_ARMS = ["click", "error", "purchase", "signup", "view"]


def _bandit_oracle() -> str:
    K = len(_BR_ARMS)

    def gt(k, j):
        return (
            f"((q.p{k} = 0 AND q.p{j} > 0) OR (q.p{k} > 0 AND q.p{j} > 0 "
            f"AND q.w{k} * q.p{j} > q.w{j} * q.p{k}))"
        )

    def ge(k, j):
        return (
            f"((q.p{k} = 0) OR (q.p{k} > 0 AND q.p{j} > 0 "
            f"AND q.w{k} * q.p{j} >= q.w{j} * q.p{k}))"
        )

    wins = []
    for k in range(K):
        terms = [gt(k, j) for j in range(k)] + [
            ge(k, j) for j in range(k + 1, K)
        ]
        wins.append(" AND ".join(terms))
    greedy = (
        "CASE "
        + " ".join(
            f"WHEN {w} THEN '{arm}'" for w, arm in zip(wins, _BR_ARMS)
        )
        + " END"
    )
    explore = (
        "CASE ((q.step // 5) % 5) "
        + " ".join(
            f"WHEN {k} THEN '{arm}'" for k, arm in enumerate(_BR_ARMS)
        )
        + " END"
    )
    chosen = (
        f"CASE WHEN q.step % 5 = 0 THEN {explore} ELSE {greedy} END"
    )
    upd = []
    for k, arm in enumerate(_BR_ARMS):
        m = f"(c.chosen = c.arm AND c.arm = '{arm}')"
        upd.append(f"c.p{k} + CASE WHEN {m} THEN 1 ELSE 0 END AS p{k}")
        upd.append(f"c.w{k} + CASE WHEN {m} THEN c.r ELSE 0 END AS w{k}")
    upd.append(
        "c.matched + CASE WHEN c.chosen = c.arm THEN 1 ELSE 0 END AS matched"
    )
    upd.append(
        "c.reward + CASE WHEN c.chosen = c.arm THEN c.r ELSE 0 END AS reward"
    )
    zero = ", ".join(
        f"CAST(0 AS BIGINT) AS p{k}, CAST(0 AS BIGINT) AS w{k}"
        for k in range(K)
    )
    unions = " UNION ALL ".join(
        f"SELECT '{a}' AS arm, p{k} AS pulls, w{k} AS wins FROM fin"
        for k, a in enumerate(_BR_ARMS)
    )
    return f"""
    WITH RECURSIVE
    ev AS MATERIALIZED (
      SELECT event_type AS arm,
             CASE WHEN value IS NOT NULL AND value > 100
                  THEN 1 ELSE 0 END AS r,
             row_number() OVER (ORDER BY event_id) AS t
      FROM events WHERE event_id < 2000),
    walk AS (
      SELECT 0 AS t, {zero},
             CAST(0 AS BIGINT) AS matched, CAST(0 AS BIGINT) AS reward
      UNION ALL
      SELECT c.step, {", ".join(upd)}
      FROM (
        SELECT q.step, q.arm, q.r,
               {", ".join(f"q.p{k}, q.w{k}" for k in range(K))},
               q.matched, q.reward, {chosen} AS chosen
        FROM (SELECT h.*, i.arm, i.r, i.t AS step
              FROM walk h JOIN ev i ON i.t = h.t + 1) q) c),
    fin AS (SELECT * FROM walk WHERE t = (SELECT count(*) FROM ev))
    SELECT arm, CAST(pulls AS BIGINT) AS pulls,
           CAST(wins AS BIGINT) AS wins
    FROM ({unions}
          UNION ALL SELECT '_replay', matched, reward FROM fin)
    """


@register(
    "evt_bandit_replay",
    oracle=_bandit_oracle(),
    description="offline bandit policy evaluation by replay (Li et "
    "al. 2011): epsilon-greedy policy (exact-fraction argmax, "
    "round-robin exploration every 5th step) replayed over the first "
    "2000 logged events; per-arm pulls/wins plus matched count and "
    "replay reward — oracle walks the sequence as a recursive CTE "
    "with flat pairwise-win argmax",
    tags=("events", "bandit", "replay", "iterative"),
)
def evt_bandit_replay(spark, sf_dir):
    """Counterfactual policy evaluation from logged data.

    The replay estimator: walk the log in arrival order; wherever the
    candidate policy's choice AGREES with the logged action, count the
    event and its reward and update the policy's state — an unbiased
    offline estimate of the policy's online value when logging was
    uniform.  The recursion is inherently sequential (each choice
    conditions on everything matched so far), so the engine runs the
    capped 2000-event replay in a single-group ``applyInPandas`` (the
    cap is the documented eval-harness bound; scaling comes from
    replaying MANY candidate policies/segments in parallel groups,
    not from one longer sequence).

    Determinism: rewards are 0/1 (value > 100), win-rate argmax
    compares by integer cross-multiplication (unplayed arms first,
    ties to the fixed arm order), exploration is a deterministic
    round-robin every 5th step.  The oracle's flat pairwise-win CASE
    avoids the exponential expression blow-up a nested argmax fold
    hits (measured: 9.6 s vs >120 s for 2000 steps).
    """
    import pandas as pd

    ev = (
        keyed_events(spark, sf_dir)
        .filter(F.col("event_id") < 2000)
        .select(
            "event_id",
            F.col("event_type").alias("arm"),
            F.when(
                F.col("value").isNotNull() & (F.col("value") > 100), 1
            )
            .otherwise(0)
            .alias("r"),
            F.lit(1).alias("g"),
        )
    )
    arms = _BR_ARMS

    def _replay(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("event_id").reset_index(drop=True)
        p = [0] * 5
        w = [0] * 5
        matched = reward = 0
        for step, (arm, r) in enumerate(
            zip(pdf["arm"], pdf["r"]), start=1
        ):
            if step % 5 == 0:
                choice = arms[(step // 5) % 5]
            else:
                best = 0
                for k in range(1, 5):
                    # k beats best? unplayed first; exact fractions;
                    # ties to the lower index
                    if p[k] == 0 and p[best] > 0:
                        best = k
                    elif p[k] > 0 and p[best] > 0 and (
                        w[k] * p[best] > w[best] * p[k]
                    ):
                        best = k
                choice = arms[best]
            if choice == arm:
                k = arms.index(arm)
                p[k] += 1
                w[k] += int(r)
                matched += 1
                reward += int(r)
        return pd.DataFrame(
            {
                "arm": arms + ["_replay"],
                "pulls": p + [matched],
                "wins": w + [reward],
            }
        )

    return ev.groupBy("g").applyInPandas(
        _replay, schema="arm string, pulls long, wins long"
    )


@register(
    "emb_mmd_drift",
    oracle="""
    WITH ve AS (
      SELECT vec_id, label,
             generate_subscripts(embedding::DOUBLE[], 1) AS d,
             CAST(round(unnest(embedding::DOUBLE[]) * 1000) AS BIGINT)
               AS x,
             CASE WHEN vec_id < 400 THEN 'a' ELSE 'b' END AS gen
      FROM embeddings),
    st AS (
      SELECT label, d,
             CAST(sum(CASE WHEN gen = 'a' THEN x ELSE 0 END)
                  AS BIGINT) AS sa,
             CAST(sum(CASE WHEN gen = 'b' THEN x ELSE 0 END)
                  AS BIGINT) AS sb,
             CAST(count(*) FILTER (gen = 'a') AS BIGINT) AS na,
             CAST(count(*) FILTER (gen = 'b') AS BIGINT) AS nb
      FROM ve GROUP BY label, d)
    SELECT label,
           CAST(any_value(na) AS BIGINT) AS n_base,
           CAST(any_value(nb) AS BIGINT) AS n_delta,
           CAST(sum((nb * sa - na * sb) * (nb * sa - na * sb))
                AS BIGINT) AS mmd2_num,
           CAST(any_value(na * na * nb * nb) AS BIGINT) AS mmd2_den
    FROM st GROUP BY label
    """,
    description="linear-kernel MMD (squared distance between base and "
    "delta mean embeddings) per label, as an exact integer "
    "numerator/denominator pair — the embedding-drift two-sample "
    "statistic",
    tags=("embeddings", "drift", "stats"),
)
def emb_mmd_drift(spark, sf_dir):
    """Embedding-distribution drift between index generations.

    Linear-kernel MMD² reduces to ‖μ_base − μ_delta‖² — the cheapest
    two-sample statistic that still catches mean drift per class, and
    the one that runs as pure aggregation: per-(label, dim) sums for
    both generations in ONE labeled pass, then the cross-multiplied
    integer form ``Σ_d (n_b·Σa_d − n_a·Σb_d)²`` so no division happens
    before the final exact numerator/denominator output (consumer
    divides off-engine).  Partner to ``emb_ivf_incremental_assign``:
    occupancy skew says the INDEX moved, MMD says the DATA moved.
    """
    ve = (
        t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "d0", "xd"
            ),
        )
        .select(
            "label",
            (F.col("d0") + 1).alias("d"),
            F.round(F.col("xd") * 1000).cast("bigint").alias("x"),
            F.when(F.col("vec_id") < 400, "a").otherwise("b").alias("gen"),
        )
    )
    st = ve.groupBy("label", "d").agg(
        F.sum(F.when(F.col("gen") == "a", F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("gen") == "b", F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
        F.sum((F.col("gen") == "a").cast("bigint"))
        .cast("bigint")
        .alias("na"),
        F.sum((F.col("gen") == "b").cast("bigint"))
        .cast("bigint")
        .alias("nb"),
    )
    diff = F.col("nb") * F.col("sa") - F.col("na") * F.col("sb")
    return st.groupBy("label").agg(
        F.first("na").cast("bigint").alias("n_base"),
        F.first("nb").cast("bigint").alias("n_delta"),
        F.sum(diff * diff).cast("bigint").alias("mmd2_num"),
        F.first(
            F.col("na") * F.col("na") * F.col("nb") * F.col("nb")
        )
        .cast("bigint")
        .alias("mmd2_den"),
    )


@register(
    "evt_sequential_boundary",
    oracle="""
    WITH bounds(interim, c2_num) AS (VALUES
      (1, CAST(9 AS BIGINT)), (2, CAST(6 AS BIGINT)),
      (3, CAST(5 AS BIGINT)), (4, CAST(4 AS BIGINT))),
    a AS (
      SELECT event_type,
             CASE WHEN day(ts) <= 7 THEN 1
                  WHEN day(ts) <= 14 THEN 2
                  WHEN day(ts) <= 21 THEN 3 ELSE 4 END AS interim,
             CASE WHEN ('0x' || substr(md5('exp42:'
                          || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                       % 100 < 50
                  THEN 1 ELSE 0 END AS in_control
      FROM events),
    cum AS (
      SELECT event_type, i.interim,
             CAST(sum(CASE WHEN a.interim <= i.interim
                           THEN 1 ELSE 0 END) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a.interim <= i.interim
                           THEN a.in_control ELSE 0 END)
                  AS BIGINT) AS e
      FROM a, (SELECT DISTINCT interim FROM bounds) i
      GROUP BY event_type, i.interim),
    z AS (
      SELECT c.event_type, c.interim, c.n, c.e,
             (2 * c.e - c.n) * (2 * c.e - c.n) AS z2_num,
             b.c2_num * c.n AS crit
      FROM cum c JOIN bounds b ON b.interim = c.interim)
    SELECT event_type,
           CAST(min(CASE WHEN z2_num >= crit THEN interim END)
                AS BIGINT) AS first_crossing,
           CAST(max(CASE WHEN interim = 4 THEN z2_num END)
                AS BIGINT) AS final_z2_num,
           CAST(max(CASE WHEN interim = 4 THEN n END) AS BIGINT)
             AS final_n
    FROM z GROUP BY event_type
    """,
    description="group-sequential SRM monitoring: cumulative "
    "(2e - n)^2 vs literal O'Brien-Fleming-style shrinking critical "
    "values at 4 weekly interims; first boundary crossing per type — "
    "exact integers, no normal CDF",
    tags=("events", "experiment", "sequential"),
)
def evt_sequential_boundary(spark, sf_dir):
    """Peeking correctly: group-sequential boundaries in integers.

    Interim-analysis peeking inflates false positives unless each look
    pays a stricter critical value; O'Brien-Fleming-style boundaries
    shrink over the four weekly interims (literal c² values 9, 6, 5, 4
    ≈ z of 3.0/2.45/2.24/2.0).  The statistic stays integer by
    cross-multiplying: cross iff ``(2e − n)² ≥ c²·n`` — no normal CDF,
    no floats, so the whole monitor is two aggregations (a 4-row
    interim sweep over one labeled pass) plus a literal join.
    Assignment reuses ``evt_ab_assignment``'s salted hash.
    """
    ev = keyed_events(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("exp42:"), F.col("user_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    interim = (
        F.when(F.dayofmonth("ts") <= 7, 1)
        .when(F.dayofmonth("ts") <= 14, 2)
        .when(F.dayofmonth("ts") <= 21, 3)
        .otherwise(4)
    )
    # aggregate FIRST (one pass over raw events), then run the interim
    # sweep on the tiny (type, interim) frame — cross-joining the sweep
    # against raw rows would 4x the scan for nothing
    a = ev.select(
        "event_type",
        interim.alias("interim"),
        (bucket < 50).cast("bigint").alias("in_control"),
    ).groupBy("event_type", "interim").agg(
        F.count(F.lit(1)).cast("bigint").alias("dn"),
        F.sum("in_control").cast("bigint").alias("de"),
    )
    sweep = spark.createDataFrame(
        [(1, 9), (2, 6), (3, 5), (4, 4)], "interim long, c2_num long"
    )
    cum = (
        a.withColumnRenamed("interim", "at")
        .crossJoin(
            F.broadcast(sweep.select(F.col("interim").alias("look")))
        )
        .filter(F.col("at") <= F.col("look"))
        .groupBy("event_type", F.col("look").alias("interim"))
        .agg(
            F.sum("dn").cast("bigint").alias("n"),
            F.sum("de").cast("bigint").alias("e"),
        )
    )
    z = cum.join(F.broadcast(sweep), "interim").select(
        "event_type",
        "interim",
        "n",
        "e",
        (
            (2 * F.col("e") - F.col("n")) * (2 * F.col("e") - F.col("n"))
        ).alias("z2_num"),
        (F.col("c2_num") * F.col("n")).alias("crit"),
    )
    return z.groupBy("event_type").agg(
        F.min(
            F.when(F.col("z2_num") >= F.col("crit"), F.col("interim"))
        )
        .cast("bigint")
        .alias("first_crossing"),
        F.max(F.when(F.col("interim") == 4, F.col("z2_num")))
        .cast("bigint")
        .alias("final_z2_num"),
        F.max(F.when(F.col("interim") == 4, F.col("n")))
        .cast("bigint")
        .alias("final_n"),
    )


@register(
    "evt_watermark_curve",
    oracle="""
    WITH s AS (
      SELECT event_type, ts,
             max(ts) OVER (PARTITION BY event_type
                           ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS high_water
      FROM events),
    sweep AS (SELECT unnest([0, 60, 300, 900]) AS delay_s),
    d AS (
      SELECT s.event_type, w.delay_s,
             CASE WHEN s.ts < s.high_water
                            - to_seconds(CAST(w.delay_s AS BIGINT))
                  THEN 1 ELSE 0 END AS dropped
      FROM s, sweep w)
    SELECT event_type, CAST(delay_s AS BIGINT) AS delay_s,
           CAST(sum(dropped) AS BIGINT) AS n_dropped,
           CAST((1000000 * sum(dropped)) // count(*) AS BIGINT)
             AS dropped_micro
    FROM d GROUP BY event_type, delay_s
    """,
    description="watermark tuning curve: events a streaming job with "
    "delay d would drop as late (ts < running-max event time - d), "
    "swept over d in {0, 60, 300, 900}s — the state-size vs "
    "completeness trade read off history",
    tags=("events", "streaming", "tuning"),
)
def evt_watermark_curve(spark, sf_dir):
    """What would a watermark of d seconds have dropped?

    The other half of ``evt_ordering_audit``: replay history in
    arrival order (event_id), track the running-max event time — which
    is EXACTLY the watermark clock Structured Streaming keeps — and
    count, per candidate delay, the events arriving below it.  The
    sweep is a 4-row broadcast cross join over one partitioned
    running-max window; the output curve is what you read before
    choosing ``withWatermark``'s delay: completeness at d=0/60/300/900
    versus the state those delays retain.
    """
    ev = keyed_events(spark, sf_dir)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = ev.select(
        "event_type", "ts", F.max("ts").over(w).alias("high_water")
    )
    sweep = spark.createDataFrame(
        [(0,), (60,), (300,), (900,)], "delay_s long"
    )
    d = s.crossJoin(F.broadcast(sweep)).select(
        "event_type",
        "delay_s",
        F.when(
            F.col("ts").cast("long")
            < F.col("high_water").cast("long") - F.col("delay_s"),
            1,
        )
        .otherwise(0)
        .alias("dropped"),
    )
    return d.groupBy("event_type", "delay_s").agg(
        F.sum("dropped").cast("bigint").alias("n_dropped"),
        F.expr("(1000000 * sum(dropped)) div count(1)").alias(
            "dropped_micro"
        ),
    )


@register(
    "doc_filter_waterfall",
    oracle=r"""
    WITH d AS (
      SELECT n_chars, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tok,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               AS fp,
             row_number() OVER (
               PARTITION BY md5(regexp_replace(lower(trim(text)),
                                               '\s+', ' ', 'g'))
               ORDER BY doc_id) AS fp_rn
      FROM documents),
    flags AS (
      SELECT CASE WHEN n_chars >= 80 THEN 1 ELSE 0 END AS f_len,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f_lang,
             CASE WHEN n_tok >= 12 THEN 1 ELSE 0 END AS f_tok,
             CASE WHEN fp_rn = 1 THEN 1 ELSE 0 END AS f_dedup
      FROM d),
    stages AS (
      SELECT 0 AS stage, 'raw' AS name, count(*) AS survivors
        FROM flags
      UNION ALL SELECT 1, 'min_length', sum(f_len) FROM flags
      UNION ALL SELECT 2, '+english',
        sum(f_len * f_lang) FROM flags
      UNION ALL SELECT 3, '+min_tokens',
        sum(f_len * f_lang * f_tok) FROM flags
      UNION ALL SELECT 4, '+exact_dedup',
        sum(f_len * f_lang * f_tok * f_dedup) FROM flags)
    SELECT CAST(stage AS BIGINT) AS stage, name,
           CAST(survivors AS BIGINT) AS survivors,
           CAST((1000000 * survivors) // max(survivors) OVER ()
                AS BIGINT) AS survival_micro
    FROM stages
    """,
    description="corpus-cleaning waterfall: survivors after each "
    "cumulative filter stage (length -> english -> token floor -> "
    "exact dedup) in ONE labeled pass — the ablation table every "
    "data-curation report leads with",
    tags=("documents", "quality", "pipeline"),
)
def doc_filter_waterfall(spark, sf_dir):
    """Filter-stack ablation in a single pass.

    Every curation writeup reports 'we started with N docs, length
    filtering kept X%, language Y%, dedup Z%'.  Running the stack
    once per stage re-scans the corpus k times; instead each doc gets
    ALL its stage flags in one projection (the dedup flag is a
    fingerprint-partitioned row_number — keep-first semantics, same
    as the exact-dedup operator) and every stage count is a product
    aggregation over the flag columns.  One scan, one aggregation,
    k output rows.
    """
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    from pyspark.sql import Window

    fp = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    d = docs.select(
        "n_chars",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias(
            "n_tok"
        ),
        fp.alias("fp"),
        "doc_id",
    ).withColumn(
        "fp_rn",
        F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
    )
    flags = d.select(
        (F.col("n_chars") >= 80).cast("bigint").alias("f_len"),
        (F.col("lang") == "en").cast("bigint").alias("f_lang"),
        (F.col("n_tok") >= 12).cast("bigint").alias("f_tok"),
        (F.col("fp_rn") == 1).cast("bigint").alias("f_dedup"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("s0"),
        F.sum("f_len").alias("s1"),
        F.sum(F.col("f_len") * F.col("f_lang")).alias("s2"),
        F.sum(
            F.col("f_len") * F.col("f_lang") * F.col("f_tok")
        ).alias("s3"),
        F.sum(
            F.col("f_len")
            * F.col("f_lang")
            * F.col("f_tok")
            * F.col("f_dedup")
        ).alias("s4"),
    )
    stages = agg.selectExpr(
        "stack(5, CAST(0 AS BIGINT), 'raw', CAST(s0 AS BIGINT), "
        "CAST(1 AS BIGINT), 'min_length', CAST(s1 AS BIGINT), "
        "CAST(2 AS BIGINT), '+english', CAST(s2 AS BIGINT), "
        "CAST(3 AS BIGINT), '+min_tokens', CAST(s3 AS BIGINT), "
        "CAST(4 AS BIGINT), '+exact_dedup', CAST(s4 AS BIGINT)) "
        "AS (stage, name, survivors)"
    )
    return stages.select(
        "stage",
        "name",
        "survivors",
        F.expr(
            "(1000000 * survivors) div max(survivors) OVER ()"
        ).alias("survival_micro"),
    )


@register(
    "emb_ivf_incremental_assign",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
    assign AS (
      SELECT v.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC,
                        c.cid ASC) AS rnk
      FROM v JOIN cents c ON true),
    cell AS (SELECT vec_id, cid AS cell FROM assign WHERE rnk = 1),
    split AS (
      SELECT vec_id, cell,
             CASE WHEN vec_id < 400 THEN 'base' ELSE 'delta' END AS gen
      FROM cell)
    SELECT cell,
           CAST(count(*) FILTER (gen = 'base') AS BIGINT) AS n_base,
           CAST(count(*) FILTER (gen = 'delta') AS BIGINT) AS n_delta,
           CAST((1000000 * count(*) FILTER (gen = 'delta'))
                // greatest(count(*) FILTER (gen = 'base'), 1)
                AS BIGINT) AS growth_micro
    FROM split GROUP BY cell
    """,
    description="incremental IVF maintenance audit: new vectors "
    "(vec_id >= 400) assigned to the EXISTING cells, per-cell "
    "base/delta occupancy and growth ratio — when growth skews, the "
    "index needs re-clustering",
    tags=("embeddings", "similarity", "ivf", "maintenance"),
)
def emb_ivf_incremental_assign(spark, sf_dir):
    """Index upkeep without a rebuild: assign the delta, watch skew.

    Production ANN indexes ingest continuously but re-cluster rarely —
    new vectors are assigned to the EXISTING coarse cells (map-only
    broadcast argmax, the same expression the query path uses) and the
    per-cell growth ratio is the re-clustering trigger: uniform growth
    means the old centroids still fit the distribution; skewed growth
    (one cell absorbing the drift) is the signal to retrain.  One
    broadcast assignment pass + one cell aggregation.
    """
    from ..operators.similarity import ivf_assign

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cells = ivf_assign(vecs, centroids)
    split = cells.select(
        "cell",
        F.when(F.col("vec_id") < 400, "base").otherwise("delta").alias(
            "gen"
        ),
    )
    nb = F.sum((F.col("gen") == "base").cast("bigint")).cast("bigint")
    nd = F.sum((F.col("gen") == "delta").cast("bigint")).cast("bigint")
    return (
        split.groupBy("cell")
        .agg(nb.alias("n_base"), nd.alias("n_delta"))
        .select(
            "cell",
            "n_base",
            "n_delta",
            F.expr(
                "(1000000 * n_delta) div greatest(n_base, CAST(1 AS BIGINT))"
            ).alias("growth_micro"),
        )
    )


@register(
    "evt_ordering_audit",
    oracle="""
    WITH s AS (
      SELECT event_type, ts, event_id,
             lag(ts) OVER (PARTITION BY event_type
                           ORDER BY event_id) AS prev_ts
      FROM events),
    d AS (
      SELECT event_type,
             CASE WHEN prev_ts IS NOT NULL AND ts < prev_ts
                  THEN 1 ELSE 0 END AS ooo,
             CASE WHEN prev_ts IS NOT NULL AND ts < prev_ts
                  THEN date_diff('second', ts, prev_ts)
                  ELSE 0 END AS late_s
      FROM s)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(ooo) AS BIGINT) AS n_out_of_order,
           CAST((1000000 * sum(ooo)) // count(*) AS BIGINT)
             AS ooo_micro,
           CAST(max(late_s) AS BIGINT) AS max_lateness_s
    FROM d GROUP BY event_type
    """,
    description="ingestion ordering audit: out-of-order rate and max "
    "lateness per event_type, comparing arrival order (event_id) "
    "against event time — the number that sizes streaming watermarks",
    tags=("events", "quality", "ingestion"),
)
def evt_ordering_audit(spark, sf_dir):
    """How disordered is the stream? (The watermark-sizing question.)

    Streaming state retention is a bet on how late data arrives; this
    audit measures it from history: within each type, compare event
    time against arrival order (event_id) — every inversion is a
    late arrival, and the max inversion depth is the empirical bound
    a watermark must cover.  One partitioned lag window + one
    aggregation, all JVM-side.
    """
    ev = keyed_events(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("event_id")
    s = ev.select(
        "event_type", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    ooo = (
        F.col("prev_ts").isNotNull() & (F.col("ts") < F.col("prev_ts"))
    ).cast("bigint")
    late = F.when(
        F.col("prev_ts").isNotNull() & (F.col("ts") < F.col("prev_ts")),
        F.col("prev_ts").cast("long") - F.col("ts").cast("long"),
    ).otherwise(0)
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(ooo).cast("bigint").alias("n_out_of_order"),
        F.expr(
            "(1000000 * sum(CASE WHEN prev_ts IS NOT NULL AND ts < prev_ts "
            "THEN 1 ELSE 0 END)) div count(1)"
        ).alias("ooo_micro"),
        F.max(late).cast("bigint").alias("max_lateness_s"),
    )


@register(
    "doc_dataset_card",
    oracle=r"""
    WITH d AS (
      SELECT source, lang, n_chars,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               AS fp,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents),
    r AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, fp) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM d),
    med AS (
      SELECT source, CAST(n_chars AS BIGINT) AS median_chars
      FROM r WHERE rn = (n + 1) // 2)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT)
             AS exact_dup_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST((1000000 * sum(n_tokens)) // count(*) AS BIGINT)
             AS tokens_per_doc_micro,
           CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS n_en,
           any_value(m.median_chars) AS median_chars
    FROM d JOIN med m ON m.source = d.source
    GROUP BY d.source
    """,
    description="datasheet-for-datasets card per source: doc/token/"
    "char totals, exact-dup count, language mix, exact nearest-rank "
    "median length — the one-row-per-source corpus summary",
    tags=("documents", "profiling", "card"),
)
def doc_dataset_card(spark, sf_dir):
    """Dataset card (Gebru et al., "Datasheets for Datasets") rollup.

    The summary a corpus consumer reads before training: volume,
    tokens, duplication, language mix, and length shape per source —
    one labeled pass over the corpus, one source aggregation, plus an
    exact nearest-rank median via a source-PARTITIONED ranking window
    (ties broken by fingerprint so the rank row is unique).  At
    100 TB the median window is the only per-doc ranked stage; swap
    it for approxQuantile exactly as the split operator documents.
    """
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    d = docs.select(
        "source",
        "lang",
        "n_chars",
        F.md5(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
        ).alias("fp"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias(
            "n_tokens"
        ),
    ).localCheckpoint(eager=False)
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("n_chars", "fp")
    r = d.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    med = r.filter(F.expr("rn = (n + 1) div 2")).select(
        "source", F.col("n_chars").cast("bigint").alias("median_chars")
    )
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct("fp"))
        .cast("bigint")
        .alias("exact_dup_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.expr("(1000000 * sum(n_tokens)) div count(1)").alias(
            "tokens_per_doc_micro"
        ),
        F.sum((F.col("lang") == "en").cast("bigint"))
        .cast("bigint")
        .alias("n_en"),
    )
    return agg.join(med, "source")


@register(
    "evt_cohort_ltv_curve",
    oracle="""
    WITH f AS (
      SELECT user_id,
             CAST(min(date_trunc('week', ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id),
    v AS (
      SELECT e.user_id, f.cohort,
             CAST(date_diff('week', f.cohort,
                            date_trunc('week', e.ts)) AS BIGINT) AS age,
             CAST(round(e.value * 100) AS BIGINT) AS v
      FROM events e JOIN f ON f.user_id = e.user_id
      WHERE e.value IS NOT NULL),
    wk AS (
      SELECT cohort, age,
             CAST(sum(v) AS BIGINT) AS wv,
             CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
      FROM v GROUP BY cohort, age),
    c AS (
      SELECT cohort, age, wv, active_users,
             CAST(sum(wv) OVER (PARTITION BY cohort ORDER BY age)
                  AS BIGINT) AS cum_value
      FROM wk),
    sz AS (SELECT cohort, count(*) AS n FROM f GROUP BY cohort)
    SELECT c.cohort, c.age, c.wv, c.active_users, c.cum_value,
           CAST(c.cum_value // sz.n AS BIGINT) AS cum_per_user
    FROM c JOIN sz ON sz.cohort = c.cohort
    """,
    description="cohort LTV triangle: per (first-activity-week cohort, "
    "age-in-weeks) value, actives, cumulative value, and exact "
    "per-user cumulative — the growth-accounting revenue curve",
    tags=("events", "analytics", "cohort"),
)
def evt_cohort_ltv_curve(spark, sf_dir):
    """The cohort-revenue triangle behind every LTV model.

    Cohort = first-activity week; age = weeks since.  The dataflow is
    a first-touch aggregate joined back onto events (shuffle on
    user_id, reused by the downstream per-user distinct), one
    (cohort, age) aggregation, and a cumulative window PARTITIONED by
    cohort over ages — the frame after the first agg is cohorts ×
    ages, calendar-bounded.  ``cum_per_user`` divides by the FIXED
    cohort size (not current actives), the convention that makes
    curves comparable across cohorts; exact integer floor.
    """
    ev = keyed_events(spark, sf_dir)
    # first-touch frame feeds the cohort join AND the cohort-size agg —
    # checkpoint so the user_id aggregation runs once
    f = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).cast("date").alias("cohort")
    ).localCheckpoint(eager=False)
    v = (
        ev.filter(F.col("value").isNotNull())
        .join(f, "user_id")
        .select(
            "user_id",
            "cohort",
            (
                F.datediff(F.date_trunc("week", "ts"), F.col("cohort"))
                / 7
            )
            .cast("bigint")
            .alias("age"),
            F.col("value_c").alias("v"),
        )
    )
    wk = v.groupBy("cohort", "age").agg(
        F.sum("v").cast("bigint").alias("wv"),
        F.countDistinct("user_id").cast("bigint").alias("active_users"),
    )
    from pyspark.sql import Window

    cw = Window.partitionBy("cohort").orderBy("age")
    c = wk.withColumn(
        "cum_value", F.sum("wv").over(cw).cast("bigint")
    )
    sz = f.groupBy("cohort").agg(F.count(F.lit(1)).alias("n"))
    return c.join(sz, "cohort").select(
        "cohort",
        "age",
        "wv",
        "active_users",
        "cum_value",
        F.expr("cum_value div n").alias("cum_per_user"),
    )


@register(
    "evt_mtbf_mttr",
    oracle="""
    WITH mins AS (
      SELECT DISTINCT date_trunc('minute', ts) AS m
      FROM events WHERE event_type = 'error'),
    isl AS (
      SELECT m,
             CAST(m AS TIMESTAMP)
               - to_minutes(CAST(row_number() OVER (ORDER BY m) AS BIGINT))
               AS grp
      FROM mins),
    ep AS (
      SELECT grp, min(m) AS started, max(m) AS ended,
             CAST(count(*) AS BIGINT) AS down_minutes
      FROM isl GROUP BY grp),
    seq AS (
      SELECT started, ended, down_minutes,
             lag(ended) OVER (ORDER BY started) AS prev_end
      FROM ep)
    SELECT CAST(count(*) AS BIGINT) AS n_episodes,
           CAST(sum(down_minutes) AS BIGINT) AS total_down_minutes,
           CAST(max(down_minutes) AS BIGINT) AS worst_episode_minutes,
           CAST(sum(down_minutes) // count(*) AS BIGINT)
             AS mttr_minutes,
           CAST(coalesce(sum(date_diff('minute', prev_end, started)),
                         0) // greatest(count(*) - 1, 1) AS BIGINT)
             AS mtbf_minutes
    FROM seq
    """,
    description="reliability KPIs from error episodes: gaps-and-islands "
    "over error minutes -> episode table -> MTTR (mean repair) and "
    "MTBF (mean time between failures), exact integer minutes",
    tags=("events", "sre", "reliability"),
)
def evt_mtbf_mttr(spark, sf_dir):
    """MTTR / MTBF from the event stream.

    Incident accounting without an incident tracker: any minute with
    an error event is 'down'; consecutive down minutes form an
    episode (the gaps-and-islands trick — row_number drift as the
    island key, no iteration); MTTR averages episode lengths, MTBF
    the recovery gaps between them.  The distinct-minute frame is
    calendar-bounded, so everything past the first distinct is
    window-over-tiny; output is one row of exact integer minutes.
    """
    ev = keyed_events(spark, sf_dir).filter(
        F.col("event_type") == "error"
    )
    mins = ev.select(
        F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    from pyspark.sql import Window

    o = Window.orderBy("m")
    isl = mins.select(
        "m",
        (
            F.col("m").cast("long")
            - F.row_number().over(o).cast("long") * 60
        ).alias("grp"),
    )
    ep = isl.groupBy("grp").agg(
        F.min("m").alias("started"),
        F.max("m").alias("ended"),
        F.count(F.lit(1)).cast("bigint").alias("down_minutes"),
    )
    seq = ep.select(
        "started",
        "ended",
        "down_minutes",
        F.lag("ended").over(Window.orderBy("started")).alias("prev_end"),
    )
    gap_min = (
        (F.col("started").cast("long") - F.col("prev_end").cast("long"))
        / 60
    ).cast("bigint")
    return seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_episodes"),
        F.sum("down_minutes").cast("bigint").alias("total_down_minutes"),
        F.max("down_minutes").cast("bigint").alias("worst_episode_minutes"),
        F.expr("sum(down_minutes) div greatest(count(1), 1)").alias(
            "mttr_minutes"
        ),
        (
            F.coalesce(F.sum(gap_min), F.lit(0))
            / F.greatest(F.count(F.lit(1)) - 1, F.lit(1))
        )
        .cast("bigint")
        .alias("mtbf_minutes"),
    )


@register(
    "evt_slo_burn_rate",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS total,
             CAST(count(*) FILTER (event_type = 'error') AS BIGINT)
               AS errors
      FROM events GROUP BY date_trunc('hour', ts)),
    w AS (
      SELECT hour, total, errors,
             CAST(sum(total) OVER l AS BIGINT) AS total_6h,
             CAST(sum(errors) OVER l AS BIGINT) AS errors_6h
      FROM h
      WINDOW l AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING
                   AND CURRENT ROW)),
    b AS (
      SELECT hour,
             (100000000 * errors) // (total * 20) AS burn_short_micro,
             (100000000 * errors_6h) // (total_6h * 20)
               AS burn_long_micro
      FROM w)
    SELECT hour, CAST(burn_short_micro AS BIGINT) AS burn_short_micro,
           CAST(burn_long_micro AS BIGINT) AS burn_long_micro,
           CAST(CASE WHEN burn_short_micro >= 1000000
                      AND burn_long_micro >= 1000000
                     THEN 1 ELSE 0 END AS BIGINT) AS page
    FROM b
    """,
    description="SRE error-budget burn rate (SLO 80% non-error), "
    "multi-window 1h/6h: burn = error_rate / budget in exact micro "
    "units; page only when BOTH windows burn >= 1x (Google SRE "
    "multi-window multi-burn alert)",
    tags=("events", "sre", "monitoring"),
)
def evt_slo_burn_rate(spark, sf_dir):
    """Multi-window error-budget burn-rate alerting.

    The SRE workbook's recommended alert: page when the error budget
    burns faster than 1× over BOTH a short and a long window — the
    short window gives detection speed, the long one suppresses
    flappy spikes.  One hour aggregation over the raw events, then a
    6-row rolling sum over the HOURS frame (time-bounded state,
    identical shape to the streaming sliding-window operator), and
    exact integer burn ratios: budget is 20% here (synthetic corpus is
    ~20% errors), so burn_micro = 1e6 · error_rate / 0.20 computed as
    one integer division.
    """
    ev = keyed_events(spark, sf_dir)
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).cast("bigint").alias("total"),
        F.sum((F.col("event_type") == "error").cast("bigint"))
        .cast("bigint")
        .alias("errors"),
    )
    from pyspark.sql import Window

    l6 = Window.orderBy("hour").rowsBetween(-5, 0)
    w = h.select(
        "hour",
        "total",
        "errors",
        F.sum("total").over(l6).cast("bigint").alias("total_6h"),
        F.sum("errors").over(l6).cast("bigint").alias("errors_6h"),
    )
    b = w.select(
        "hour",
        F.expr("(100000000 * errors) div (total * 20)").alias(
            "burn_short_micro"
        ),
        F.expr("(100000000 * errors_6h) div (total_6h * 20)").alias(
            "burn_long_micro"
        ),
    )
    return b.select(
        "hour",
        "burn_short_micro",
        "burn_long_micro",
        F.when(
            (F.col("burn_short_micro") >= 1000000)
            & (F.col("burn_long_micro") >= 1000000),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("page"),
    )


@register(
    "evt_alert_rules",
    oracle="""
    WITH rules(rule_id, metric, op, threshold) AS (VALUES
      (1, 'n_events',  'gt', CAST(400 AS BIGINT)),
      (2, 'sum_cents', 'gt', CAST(2500000 AS BIGINT)),
      (3, 'n_users',   'lt', CAST(120 AS BIGINT)),
      (4, 'max_cents', 'gt', CAST(5000000 AS BIGINT))),
    m AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS max_cents
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)),
    u AS (
      SELECT event_type, day, 'n_events' AS metric, n_events AS val
        FROM m
      UNION ALL SELECT event_type, day, 'sum_cents', sum_cents FROM m
      UNION ALL SELECT event_type, day, 'n_users', n_users FROM m
      UNION ALL SELECT event_type, day, 'max_cents', max_cents FROM m),
    fired AS (
      SELECT r.rule_id, u.event_type, u.day, u.val, r.threshold
      FROM u JOIN rules r ON r.metric = u.metric
      WHERE (r.op = 'gt' AND u.val > r.threshold)
         OR (r.op = 'lt' AND u.val < r.threshold))
    SELECT CAST(rule_id AS BIGINT) AS rule_id, event_type,
           CAST(count(*) AS BIGINT) AS n_fired,
           CAST(min(day) AS DATE) AS first_day,
           CAST(max(day) AS DATE) AS last_day
    FROM fired GROUP BY rule_id, event_type
    """,
    description="declarative alert-rule engine: literal (metric, op, "
    "threshold) rules evaluated against per-(type, day) metrics via "
    "unpivot + rule join — adding a rule is a data change, not a "
    "query change",
    tags=("events", "monitoring", "rules"),
)
def evt_alert_rules(spark, sf_dir):
    """Rule-table-driven metric alerting.

    Monitoring configs change much faster than code ships, so the
    rules live in a TABLE (broadcast at runtime), not in the query:
    computed metrics unpivot to (metric, value) rows and one join
    against the rule table evaluates every rule — adding or retuning
    a rule is an insert.  The metric pass is one (type, day) hash
    aggregation; everything after runs on the days × types × metrics
    frame, which is calendar-bounded.
    """
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    m = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("value_c").cast("bigint").alias("sum_cents"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.max("value_c").cast("bigint").alias("max_cents"),
    )
    u = m.selectExpr(
        "event_type",
        "day",
        "stack(4, 'n_events', n_events, 'sum_cents', sum_cents, "
        "'n_users', n_users, 'max_cents', max_cents) AS (metric, val)",
    )
    rules = spark.createDataFrame(
        [
            (1, "n_events", "gt", 400),
            (2, "sum_cents", "gt", 2500000),
            (3, "n_users", "lt", 120),
            (4, "max_cents", "gt", 5000000),
        ],
        "rule_id int, metric string, op string, threshold long",
    )
    fired = u.join(F.broadcast(rules), "metric").filter(
        ((F.col("op") == "gt") & (F.col("val") > F.col("threshold")))
        | ((F.col("op") == "lt") & (F.col("val") < F.col("threshold")))
    )
    return fired.groupBy(
        F.col("rule_id").cast("bigint").alias("rule_id"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fired"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


@register(
    "emb_dbscan_core_points",
    oracle="""
    WITH p AS (
      SELECT vec_id,
             CAST(round(embedding[1] * 1000) AS BIGINT) AS x,
             CAST(round(embedding[2] * 1000) AS BIGINT) AS y
      FROM embeddings),
    c AS (
      SELECT vec_id, x, y,
             (x + 65536) // 30 AS cx, (y + 65536) // 30 AS cy
      FROM p),
    probes AS (
      SELECT a.vec_id, a.x, a.y,
             a.cx + dx.d AS pcx, a.cy + dy.d AS pcy
      FROM c a,
           (SELECT unnest([-1, 0, 1]) AS d) dx,
           (SELECT unnest([-1, 0, 1]) AS d) dy),
    neigh AS (
      SELECT pr.vec_id, count(*) AS n_neighbors
      FROM probes pr
      JOIN c b ON b.cx = pr.pcx AND b.cy = pr.pcy
             AND b.vec_id != pr.vec_id
             AND (pr.x - b.x) * (pr.x - b.x)
                 + (pr.y - b.y) * (pr.y - b.y) <= 900
      GROUP BY pr.vec_id)
    SELECT vec_id, CAST(n_neighbors AS BIGINT) AS n_neighbors
    FROM neigh WHERE n_neighbors >= 5
    """,
    description="DBSCAN core-point detection (eps=0.030, minPts=5) on "
    "the first two embedding dims via grid-cell candidate generation: "
    "9-cell probe equi-join + exact integer distance verify — never "
    "all-pairs",
    tags=("embeddings", "clustering", "density"),
)
def emb_dbscan_core_points(spark, sf_dir):
    """Density-based core-point detection, grid-partitioned.

    The DBSCAN primitive (Ester et al. 1996): a point is CORE if ≥
    minPts neighbors sit within ε.  At scale the neighbor search is
    the whole game — the grid trick buckets points into ε-sized cells
    so every true ε-neighbor lives in the 3×3 cell neighborhood, and
    candidate generation becomes a 9-probe equi-join on the cell key
    (the same bounded-fan-out shape as the LSH band join and the geo
    radius join) with an exact integer distance verify.  Cores feed
    cluster expansion exactly like the CC operator consumes LSH
    candidate pairs.

    Determinism: coordinates are ×1000 ints; the cell floor-divide is
    offset (+65536) so both engines' truncating division IS floor on
    the shifted non-negative domain; distances compare in exact int64.
    """
    p = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.round(F.col("embedding")[0] * 1000).cast("bigint").alias("x"),
        F.round(F.col("embedding")[1] * 1000).cast("bigint").alias("y"),
    )
    c = p.select(
        "vec_id",
        "x",
        "y",
        F.expr("(x + 65536) div 30").alias("cx"),
        F.expr("(y + 65536) div 30").alias("cy"),
    )
    d = spark.range(-1, 2).select(F.col("id").alias("d"))
    probes = (
        c.crossJoin(F.broadcast(d.select(F.col("d").alias("dx"))))
        .crossJoin(F.broadcast(d.select(F.col("d").alias("dy"))))
        .select(
            "vec_id",
            "x",
            "y",
            (F.col("cx") + F.col("dx")).alias("pcx"),
            (F.col("cy") + F.col("dy")).alias("pcy"),
        )
    )
    b = c.select(
        F.col("vec_id").alias("bid"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("pcx"),
        F.col("cy").alias("pcy"),
    )
    neigh = (
        probes.join(b, ["pcx", "pcy"])
        .filter(
            (F.col("bid") != F.col("vec_id"))
            & (
                (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
                + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by"))
                <= 900
            )
        )
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_neighbors"))
    )
    return neigh.filter(F.col("n_neighbors") >= 5)


@register(
    "evt_rootcause_contributions",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) // 25 AS k_band,
             CASE WHEN day(ts) <= 15 THEN 'a' ELSE 'b' END AS period,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    slices AS (
      SELECT event_type, k_band,
             CAST(sum(CASE WHEN period = 'a' THEN v ELSE 0 END)
                  AS BIGINT) AS va,
             CAST(sum(CASE WHEN period = 'b' THEN v ELSE 0 END)
                  AS BIGINT) AS vb
      FROM base GROUP BY event_type, k_band),
    tot AS (SELECT sum(vb - va) AS td FROM slices)
    SELECT event_type, CAST(k_band AS BIGINT) AS k_band, va, vb,
           CAST(vb - va AS BIGINT) AS delta,
           CAST((1000000 * (vb - va)) // nullif(t.td, 0) AS BIGINT)
             AS contribution_micro,
           CAST(row_number() OVER (
             ORDER BY abs(vb - va) DESC, event_type ASC, k_band ASC)
             AS BIGINT) AS rnk
    FROM slices, tot t
    ORDER BY rnk
    LIMIT 10
    """,
    description="Adtributor-style root-cause decomposition: the "
    "period-over-period metric delta split across (event_type, "
    "k_band) slices, ranked by absolute contribution — 'what moved "
    "the number' in one aggregation",
    tags=("events", "analytics", "rootcause"),
)
def evt_rootcause_contributions(spark, sf_dir):
    """Dimensional contribution analysis ("why did the metric move?").

    The on-call question behind every metrics dashboard: which slices
    explain the period-over-period delta.  One labeled pass (period
    tag in the projection — no second scan), one (type, band) hash
    aggregation, then ranking over the SLICE frame, which is bounded
    by dimension cardinality, not data size.  Additive metrics
    decompose exactly: slice deltas sum to the total delta, so
    ``contribution_micro`` is an exact integer share of it
    (Adtributor, Bhagwan et al. 2014, uses the same surprise/share
    core before its explanatory-power heuristics).
    """
    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    base = ev.select(
        "event_type",
        F.expr(
            "CAST(get_json_object(props, '$.k') AS BIGINT) div 25"
        ).alias("k_band"),
        F.when(F.dayofmonth("ts") <= 15, "a").otherwise("b").alias("period"),
        F.col("value_c").alias("v"),
    )
    slices = base.groupBy("event_type", "k_band").agg(
        F.sum(F.when(F.col("period") == "a", F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("va"),
        F.sum(F.when(F.col("period") == "b", F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("vb"),
    )
    tot = slices.agg(
        F.sum(F.col("vb") - F.col("va")).alias("td")
    )
    from pyspark.sql import Window

    j = slices.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.col("k_band").cast("bigint").alias("k_band"),
        "va",
        "vb",
        (F.col("vb") - F.col("va")).cast("bigint").alias("delta"),
        # nullif guard: a perfectly balanced period pair has td = 0 —
        # contribution shares are undefined there, not an error
        F.expr("(1000000 * (vb - va)) div nullif(td, 0)").alias(
            "contribution_micro"
        ),
    )
    w = Window.orderBy(
        F.abs(F.col("delta")).desc(), F.asc("event_type"), F.asc("k_band")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select(
            "event_type", "k_band", "va", "vb", "delta",
            "contribution_micro", F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@register(
    "doc_textrank_keywords",
    oracle=r"""
    WITH RECURSIVE
    toks AS (
      SELECT doc_id,
             generate_subscripts(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
               ' '), 1) AS p,
             unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
               ' ')) AS tok
      FROM documents),
    adj AS (
      SELECT a.tok AS u, b.tok AS v
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.p = a.p + 1 AND a.tok <> b.tok
      WHERE a.tok <> '' AND b.tok <> ''),
    edges AS (
      SELECT u, v, count(*) AS w FROM (
        SELECT u, v FROM adj UNION ALL SELECT v, u FROM adj)
      GROUP BY u, v),
    outw AS (SELECT u, sum(w) AS wout FROM edges GROUP BY u),
    nodes AS (SELECT DISTINCT u AS word FROM edges),
    pr AS (
      SELECT 0 AS iter, word, CAST(1000000 AS BIGINT) AS r FROM nodes
      UNION ALL
      -- the symmetrized graph guarantees every node has an incoming
      -- edge, so grouping the contributions covers all nodes
      SELECT p.iter + 1, e.v AS word,
             150000 + (85 * sum((p.r * e.w) // o.wout)) // 100
      FROM pr p
      JOIN edges e ON e.u = p.word
      JOIN outw o ON o.u = p.word
      WHERE p.iter < 10
      GROUP BY p.iter, e.v),
    fin AS (SELECT word, r FROM pr WHERE iter = 10)
    SELECT word, CAST(r AS BIGINT) AS rank_scaled,
           CAST(row_number() OVER (ORDER BY r DESC, word ASC) AS BIGINT)
             AS rnk
    FROM fin
    ORDER BY rnk
    LIMIT 10
    """,
    description="TextRank keyword extraction (Mihalcea-Tarau): damped "
    "weighted PageRank over the token-adjacency co-occurrence graph, "
    "10 fixed integer-scaled iterations; top-10 keywords",
    tags=("documents", "text", "graph", "iterative"),
)
def doc_textrank_keywords(spark, sf_dir):
    """TextRank: corpus keywords from the word co-occurrence graph.

    The unsupervised keyword extractor (Mihalcea & Tarau 2004):
    adjacent-token co-occurrence edges, damped PageRank, top-k by
    rank.  Graph construction is the corpus-scale stage — one
    tokenize/explode pass and a (u, v) count aggregation; the rank
    iteration then runs over the VOCABULARY graph, which Zipf caps
    orders of magnitude below corpus size, as 10 synchronous
    join+agg rounds on the word key (same shape as
    ``doc_pagerank_authority``), ``localCheckpoint`` per round.

    Determinism: ranks are int64 micro-units with per-edge
    floor-divided contributions (``(r·w) // W_u`` then a damped
    floor-divide — all values non-negative, so DuckDB's truncating
    ``//`` equals floor); ties in the final top-10 break on the word.
    """
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
            )
        ).alias("p", "tok"),
    ).filter(F.col("tok") != "")
    a = toks.select("doc_id", "p", F.col("tok").alias("u"))
    b = toks.select(
        "doc_id", (F.col("p") - 1).alias("p"), F.col("tok").alias("v")
    )
    adj = a.join(b, ["doc_id", "p"]).filter(F.col("u") != F.col("v"))
    edges = (
        adj.select("u", "v")
        .unionAll(adj.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    outw = edges.groupBy("u").agg(F.sum("w").alias("wout"))
    ew = edges.join(outw, "u").select(
        "u", "v", "w", "wout"
    ).localCheckpoint(eager=False)
    # TRADE (§5) for the checkpoints here and in the round loop below:
    # localCheckpoint blocks live in executor storage — under executor
    # loss / dynamic allocation the truncated lineage is unrecoverable;
    # a cluster run should use reliable checkpoint() to a checkpoint dir.
    # the vocabulary node list feeds every one of the 10 rounds —
    # checkpoint it once instead of re-running the distinct each round
    nodes = (
        edges.select(F.col("u").alias("word"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    r = nodes.select("word", F.lit(1000000).cast("long").alias("r"))
    for _ in range(10):
        # one aggregate per round (r13): neighbor contributions unioned
        # with a zero row per node, single sum — replaces the old
        # groupBy-then-left-join-to-nodes (one fewer shuffle of the
        # vocabulary frame per round, guide §2.4). sum(c ∪ {0}) ≡
        # coalesce(sum(c), 0): the damped integer formula is unchanged.
        contrib_rows = r.join(ew, r["word"] == ew["u"]).select(
            F.col("v").alias("word"),
            F.expr("(r * w) div wout").alias("c"),
        )
        zero_rows = nodes.select("word", F.lit(0).cast("long").alias("c"))
        r = (
            contrib_rows.unionByName(zero_rows)
            .groupBy("word")
            .agg(F.sum("c").alias("s"))
            .select(
                "word",
                (F.lit(150000) + F.expr("85 * s div 100")).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    from pyspark.sql import Window

    w10 = Window.orderBy(F.desc("r"), F.asc("word"))
    return (
        r.withColumn("rnk", F.row_number().over(w10))
        .filter(F.col("rnk") <= 10)
        .select(
            "word",
            F.col("r").cast("bigint").alias("rank_scaled"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@register(
    "rel_copurchase_topk",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    freq AS (SELECT p, count(*) AS n FROM op GROUP BY p),
    pairs AS (
      SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
      FROM op a JOIN op b ON b.o = a.o AND a.p < b.p
      GROUP BY a.p, b.p),
    j AS (
      SELECT pa, pb, n_ab,
             CAST((1000000 * n_ab) // (fa.n + fb.n - n_ab) AS BIGINT)
               AS jaccard_micro
      FROM pairs
      JOIN freq fa ON fa.p = pa
      JOIN freq fb ON fb.p = pb
      WHERE n_ab >= 2)
    SELECT CAST(pa AS BIGINT) AS pa, CAST(pb AS BIGINT) AS pb,
           CAST(n_ab AS BIGINT) AS n_ab, jaccard_micro
    FROM j
    ORDER BY n_ab DESC, jaccard_micro DESC, pa ASC, pb ASC
    LIMIT 20
    """,
    description="item-item co-purchase similarity from order baskets "
    "(basket-bounded self-join on the order key, integer Jaccard): "
    "top-20 part pairs — the Amazon-style 'bought together' shape",
    tags=("relational", "recsys", "similarity"),
)
def rel_copurchase_topk(spark, sf_dir):
    """Item-item collaborative similarity (co-purchase counts).

    The classic item-item recsys precompute: candidate pairs come from
    a self-join WITHIN orders — cost Σ basket² (TPC-H baskets are ≤7
    lines), never |items|² — and similarity is exact-integer Jaccard
    over order sets.  This is the same bounded-fan-out equi-join
    pattern as the LSH band join: the key (order) caps the quadratic
    term.  The ``n_ab >= 2`` support floor is the standard
    noise/memory guard before anything is ranked.
    """
    li = t(spark, sf_dir, "lineitem")
    # (order, part) feeds the frequency agg AND both self-join sides —
    # checkpoint so the distinct shuffle runs once, not three times
    op = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    freq = op.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    a = op.select("o", F.col("p").alias("pa"))
    b = op.select("o", F.col("p").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    fa = freq.select(F.col("p").alias("pa"), F.col("n").alias("na"))
    fb = freq.select(F.col("p").alias("pb"), F.col("n").alias("nb"))
    j = (
        pairs.join(fa, "pa")
        .join(fb, "pb")
        .select(
            F.col("pa").cast("bigint").alias("pa"),
            F.col("pb").cast("bigint").alias("pb"),
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.expr("(1000000 * n_ab) div (na + nb - n_ab)").alias(
                "jaccard_micro"
            ),
        )
    )
    return j.orderBy(
        F.desc("n_ab"), F.desc("jaccard_micro"), F.asc("pa"), F.asc("pb")
    ).limit(20)


@register(
    "emb_ivf_nprobe_curve",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
    assign AS (
      SELECT v.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC,
                        c.cid ASC) AS rnk
      FROM v JOIN cents c ON true),
    cell AS (SELECT vec_id, cid AS cell FROM assign WHERE rnk = 1),
    sweep AS (SELECT unnest(range(1, 5)) AS nprobe),
    cand AS (
      SELECT s.nprobe, a.vec_id AS query_id, m.vec_id AS neighbor_id
      FROM sweep s
      JOIN assign a ON a.vec_id < 10 AND a.rnk <= s.nprobe
      JOIN cell m ON m.cell = a.cid AND m.vec_id != a.vec_id),
    ivf5 AS (
      SELECT nprobe, query_id, neighbor_id
      FROM (
        SELECT c.nprobe, c.query_id, c.neighbor_id,
               row_number() OVER (
                 PARTITION BY c.nprobe, c.query_id
                 ORDER BY round(list_cosine_similarity(q.e, n.e), 6)
                            DESC, c.neighbor_id ASC) AS rnk
        FROM cand c
        JOIN v q ON q.vec_id = c.query_id
        JOIN v n ON n.vec_id = c.neighbor_id)
      WHERE rnk <= 5),
    exact5 AS (
      SELECT query_id, neighbor_id
      FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.e, n.e), 6)
                            DESC, n.vec_id ASC) AS rnk
        FROM v q JOIN v n ON n.vec_id != q.vec_id
        WHERE q.vec_id < 10)
      WHERE rnk <= 5)
    SELECT i.nprobe,
           CAST(count(*) AS BIGINT) AS hits,
           CAST((1000000 * count(*)) // 50 AS BIGINT) AS recall_micro
    FROM ivf5 i JOIN exact5 x
      ON x.query_id = i.query_id AND x.neighbor_id = i.neighbor_id
    GROUP BY i.nprobe
    """,
    description="IVF recall@5 vs nprobe sweep (1..4 probed cells, 8 "
    "donor centroids, 10 queries) against exact brute-force top-5 — "
    "the tuning curve that sets the ANN speed/recall operating point",
    tags=("embeddings", "similarity", "ivf", "eval"),
)
def emb_ivf_nprobe_curve(spark, sf_dir):
    """ANN operating-point curve: recall@5 as a function of nprobe.

    The ANN counterpart of ``doc_lsh_tuning_curve``: before committing
    a 100 TB corpus to an IVF index you sweep nprobe on a bounded query
    sample and read off the recall/fan-out trade — each probed cell
    costs ~|corpus|/|cells| candidate scores, so the curve directly
    prices recall in compute.  Composed entirely from the existing
    operators (``ivf_topk`` per nprobe, ``cosine_topk`` as truth) —
    candidate generation is the banded cell equi-join, never all-pairs;
    only the 10-query eval truth is brute-force by design.
    """
    from pyspark.sql import Window

    from ..operators.similarity import cosine, cosine_topk

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    # one centroid-ranking pass serves BOTH cell assignment (rnk = 1)
    # and the probe lists for every sweep point (rnk <= p) — the naive
    # form (one ivf_topk branch per p) re-scored candidates 4x
    ranked = (
        vecs.crossJoin(F.broadcast(centroids))
        .withColumn("_sim", F.round(cosine(F.col("v"), F.col("cv")), 6))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("_sim").desc(), F.col("cid").asc()
                )
            ),
        )
        .select("vec_id", "v", "cid", "rnk")
        .localCheckpoint(eager=False)
    )
    cells = ranked.filter(F.col("rnk") == 1).select(
        F.col("vec_id").alias("nid"),
        F.col("v").alias("nv"),
        F.col("cid").alias("cell"),
    )
    probes = ranked.filter(
        (F.col("vec_id") < 10) & (F.col("rnk") <= 4)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("cid").alias("cell"),
        F.col("rnk").alias("probe_rnk"),
    )
    # score each (query, candidate) ONCE at the widest sweep point;
    # narrower nprobes are probe-rank filters over the same scores
    scored = (
        probes.join(cells, "cell")
        .filter(F.col("nid") != F.col("query_id"))
        .select(
            "query_id",
            "probe_rnk",
            F.col("nid").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("sim"),
        )
        .localCheckpoint(eager=False)
    )
    sweep = spark.range(1, 5).select(F.col("id").alias("nprobe"))
    per_p = (
        scored.join(
            F.broadcast(sweep), scored["probe_rnk"] <= sweep["nprobe"]
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("nprobe", "query_id").orderBy(
                    F.col("sim").desc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("nprobe").cast("bigint").alias("nprobe"),
            "query_id",
            "neighbor_id",
        )
    )
    exact = cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5
    ).select("query_id", "neighbor_id")
    hits = per_p.join(exact, ["query_id", "neighbor_id"])
    return hits.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("bigint").alias("hits"),
        F.expr("(1000000 * count(1)) div 50").alias("recall_micro"),
    )


@register(
    "evt_props_variant",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events),
    b AS (
      SELECT event_type, k // 10 AS k_decade,
             count(*) AS n, sum(k) AS k_sum
      FROM v WHERE k IS NOT NULL
      GROUP BY event_type, k // 10)
    SELECT event_type, CAST(k_decade AS BIGINT) AS k_decade,
           CAST(n AS BIGINT) AS n, CAST(k_sum AS BIGINT) AS k_sum
    FROM b
    """,
    description="semi-structured props via the Spark 4 VARIANT type: "
    "parse_json once, typed variant_get extraction, grouped rollup — "
    "the open-schema ingestion path (Parquet VARIANT shredding)",
    tags=("events", "semistructured", "variant"),
)
def evt_props_variant(spark, sf_dir):
    """VARIANT-typed semi-structured access (Spark 4 / Parquet VARIANT).

    ``get_json_object`` re-parses the JSON string at every extraction;
    the VARIANT path (`parse_json` once → binary variant →
    ``variant_get`` per field) parses once and keeps extraction
    JVM-side and shreddable — on Parquet VARIANT columns the reader
    pushes field access into the scan.  This is the open-schema
    ingestion pattern for event streams whose properties evolve
    without migrations.

    The oracle uses DuckDB's JSON extraction — the point of the pairing
    is that the VARIANT path is a pure representation change: typed
    results must be bit-identical to string-path JSON semantics.
    """
    ev = keyed_events(spark, sf_dir)
    v = ev.select(
        "event_type",
        F.try_variant_get(
            F.parse_json("props"), "$.k", "bigint"
        ).alias("k"),
    )
    return (
        v.filter(F.col("k").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.col("k") / 10).cast("bigint").alias("k_decade"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("k_sum"),
        )
    )


@register(
    "evt_activity_bitmaps",
    oracle="""
    WITH m AS (
      SELECT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS week,
             bit_or(CAST(1 AS BIGINT) << dayofweek(ts)) AS days_mask
      FROM events GROUP BY user_id, date_trunc('week', ts))
    SELECT week,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(bit_count(days_mask)) AS BIGINT) AS sum_active_days,
           CAST(max(bit_count(days_mask)) AS BIGINT) AS max_active_days,
           CAST(bit_count(bit_or(days_mask)) AS BIGINT) AS covered_days,
           CAST(bit_count(bit_and(days_mask)) AS BIGINT) AS common_days
    FROM m GROUP BY week
    """,
    description="roaring-style day-of-week presence bitmaps per "
    "(user, week): bit_or fold + popcounts give active-day stats, "
    "calendar coverage, and all-user common days in two aggregations",
    tags=("events", "bitmap", "engagement"),
)
def evt_activity_bitmaps(spark, sf_dir):
    """Presence-bitmap engagement rollup (the OLAP segment-index trick).

    Encoding "which days was this user active" as one int64 bitmask
    collapses a (user, month, day) cube into a (user, month) row:
    set-union becomes ``bit_or``, set-size ``bit_count``, and
    set-intersection across users ``bit_and`` — all JVM-side aggregate
    functions with map-side partials.  The same encoding backs roaring
    bitmap indexes in OLAP stores; here it answers MAU quality
    questions (how many distinct days, how much calendar coverage,
    which days EVERY user hit) with two hash aggregations and zero
    distinct-counting machinery.
    """
    ev = keyed_events(spark, sf_dir)
    # Spark dayofweek is 1=Sunday..7; DuckDB's is 0=Sunday..6 — the
    # `- 1` aligns the bit positions.  date_trunc('week') starts Monday
    # in both engines.
    m = ev.groupBy(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), dayofweek(ts) - 1))"
        ).alias("days_mask")
    )
    return m.groupBy("week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.bit_count("days_mask")).cast("bigint").alias(
            "sum_active_days"
        ),
        F.max(F.bit_count("days_mask")).cast("bigint").alias(
            "max_active_days"
        ),
        F.bit_count(F.expr("bit_or(days_mask)"))
        .cast("bigint")
        .alias("covered_days"),
        F.bit_count(F.expr("bit_and(days_mask)"))
        .cast("bigint")
        .alias("common_days"),
    )


@register(
    "evt_behavior_cohorts",
    oracle="""
    WITH early AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    b AS (
      SELECT user_id,
             bit_or(CASE event_type
                      WHEN 'click' THEN 1 WHEN 'error' THEN 2
                      WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                      WHEN 'view' THEN 16 ELSE 0 END) AS type_mask
      FROM early WHERE rn <= 8 GROUP BY user_id)
    SELECT CAST(type_mask AS BIGINT) AS type_mask,
           CAST(bit_count(type_mask) AS BIGINT) AS n_types,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(user_id) AS BIGINT) AS example_user
    FROM b GROUP BY type_mask
    """,
    description="behavior-cohort segmentation via event-type bitmasks "
    "(fixed literal type->bit map): users bucketed by the exact "
    "combination of event types they triggered",
    tags=("events", "bitmap", "segmentation"),
)
def evt_behavior_cohorts(spark, sf_dir):
    """Exact behavioral segmentation by type-combination bitmask.

    "Which users click AND purchase but never error" style cohort
    queries become integer equality once each user's event-type SET is
    folded into a bitmask (fixed literal type→bit map, so the mask is
    engine-portable).  Two hash aggregations: (user → bit_or), then
    (mask → count) over a ≤2^|types| key space; any specific cohort
    afterwards is a constant-predicate scan of the tiny result.

    Masks fold each user's FIRST 8 events (ts, event_id order — a
    user-partitioned ranking window, never global): lifetime masks
    converge to all-types for every active user and carry no signal;
    the early-behavior window is what product analytics segments on.
    """
    ev = keyed_events(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
    )
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .when(F.col("event_type") == "view", 16)
        .otherwise(0)
    )
    b = ev.select("user_id", bit.alias("bit")).groupBy("user_id").agg(
        F.expr("bit_or(bit)").alias("type_mask")
    )
    g = b.groupBy(F.col("type_mask").cast("bigint").alias("type_mask")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.min("user_id").cast("bigint").alias("example_user"),
    )
    return g.select(
        "type_mask",
        F.bit_count("type_mask").cast("bigint").alias("n_types"),
        "n_users",
        "example_user",
    )


@register(
    "emb_mahalanobis_ood",
    oracle="""
    WITH ve AS (
      SELECT vec_id, label,
             generate_subscripts(embedding::DOUBLE[], 1) AS d,
             CAST(round(unnest(embedding::DOUBLE[]) * 1000) AS BIGINT)
               AS x
      FROM embeddings),
    st AS (
      SELECT label, d,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS q
      FROM ve GROUP BY label, d),
    sc AS (
      SELECT v.vec_id, v.label,
             sum(((v.x * t.n - t.s) * (v.x * t.n - t.s) * 10000)
                 // (t.n * (t.n * t.q - t.s * t.s))) AS score
      FROM ve v JOIN st t ON t.label = v.label AND t.d = v.d
      GROUP BY v.vec_id, v.label),
    r AS (
      SELECT label, vec_id, CAST(score AS BIGINT) AS score,
             row_number() OVER (PARTITION BY label
                                ORDER BY score DESC, vec_id ASC) AS rnk
      FROM sc)
    SELECT label, vec_id, score, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 10
    """,
    description="diagonal-Mahalanobis out-of-distribution scores vs "
    "each vector's own label statistics (exact integer moments, "
    "per-dim floor-divided scaled ratios); top-10 outliers per label",
    tags=("embeddings", "quality", "ood"),
)
def emb_mahalanobis_ood(spark, sf_dir):
    """Out-of-distribution mining for labeled embeddings.

    Mislabeled or out-of-distribution vectors are the ones far from
    their OWN class under the class's scale — the diagonal Mahalanobis
    distance ``Σ_d (x_d − μ_d)² / σ²_d``.  Cleaning these from a
    training set is a standard curation pass (confident-learning
    style), and the computation is fully relational: per-(label, dim)
    integer moments (n, Σx, Σx²), then a map-side join back and one
    per-vector aggregation — no Python seam, no all-pairs anything.

    Determinism: coordinates scaled to int (×1000); each dimension's
    ratio is computed as ``((x·n − s)² · 10⁴) // (n·(n·q − s²))`` —
    exact int64 (bounds: numerator ≤ 2.5e17, denominator ≤ 3e15 at the
    test scales), floor-divided BEFORE summing so both engines truncate
    identically.  Ranking windows are partitioned by label.

    At scale the per-label stats frame is (labels × dims) — broadcast
    size — and the score pass is map-only against it; the top-k per
    label uses the partitioned window, never a global sort.
    """
    ve = (
        t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "d0", "xd"
            ),
        )
        .select(
            "vec_id",
            "label",
            (F.col("d0") + 1).alias("d"),
            F.round(F.col("xd") * 1000).cast("bigint").alias("x"),
        )
    )
    st = ve.groupBy("label", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
    )
    num = (F.col("x") * F.col("n") - F.col("s")) * (
        F.col("x") * F.col("n") - F.col("s")
    ) * F.lit(10000)
    den = F.col("n") * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    sc = (
        ve.join(F.broadcast(st), ["label", "d"])
        # integer `div`, NOT floor(a/b): the numerator exceeds 2^53, so
        # a double-precision quotient could floor off by one
        .select("vec_id", "label", num.alias("mnum"), den.alias("mden"))
        .select("vec_id", "label", F.expr("mnum div mden").alias("ratio"))
        .groupBy("vec_id", "label")
        .agg(F.sum("ratio").cast("bigint").alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        sc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select(
            "label", "vec_id", "score", F.col("rnk").cast("bigint").alias("rnk")
        )
    )


@register(
    "evt_cms_portable_check",
    oracle="""
    WITH k AS (
      SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS exact_n
      FROM events GROUP BY user_id),
    hashed AS (
      SELECT key, exact_n,
             ('0x' || substr(md5('cms0:' || key), 1, 8))::BIGINT % 32
               AS j0,
             ('0x' || substr(md5('cms1:' || key), 1, 8))::BIGINT % 32
               AS j1
      FROM k),
    c0 AS (SELECT j0 AS j, sum(exact_n) AS c FROM hashed GROUP BY j0),
    c1 AS (SELECT j1 AS j, sum(exact_n) AS c FROM hashed GROUP BY j1)
    SELECT h.key,
           CAST(h.exact_n AS BIGINT) AS exact_n,
           CAST(least(c0.c, c1.c) AS BIGINT) AS cms_est,
           CAST(least(c0.c, c1.c) - h.exact_n AS BIGINT) AS overcount
    FROM hashed h
    JOIN c0 ON c0.j = h.j0
    JOIN c1 ON c1.j = h.j1
    ORDER BY h.exact_n DESC, h.key ASC
    LIMIT 20
    """,
    description="portable Count-Min sketch (d=2, w=32, salted-md5 row "
    "hashes) audited against exact counts for the top-20 keys — the "
    "hash-checkable twin of the rows-only evt_cms_heavy_hitters, same "
    "pattern as evt_hll_portable_rollup",
    tags=("events", "sketch", "audit"),
)
def evt_cms_portable_check(spark, sf_dir):
    """Count-Min estimate-vs-exact audit, engine-portable.

    The rows-only ``evt_cms_heavy_hitters`` uses the numpy grid
    operator; this twin re-expresses the SAME sketch relationally so
    DuckDB can replay it bit-for-bit: per-row counter cell =
    ``salted-md5(key) % w``, the d×w grid is two bounded (j → Σn)
    aggregates (mergeable by addition — the portable-artifact property
    that lets sketches roll up across partitions, days, or engines),
    and the point estimate is the min over rows.  ``overcount`` makes
    the one-sided error visible: CMS never undercounts.

    Scale: the exact-count CTE here is the AUDIT baseline, not the
    production path — a real run streams rows straight into the d×w
    grid (map-side partial grids, one merge), cost O(d·w) memory
    regardless of key cardinality.
    """
    ev = keyed_events(spark, sf_dir)
    k = ev.groupBy(F.col("user_id").cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("exact_n")
    )

    def cell(salt: str):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(salt), F.col("key"))), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 32
        )

    # hashed feeds both grid rows AND the estimate join — without a
    # checkpoint each reference re-runs the exact-count scan+agg (plan
    # audit measured 3 scans); the materialized frame is key-cardinality
    hashed = k.select(
        "key", "exact_n", cell("cms0:").alias("j0"), cell("cms1:").alias("j1")
    ).localCheckpoint(eager=False)
    c0 = hashed.groupBy(F.col("j0").alias("j")).agg(
        F.sum("exact_n").alias("c0")
    )
    c1 = hashed.groupBy(F.col("j1").alias("j")).agg(
        F.sum("exact_n").alias("c1")
    )
    est = (
        hashed.join(F.broadcast(c0), hashed["j0"] == c0["j"])
        .drop("j")
        .join(F.broadcast(c1), hashed["j1"] == c1["j"])
        .select(
            "key",
            F.col("exact_n").cast("bigint").alias("exact_n"),
            F.least("c0", "c1").cast("bigint").alias("cms_est"),
            (F.least("c0", "c1") - F.col("exact_n"))
            .cast("bigint")
            .alias("overcount"),
        )
    )
    return est.orderBy(F.desc("exact_n"), F.asc("key")).limit(20)


@register(
    "evt_ab_assignment",
    oracle="""
    WITH a AS (
      SELECT user_id, event_type,
             ('0x' || substr(md5('exp42:' || CAST(user_id AS VARCHAR)),
                             1, 8))::BIGINT % 100 AS bucket
      FROM events),
    v AS (
      SELECT event_type,
             CASE WHEN bucket < 50 THEN 'control' ELSE 'treatment' END
               AS variant,
             count(*) AS n
      FROM a GROUP BY 1, 2)
    SELECT event_type, variant, CAST(n AS BIGINT) AS n_events,
           CAST((sum(n) OVER (PARTITION BY event_type)) AS BIGINT)
             AS type_total,
           CAST((2 * n - sum(n) OVER (PARTITION BY event_type))
                * (2 * n - sum(n) OVER (PARTITION BY event_type))
                AS BIGINT) AS srm_num
    FROM v
    """,
    description="deterministic salted-hash experiment assignment "
    "(md5('exp42:'||user) % 100 -> 50/50 variants) with per-type "
    "sample-ratio-mismatch numerator (2n - N)^2",
    tags=("events", "experiment"),
)
def evt_ab_assignment(spark, sf_dir):
    """Hash-based A/B bucketing + sample-ratio-mismatch audit.

    The experimentation-infra primitive: assignment must be
    deterministic (same user → same variant across sessions and
    engines), uniform, and independent per experiment — a salted md5
    gives all three with zero assignment state to store or join.  The
    SRM numerator ``(2n − N)²`` is the exact-integer core of the χ²
    sample-ratio test against the designed 50/50 split (divide by N
    off-engine for the statistic).

    Scale: pure map-side hashing (JVM md5 in codegen) + one
    (type, variant) aggregation; the SRM window runs over the tiny
    aggregate, never the events.
    """
    ev = keyed_events(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp42:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    v = ev.select(
        "event_type",
        F.when(bucket < 50, "control").otherwise("treatment").alias("variant"),
    ).groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    total = F.sum("n").over(w)
    return v.select(
        "event_type",
        "variant",
        F.col("n").cast("bigint").alias("n_events"),
        total.cast("bigint").alias("type_total"),
        ((2 * F.col("n") - total) * (2 * F.col("n") - total))
        .cast("bigint")
        .alias("srm_num"),
    )


#: Holt-Winters recursive-CTE state update, templated once so the SQL
#: and the Python loop can't drift.  Integer dynamics with TRUNCATING
#: division (DuckDB's `//` truncates toward zero; the Python twin uses
#: the matching tdiv), alpha=2/8, beta=1/8, gamma=2/8, period 7.
_HW_SOLD = (
    "(CASE ((h.t + 1) % 7) WHEN 0 THEN h.s0 WHEN 1 THEN h.s1 "
    "WHEN 2 THEN h.s2 WHEN 3 THEN h.s3 WHEN 4 THEN h.s4 "
    "WHEN 5 THEN h.s5 ELSE h.s6 END)"
)
_HW_LNEW = f"((2 * (i.y - {_HW_SOLD}) + 6 * (h.l + h.b)) // 8)"
_HW_BNEW = f"((({_HW_LNEW}) - h.l + 7 * h.b) // 8)"
_HW_SNEW = f"((2 * (i.y - ({_HW_LNEW})) + 6 * {_HW_SOLD}) // 8)"
_HW_SCOLS = ", ".join(
    f"CASE WHEN (h.t + 1) % 7 = {k} THEN {_HW_SNEW} ELSE h.s{k} END AS s{k}"
    for k in range(7)
)


@register(
    "evt_holt_winters_check",
    oracle=f"""
    WITH RECURSIVE
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)),
    idx AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               - 1 AS t,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM daily),
    hw AS (
      SELECT i0.event_type, 0 AS t, i0.n,
             i0.y AS l, i1.y - i0.y AS b,
             CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS s1,
             CAST(0 AS BIGINT) AS s2, CAST(0 AS BIGINT) AS s3,
             CAST(0 AS BIGINT) AS s4, CAST(0 AS BIGINT) AS s5,
             CAST(0 AS BIGINT) AS s6
      FROM idx i0
      JOIN idx i1 ON i1.event_type = i0.event_type AND i1.t = 1
      WHERE i0.t = 0
      UNION ALL
      SELECT h.event_type, h.t + 1, h.n,
             {_HW_LNEW} AS l, {_HW_BNEW} AS b,
             {_HW_SCOLS}
      FROM hw h
      JOIN idx i ON i.event_type = h.event_type AND i.t = h.t + 1
      WHERE h.t + 1 <= h.n - 1),
    last AS (SELECT * FROM hw WHERE t = n - 1)
    SELECT event_type, CAST(slot AS BIGINT) AS slot,
           CAST(val AS BIGINT) AS val
    FROM (
      SELECT event_type, 0 AS slot, s0 AS val FROM last
      UNION ALL SELECT event_type, 1, s1 FROM last
      UNION ALL SELECT event_type, 2, s2 FROM last
      UNION ALL SELECT event_type, 3, s3 FROM last
      UNION ALL SELECT event_type, 4, s4 FROM last
      UNION ALL SELECT event_type, 5, s5 FROM last
      UNION ALL SELECT event_type, 6, s6 FROM last
      UNION ALL SELECT event_type, 7, l FROM last
      UNION ALL SELECT event_type, 8, b FROM last)
    """,
    description="additive Holt-Winters (level/trend/7-day seasonal) "
    "with exact truncating-integer dynamics over per-type daily sums; "
    "final state unpivoted to (slot, val) — oracle replays the "
    "recursion one day per recursive-CTE step from a shared SQL "
    "template",
    tags=("events", "timeseries", "forecast"),
)
def evt_holt_winters_check(spark, sf_dir):
    """Triple exponential smoothing, oracle-paired.

    Completes the smoothing family (EWMA → Holt → Holt-Winters) with
    the seasonal component.  The recursion is loop-carried with
    coupled level/trend/seasonal state — no prefix identity exists (cf.
    the CUSUM twin, which has one) — so the engine runs it per series
    inside ``applyInPandas`` after a JVM daily aggregation; the frame
    crossing the Arrow seam is days × types, not raw events.

    Determinism: all state is int64 cents with division TRUNCATING
    toward zero (matching DuckDB's ``//``); the update expressions are
    rendered from one module-level template used verbatim by the
    oracle, so the two sides cannot drift.  alpha=2/8, beta=1/8,
    gamma=2/8, seasonal period 7 (day-of-week).
    """
    import pandas as pd

    def tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum("value_c").cast("bigint").alias("y"))

    def _hw(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day").reset_index(drop=True)
        y = [int(v) for v in pdf["y"]]
        et = pdf["event_type"].iloc[0]
        l, b = y[0], y[1] - y[0]
        s = [0] * 7
        for tt in range(1, len(y)):
            s_old = s[tt % 7]
            l_new = tdiv(2 * (y[tt] - s_old) + 6 * (l + b), 8)
            b_new = tdiv((l_new - l) + 7 * b, 8)
            s[tt % 7] = tdiv(2 * (y[tt] - l_new) + 6 * s_old, 8)
            l, b = l_new, b_new
        return pd.DataFrame(
            {
                "event_type": et,
                "slot": list(range(9)),
                "val": s + [l, b],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        _hw, schema="event_type string, slot long, val long"
    )


@register(
    "evt_compaction_plan",
    oracle="""
    WITH files AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS rows_
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    planned AS (
      SELECT event_type, day, rows_,
             coalesce(sum(rows_) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // 800 AS bin
      FROM files)
    SELECT event_type, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(rows_) AS BIGINT) AS total_rows,
           min(day) AS min_day, max(day) AS max_day
    FROM planned GROUP BY event_type, bin
    """,
    description="small-files compaction plan: per (event_type, day) "
    "pseudo-files packed into ~800-row bins by day-ordered running "
    "sum (time-adjacent merges preserve clustering), with per-bin "
    "zone-map bounds",
    tags=("events", "layout", "optimize"),
)
def evt_compaction_plan(spark, sf_dir):
    """OPTIMIZE-style small-file compaction planner.

    Daily-partitioned event tables accumulate one small file per
    (type, day); readers then pay per-file open cost and lose scan
    parallelism granularity.  The plan packs ADJACENT days (ordered
    running sum, exclusive, floor-divided by the target) so compaction
    preserves time clustering and each output bin's (min_day, max_day)
    zone map stays tight — the same planning rule AQE uses to coalesce
    shuffle partitions, applied to table maintenance.

    Scale: one (type, day) aggregation, one PARTITIONED cumulative
    window (never global), one bin aggregation.  The plan frame is
    days × types — the executor would then rewrite each bin's files
    with a targeted read, never a full-table shuffle.
    """
    files = keyed_events(spark, sf_dir).groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("rows_"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.withColumn(
        "bin",
        F.floor(
            F.coalesce(F.sum("rows_").over(w), F.lit(0)) / F.lit(800)
        ),
    )
    return planned.groupBy(
        "event_type", F.col("bin").cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("rows_").cast("bigint").alias("total_rows"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
    )


#: Exact-integer LTTB triangle-area comparator, shared by both engines:
#: prev selected (ta, va), candidate (tp, vp), next-bucket centroid kept
#: as integer sums (st, sv, n) — the true area × 2n, so comparisons are
#: exact.  SQL text and the Python loop below implement the SAME form.
_LTTB_AREA_SQL = (
    "abs((s.tm * c.n - c.st) * (i{w}.v - s.v)"
    " - (s.tm - i{w}.tm) * (c.sv - s.v * c.n))"
)


@register(
    "evt_lttb_downsample",
    oracle=f"""
    WITH RECURSIVE
    raw AS (
      SELECT event_type,
             CAST(epoch_us(ts) AS BIGINT) AS us,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    base AS (
      SELECT event_type,
             (us - min(us) OVER (PARTITION BY event_type)) // 60000000
               AS tm,
             v,
             row_number() OVER (PARTITION BY event_type ORDER BY us, v)
               - 1 AS idx,
             count(*) OVER (PARTITION BY event_type) AS n_pts
      FROM raw),
    firstp AS (SELECT event_type, tm, v, idx FROM base WHERE idx = 0),
    lastp AS (SELECT event_type, tm, v, idx FROM base
              WHERE idx = n_pts - 1),
    interior AS (
      SELECT event_type, tm, v, idx,
             ((idx - 1) * 10) // (n_pts - 2) AS bucket
      FROM base WHERE idx >= 1 AND idx <= n_pts - 2),
    cent AS (
      SELECT event_type, bucket, sum(tm) AS st, sum(v) AS sv,
             count(*) AS n
      FROM interior GROUP BY event_type, bucket),
    nextc AS (
      SELECT event_type, bucket - 1 AS k, st, sv, n
      FROM cent WHERE bucket >= 1
      UNION ALL
      SELECT event_type, 9, tm, v, 1 FROM lastp),
    sel AS (
      SELECT event_type, -1 AS k, tm, v, idx FROM firstp
      UNION ALL
      SELECT i.event_type, s.k + 1, i.tm, i.v, i.idx
      FROM sel s
      JOIN interior i
        ON i.event_type = s.event_type AND i.bucket = s.k + 1
      JOIN nextc c
        ON c.event_type = s.event_type AND c.k = s.k + 1
      WHERE s.k < 9 AND NOT EXISTS (
        SELECT 1 FROM interior i2
        WHERE i2.event_type = i.event_type AND i2.bucket = i.bucket
          AND ({_LTTB_AREA_SQL.format(w='2')}
                 > {_LTTB_AREA_SQL.format(w='')}
               OR ({_LTTB_AREA_SQL.format(w='2')}
                     = {_LTTB_AREA_SQL.format(w='')}
                   AND i2.idx < i.idx))))
    SELECT event_type, CAST(tm AS BIGINT) AS tm,
           CAST(v AS BIGINT) AS value_c
    FROM (SELECT event_type, tm, v FROM sel
          UNION ALL SELECT event_type, tm, v FROM lastp)
    """,
    description="Largest-Triangle-Three-Buckets downsampling to 12 "
    "points per event_type series (TimescaleDB lttb parity), exact "
    "integer triangle areas; oracle walks the sequential selection as "
    "a recursive CTE with a NOT-EXISTS argmax per bucket",
    tags=("events", "timeseries", "downsample"),
)
def evt_lttb_downsample(spark, sf_dir):
    """LTTB (Steinarsson 2013) visual downsampling, per series.

    The standard dashboard downsampler (TimescaleDB ships it as
    ``lttb()``): keep first and last points, split the interior into
    equal-count buckets, and from each bucket keep the point forming
    the largest triangle with the PREVIOUSLY selected point and the
    NEXT bucket's centroid.  The selection is sequential by definition
    (each pick conditions the next), so it runs per-series inside
    ``applyInPandas`` — the scalable frame is (series × 12 points) out
    of millions of raw rows, and the corpus-scale work (ordering,
    bucketing) happens before the Python seam only in the sense of
    sort-within-group; nothing global.

    Determinism: timestamps are scaled to minute offsets from the
    series start and areas compared as exact int64 cross products
    (×2n, n = centroid count — bounds measured: <1e15 at sf1); ties
    break on the smaller point index.  Oracle replays the walk as a
    recursive CTE, one bucket per recursion step.
    """
    import pandas as pd

    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    raw = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.col("value_c").alias("v"),
    )

    def _lttb(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(["us", "v"]).reset_index(drop=True)
        tmin = int(pdf["us"].min())
        tm = ((pdf["us"].to_numpy() - tmin) // 60000000).astype(np.int64)
        v = pdf["v"].to_numpy().astype(np.int64)
        n = len(pdf)
        et = pdf["event_type"].iloc[0]
        if n <= 12:
            return pd.DataFrame(
                {"event_type": et, "tm": tm, "value_c": v}
            )
        nb = 10
        idx = np.arange(1, n - 1)
        bno = ((idx - 1) * nb) // (n - 2)
        # bucket boundaries in the (sorted) interior index space
        starts = np.searchsorted(bno, np.arange(nb), side="left") + 1
        ends = np.searchsorted(bno, np.arange(nb), side="right") + 1
        out = [(int(tm[0]), int(v[0]))]
        ta, va = int(tm[0]), int(v[0])
        for k in range(nb):
            if k < nb - 1:
                lo, hi = starts[k + 1], ends[k + 1]
                st = int(tm[lo:hi].sum())
                sv = int(v[lo:hi].sum())
                cn = int(hi - lo)
            else:
                st, sv, cn = int(tm[n - 1]), int(v[n - 1]), 1
            lo, hi = starts[k], ends[k]
            # vectorized exact-int64 areas (bounds ~1e15, no overflow);
            # np.argmax takes the FIRST max — ascending index order, so
            # ties resolve to the smaller idx like the oracle
            area = np.abs(
                (ta * cn - st) * (v[lo:hi] - va)
                - (ta - tm[lo:hi]) * (sv - va * cn)
            )
            i = lo + int(np.argmax(area))
            out.append((int(tm[i]), int(v[i])))
            ta, va = int(tm[i]), int(v[i])
        out.append((int(tm[n - 1]), int(v[n - 1])))
        return pd.DataFrame(
            {
                "event_type": et,
                "tm": [t for t, _ in out],
                "value_c": [x for _, x in out],
            }
        )

    return raw.groupBy("event_type").applyInPandas(
        _lttb, schema="event_type string, tm long, value_c long"
    )


#: SQL twin of ``sources.layout.morton_key`` for 2 dims × 8 bits
#: (x gets even bit positions, y odd) — the engine side reuses the
#: layout module's expression tree directly.
_MORTON_SQL = " + ".join(
    f"(((x >> {b}) & 1) << {2 * b}) + (((y >> {b}) & 1) << {2 * b + 1})"
    for b in range(8)
)


@register(
    "evt_zorder_layout",
    oracle=f"""
    WITH d AS (
      SELECT CAST(user_id % 256 AS BIGINT) AS x,
             CAST((hour(ts) * 60 + minute(ts)) // 6 AS BIGINT) AS y
      FROM events),
    m AS (
      SELECT x, y, CAST({_MORTON_SQL} AS BIGINT) AS morton FROM d)
    SELECT morton >> 8 AS file_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(x) AS BIGINT) AS min_x,
           CAST(max(x) AS BIGINT) AS max_x,
           CAST(min(y) AS BIGINT) AS min_y,
           CAST(max(y) AS BIGINT) AS max_y,
           CAST(max(x) - min(x) + max(y) - min(y) AS BIGINT) AS span_sum
    FROM m GROUP BY morton >> 8
    """,
    description="Z-order (Morton) clustering layout: 8x8-bit "
    "interleave of (user_id mod 256, time-of-day), 256 file buckets "
    "with per-bucket min/max zone maps — span_sum is the data-skipping "
    "effectiveness the layout buys",
    tags=("events", "layout", "optimize"),
)
def evt_zorder_layout(spark, sf_dir):
    """Z-order clustering key + zone-map report (Delta/Iceberg Z-ORDER).

    THE lakehouse physical-layout optimization: interleaving the bits
    of two filter dimensions makes file-level min/max zone maps tight
    in BOTH dimensions at once, so point/range predicates on either
    column prune most files — a linear sort gives one tight dimension
    and leaves the other spanning the full domain.  ``span_sum``
    aggregates exactly the quantity data skipping depends on (zone-map
    widths); on this layout each 256-row bucket covers a 16x16 tile of
    the (x, y) domain instead of a 1x240 stripe.

    Scale: the Morton code is pure JVM bit arithmetic in whole-stage
    codegen (no UDF); the report is ONE aggregation on the bucket key.
    A real table rewrite would ``repartitionByRange(morton)`` + write —
    the same expression feeds it.
    """
    ev = keyed_events(spark, sf_dir)
    x = (F.col("user_id") % 256).cast("long")
    y = (
        (F.hour("ts") * 60 + F.minute("ts")) / F.lit(6)
    ).cast("long")
    d = ev.select(x.alias("x"), y.alias("y"))
    from ..sources.layout import morton_key

    m = d.select(
        "x", "y", morton_key([F.col("x"), F.col("y")], 8).alias("morton")
    )
    return m.groupBy(
        F.shiftright("morton", 8).cast("bigint").alias("file_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("x").cast("bigint").alias("min_x"),
        F.max("x").cast("bigint").alias("max_x"),
        F.min("y").cast("bigint").alias("min_y"),
        F.max("y").cast("bigint").alias("max_y"),
        (F.max("x") - F.min("x") + F.max("y") - F.min("y"))
        .cast("bigint")
        .alias("span_sum"),
    )


@register(
    "evt_isotonic_calibration",
    oracle="""
    WITH agg AS (
      SELECT event_type,
             CAST(hour(ts) AS BIGINT) AS hour,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS w
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, hour(ts)),
    b AS (
      SELECT event_type, hour, s, w,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY hour) AS i
      FROM agg),
    p AS (
      SELECT event_type, i,
             sum(s) OVER (PARTITION BY event_type ORDER BY i) AS ps,
             sum(w) OVER (PARTITION BY event_type ORDER BY i) AS pw
      FROM b),
    rng AS (
      SELECT pk.event_type, jj.j, pk.i AS k,
             pk.ps - coalesce(pj.ps, 0) AS s,
             pk.pw - coalesce(pj.pw, 0) AS w
      FROM p pk
      JOIN (SELECT event_type, i AS j FROM b) jj
        ON jj.event_type = pk.event_type AND jj.j <= pk.i
      LEFT JOIN p pj
        ON pj.event_type = pk.event_type AND pj.i = jj.j - 1),
    inner_min AS (
      SELECT r.event_type, b.i, r.j, r.s, r.w,
             row_number() OVER (
               PARTITION BY r.event_type, b.i, r.j
               ORDER BY CAST(r.s AS DOUBLE) / r.w ASC, r.k ASC) AS rn
      FROM rng r
      JOIN b ON b.event_type = r.event_type
            AND r.j <= b.i AND b.i <= r.k),
    outer_max AS (
      SELECT event_type, i, s, w,
             row_number() OVER (
               PARTITION BY event_type, i
               ORDER BY CAST(s AS DOUBLE) / w DESC, j ASC) AS rn
      FROM inner_min WHERE rn = 1)
    SELECT o.event_type, b.hour,
           CAST((1000000 * o.s) // o.w AS BIGINT) AS fitted_micro
    FROM outer_max o
    JOIN b ON b.event_type = o.event_type AND b.i = o.i
    WHERE o.rn = 1
    """,
    description="weighted isotonic (PAV) calibration of mean value vs "
    "hour-of-day per event_type; oracle computes the equivalent "
    "minimax form max_{j<=i} min_{k>=i} avg(j..k) in O(n^3) SQL",
    tags=("events", "stats", "calibration"),
)
def evt_isotonic_calibration(spark, sf_dir):
    """Isotonic regression (pool-adjacent-violators) calibration curve.

    The standard score-calibration step (Zadrozny & Elkan 2002): fit
    the best non-decreasing approximation to mean value per hour-of-day
    bucket, weighted by bucket event counts.  The scalable shape is
    aggregate-then-fit: the corpus-scale work is ONE (event_type, hour)
    hash aggregation; PAV itself runs per event_type over the tiny
    bucket frame via ``applyInPandas`` with EXACT integer arithmetic
    (block averages compared by cross-multiplication, output as
    floor-divided micro units — no float drift anywhere).

    The oracle can't express the sequential PAV stack, so it computes
    the equivalent minimax characterization ``fit_i = max_{j<=i}
    min_{k>=i} avg(y_j..y_k)`` (equality to weighted PAV verified over
    300 randomized trials in development), selecting argmin/argmax
    ranges by float ratio but re-deriving the emitted value from the
    winning range's INTEGER sums — the float appears only as a
    comparator, where adjacent distinct fractions differ by
    >= 1/(w_a*w_b), orders of magnitude above double rounding at the
    test scales.
    """
    import pandas as pd

    ev = keyed_events(spark, sf_dir).filter(F.col("value").isNotNull())
    agg = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hour")
    ).agg(
        F.sum("value_c").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("w"),
    )

    def _pav(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("hour").reset_index(drop=True)
        blocks: list[tuple[int, int, int]] = []  # (sum, weight, n_pts)
        for s, w in zip(pdf["s"], pdf["w"]):
            s, w, n = int(s), int(w), 1
            # violation: prev_avg >= cur_avg  ⇔  ps*w >= s*pw
            while blocks and blocks[-1][0] * w >= s * blocks[-1][1]:
                ps, pw, pn = blocks.pop()
                s += ps
                w += pw
                n += pn
            blocks.append((s, w, n))
        fitted: list[int] = []
        for s, w, n in blocks:
            fitted.extend([(1000000 * s) // w] * n)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "hour": pdf["hour"],
                "fitted_micro": fitted,
            }
        )

    return agg.groupBy("event_type").applyInPandas(
        _pav, schema="event_type string, hour long, fitted_micro long"
    )


def _dupgraph_bfs_oracle() -> str:
    from .queries_ext import _SQL_MINHASH_AGGS, _SQL_SHINGLES

    return f"""
    WITH RECURSIVE {_SQL_SHINGLES},
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
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT s AS v FROM edges),
    seeds AS (
      SELECT v FROM nodes n
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.s = n.v AND e.d < n.v)),
    walk AS (
      SELECT v, 0 AS dist FROM seeds
      UNION
      SELECT e.d, w.dist + 1 FROM walk w JOIN edges e ON e.s = w.v
      WHERE w.dist < 3)
    SELECT v AS doc_id, CAST(min(dist) AS BIGINT) AS hops
    FROM walk GROUP BY v
    """


@register(
    "doc_dupgraph_bfs",
    oracle=_dupgraph_bfs_oracle(),
    description="multi-source BFS hop distances (cap 3) from every "
    "local-minimum node over the LSH candidate-pair dup-graph; oracle "
    "is a recursive CTE with distinct (node, dist) states",
    tags=("documents", "dedup", "graph", "iterative"),
)
def doc_dupgraph_bfs(spark, sf_dir):
    """Breadth-first hop distances over the near-duplicate graph.

    Dup-graph neighborhoods answer "how far does this contamination
    cluster reach?" — the same iterative shape as the CC dedup
    clustering, but distance-labelled.  Edges are the LSH banded
    candidate pairs (map-side minhash signatures → band equi-join —
    never all-pairs), symmetrized; BFS runs MULTI-SOURCE from every
    local-minimum node (no neighbor with a smaller id — each
    component's natural roots), so one pass labels the whole graph.

    The pairs are checkpointed eagerly and counted once, and the count
    picks the path (:func:`..operators.dedup.dupgraph_hops`):
    - at most ``LOCAL_GRAPH_MAX_PAIRS`` pairs (the bound it shares
      with ``dedup_clusters``; every registry scale factor is below
      it: 32 pairs at sf0.01, 829 at sf0.1), one single-partition
      pandas BFS. It adds no exchange and runs no Spark job while the
      plan is built; three checkpointed rounds would launch about
      twelve there to walk a graph one worker holds in well under a MB;
    - above it, three distributed rounds (edge join + min-dist
      aggregate, one co-partitioned shuffle each).

    The 3-hop cap bounds work AND makes the oracle's recursive CTE
    (distinct (node, dist) states) terminate.
    """
    from ..operators.dedup import (
        dupgraph_hops,
        lsh_candidate_pairs,
        minhash_signatures_mapside,
    )

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    sig = minhash_signatures_mapside(docs, n=3, num_hashes=8)
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2).localCheckpoint()
    return dupgraph_hops(pairs)


@register(
    "doc_suffix_ranks",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                    1, 40) AS s
      FROM documents WHERE doc_id < 32),
    pos AS (
      SELECT doc_id, s, unnest(range(0, length(s))) AS p FROM d),
    suf AS (SELECT doc_id, p, substr(s, p + 1) AS suffix FROM pos)
    SELECT doc_id,
           CAST(p AS BIGINT) AS pos,
           CAST(dense_rank() OVER (ORDER BY suffix) AS BIGINT)
             AS suffix_rank
    FROM suf
    """,
    description="suffix-array ranks by prefix doubling (Manber-Myers, "
    "distributed as log(n) sort+rank rounds); oracle sorts the suffix "
    "strings directly — equal ranks iff equal suffixes",
    tags=("documents", "text", "dedup", "iterative"),
)
def doc_suffix_ranks(spark, sf_dir):
    """Distributed suffix-array construction by prefix doubling.

    Suffix arrays are the machinery behind exact-substring training-data
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): duplicate spans are adjacent in suffix order.  A
    100 TB corpus can't sort suffix STRINGS (quadratic bytes); the
    Manber–Myers prefix-doubling scheme sorts fixed-size integer pairs
    for log(maxlen) rounds instead:

      rank_0[i]   = char code at i
      rank_2k[i]  = dense-rank of (rank_k[i], rank_k[i+k] or -1)

    Each round is (a) a per-doc ``lead(rank, k)`` window — suffixes
    never cross documents, so the window is PARTITIONED by doc_id, no
    global window — and (b) a distributed dense rank over distinct
    pairs: ``sortBy + zipWithIndex`` (range-partitioned sort, the
    canonical cluster-side rank assignment) joined back on the pair.
    Rounds are data-independent (fixed k schedule), plans stay bounded.

    The -1 sentinel for past-the-end reproduces binary string collation
    ("ab" < "abc"); equal full suffixes share a rank, matching the
    oracle's dense_rank over the suffix strings.  Input is capped
    (doc_id < 32, first 40 chars) to keep the demo's oracle quadratic
    in kilobytes, not the algorithm — the Spark side never materializes
    a suffix string.
    """
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 32)
    s = F.substring(
        F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), 1, 40
    )
    chars = docs.select(
        "doc_id", F.posexplode(F.split(s, "")).alias("pos", "ch")
    ).filter(F.col("ch") != "")

    from pyspark.sql import Window

    # Round k=1 FUSED into the initial ranking (r14, guide §2.4 —
    # remove a whole sort round): intermediate prefix-doubling rounds
    # only need ORDER-ISOMORPHIC ranks, not dense ones, and round 1's
    # pair components are raw code points with a DATA-INDEPENDENT bound
    # (max Unicode code point 0x10FFFF = 1114111) — so
    #   rank_1[i] = code[i]·1114113 + (code[i+1]+1, or 0 past the end)
    # encodes (code[i], code[i+1]-or-sentinel) order-exactly in one
    # per-doc window expression (max ≈ 1.24e12, well inside long), and
    # the first sortBy+zipWithIndex round disappears (6 → 5 rounds).
    # Later rounds' rank values are data-bounded (≤ #distinct pairs),
    # so the same fusion there would cap the corpus size — not taken.
    # The OUTPUT rank comes from the final round's dense rank exactly
    # as before; every later round sees the same pair ORDER, so every
    # dense ranking from k=2 on is bit-identical to the 6-round form.
    w0 = Window.partitionBy("doc_id").orderBy("pos")
    code = F.ascii("ch").cast("long")
    cur = chars.select(
        "doc_id",
        "pos",
        (
            code * F.lit(1114113)
            + F.coalesce(F.lead(code, 1).over(w0) + 1, F.lit(0))
        ).alias("rank"),
    )

    k = 2
    while k < 40:
        w = Window.partitionBy("doc_id").orderBy("pos")
        paired = cur.select(
            "doc_id",
            "pos",
            F.col("rank").alias("r1"),
            F.coalesce(F.lead("rank", k).over(w), F.lit(-1)).alias("r2"),
        )
        # distributed dense rank of (r1, r2): range-partitioned sort +
        # zipWithIndex on the DISTINCT pair set, joined back — no
        # single-partition window anywhere.
        ranked = (
            paired.select("r1", "r2")
            .distinct()
            .rdd.map(lambda r: (r["r1"], r["r2"]))
            .sortBy(lambda x: x)
            .zipWithIndex()
            .map(lambda ti: (ti[0][0], ti[0][1], ti[1] + 1))
        )
        rankdf = spark.createDataFrame(ranked, "r1 long, r2 long, nr long")
        cur = paired.join(rankdf, ["r1", "r2"]).select(
            "doc_id", "pos", F.col("nr").alias("rank")
        )
        # truncate lineage so the plan doesn't grow with rounds
        cur = cur.localCheckpoint(eager=False)
        k *= 2
    return cur.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("rank").cast("bigint").alias("suffix_rank"),
    )


#: WordPiece vocab shared by the Spark segmenter and the DuckDB oracle:
#: every base-corpus character as word-initial AND ``##`` continuation
#: piece (char fallback ⇒ in-alphabet words always segment; anything
#: else is [UNK]), plus multi-char merges so
#: greedy longest-match-first segmentation is non-trivial.
_WP_CHARS = "abcdefghijklmnopqrstuvwy"
_WP_MERGES = [
    "ta", "sc", "sp", "val", "wind", "me", "gr", "cust", "qu", "str",
    "fil", "ba", "jo", "ord",
    "##ble", "##an", "##ue", "##ark", "##ow", "##rge", "##oup", "##omer",
    "##ery", "##eam", "##ter", "##tch", "##in", "##er", "##lumn", "##ta",
    "##sh", "##rt",
]
#: (piece, raw_text, is_continuation)
_WP_VOCAB = (
    [(c, c, False) for c in _WP_CHARS]
    + [("##" + c, c, True) for c in _WP_CHARS]
    + [
        (p, p[2:] if p.startswith("##") else p, p.startswith("##"))
        for p in _WP_MERGES
    ]
)

_WP_VALUES = ", ".join(
    f"('{p}', '{raw}', {str(cont).lower()})" for p, raw, cont in _WP_VOCAB
)

_WP_ORACLE = rf"""
    WITH RECURSIVE
    vocab(piece, raw, cont) AS (VALUES {_WP_VALUES}),
    toks AS (
      SELECT unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
               AS tok
      FROM documents),
    wc AS (SELECT tok AS w, count(*) AS n FROM toks
           WHERE tok <> '' GROUP BY tok),
    words AS (SELECT w FROM wc
              WHERE regexp_matches(w, '^[{_WP_CHARS}]+$')),
    seg AS (
      SELECT w.w, length(v.raw) AS consumed, v.piece
      FROM words w JOIN vocab v
        ON NOT v.cont AND substr(w.w, 1, length(v.raw)) = v.raw
      WHERE NOT EXISTS (
        SELECT 1 FROM vocab v2
        WHERE NOT v2.cont AND length(v2.raw) > length(v.raw)
          AND substr(w.w, 1, length(v2.raw)) = v2.raw)
      UNION ALL
      SELECT s.w, s.consumed + length(v.raw), v.piece
      FROM seg s JOIN vocab v
        ON v.cont
       AND substr(s.w, s.consumed + 1, length(v.raw)) = v.raw
      WHERE s.consumed < length(s.w)
        AND NOT EXISTS (
          SELECT 1 FROM vocab v2
          WHERE v2.cont AND length(v2.raw) > length(v.raw)
            AND substr(s.w, s.consumed + 1, length(v2.raw)) = v2.raw))
    SELECT piece, CAST(sum(n) AS BIGINT) AS n_tokens
    FROM (
      SELECT s.piece, wc.n FROM seg s JOIN wc ON wc.w = s.w
      UNION ALL
      SELECT '[UNK]' AS piece, n FROM wc
      WHERE NOT regexp_matches(w, '^[{_WP_CHARS}]+$'))
    GROUP BY piece
    """


@register(
    "doc_wordpiece_segment",
    oracle=_WP_ORACLE,
    description="greedy longest-match-first WordPiece segmentation over "
    "a literal vocab (char fallback; out-of-alphabet words -> [UNK]); "
    "corpus-weighted piece "
    "counts; oracle replays the greedy walk as a recursive CTE with a "
    "NOT-EXISTS longest-match argmax",
    tags=("documents", "text", "tokenize"),
)
def doc_wordpiece_segment(spark, sf_dir):
    """WordPiece (BERT-style) subword segmentation, corpus-weighted.

    The scalable shape for subword tokenization over a 100 TB corpus:
    segment each DISTINCT word once (the distinct-word frame is tiny —
    Zipf's law caps it in the millions while token occurrences run to
    trillions), then join piece sequences back onto the word-count
    aggregate.  The greedy longest-match loop is per-word sequential by
    definition, so it runs as an Arrow-batched ``mapInPandas`` over the
    distinct-word frame — the token-scale work stays JVM-side (split /
    explode / count).

    Matches the reference WordPiece algorithm (Wu et al. 2016): at each
    position take the LONGEST vocab piece (word-initial pieces at
    pos 0, ``##`` continuations after); a word containing any
    out-of-alphabet character becomes a single ``[UNK]`` token — with
    the char fallback this is exactly the in-alphabet/complement split,
    so the oracle detects it with one character-class regex.
    """
    import pandas as pd

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
            )
        ).alias("tok")
    ).filter(F.col("tok") != "")
    wc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))

    vocab = _WP_VOCAB  # capture for the closure (no driver refs inside)

    charset = set(_WP_CHARS)

    def _segment(batches):
        for pdf in batches:
            pieces, counts = [], []
            for w, n in zip(pdf["tok"], pdf["n"]):
                # standard WordPiece UNK rule: any out-of-alphabet char
                # makes the WHOLE word [UNK] (the char fallback keeps
                # in-alphabet words always segmentable)
                if not set(w) <= charset:
                    pieces.append("[UNK]")
                    counts.append(int(n))
                    continue
                pos = 0
                while pos < len(w):
                    best = None
                    for piece, raw, cont in vocab:
                        if cont != (pos > 0):
                            continue
                        if w.startswith(raw, pos) and (
                            best is None or len(raw) > len(best[1])
                        ):
                            best = (piece, raw)
                    pos += len(best[1])
                    pieces.append(best[0])
                    counts.append(int(n))
            if pieces:
                yield pd.DataFrame({"piece": pieces, "n": counts})

    seg = wc.mapInPandas(_segment, schema="piece string, n long")
    return seg.groupBy("piece").agg(
        F.sum("n").cast("bigint").alias("n_tokens")
    )


@register(
    "evt_cuped_adjustment",
    oracle="""
    WITH u AS (
      SELECT event_type, user_id,
             CAST(sum(CASE WHEN event_id % 2 = 0
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_id % 2 = 1
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events
      WHERE value IS NOT NULL AND value > 0
      GROUP BY event_type, user_id)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT)
             AS theta_num,
           CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT)
             AS theta_den
    FROM u
    GROUP BY event_type
    """,
    description="CUPED variance-reduction components per event_type: "
    "exact integer regression moments (theta = theta_num / theta_den) "
    "from per-user covariate/metric sums",
    tags=("events", "experiment", "stats"),
)
def evt_cuped_adjustment(spark, sf_dir):
    """CUPED (Controlled-experiment Using Pre-Experiment Data) pieces.

    Per user the covariate ``x`` (pre-period proxy: even event_ids) and
    metric ``y`` (odd event_ids) are exact cent sums; per event_type we
    emit the integer regression moments from which
    ``theta = cov(x,y)/var(x) = theta_num/theta_den`` and the adjusted
    metric follow.  Keeping the output in integer numerator/denominator
    form (not a float ratio) is what makes the result engine-portable.

    Scale: two hash aggregations — (event_type, user_id) then
    (event_type) — both map-side combinable; no window, no join.  The
    int64 moments hold through ~sf1 (n·sxy ≈ 2.5e17 measured); a
    100 TB run widens the moment columns to DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB), a type change only.
    """
    ev = keyed_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    u = ev.groupBy("event_type", "user_id").agg(
        F.sum(
            F.when(F.col("event_id") % 2 == 0, F.col("value_c")).otherwise(0)
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(F.col("event_id") % 2 == 1, F.col("value_c")).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    )
    n = F.count(F.lit(1)).cast("bigint")
    return u.groupBy("event_type").agg(
        n.alias("n_users"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
        .cast("bigint")
        .alias("theta_num"),
        (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        .cast("bigint")
        .alias("theta_den"),
    )
