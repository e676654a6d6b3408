"""Text analysis operators over the ``documents`` table (engine
extension: language-ID, quality scoring, token counting, fingerprinting).

All pure column expressions — tokenization is regex split, scoring is
arithmetic over token arrays. Map-only at any scale (no shuffle unless
the caller aggregates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny English stopword list for the n-gram/stopword heuristics.
EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens(text_col: Column | str) -> Column:
    """Whitespace tokenization of normalized text."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "), " ")


def token_count(text_col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: Column | str) -> Column:
    """BPE-ish sub-word proxy: count of word/number/punct fragments via
    regex (the classic GPT-2 pre-tokenizer shape, simplified)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    parts = F.split(c, r"(?=\s)|(?<=\s)|(?=[^\w\s])|(?<=[^\w\s])")
    return F.size(F.filter(parts, lambda p: F.trim(p) != ""))


def stopword_ratio(text_col: Column | str) -> Column:
    toks = tokens(text_col)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def mean_word_len(text_col: Column | str) -> Column:
    toks = tokens(text_col)
    total = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def quality_score(text_col: Column | str) -> Column:
    """Composite document quality heuristic in [0,1]: rewards
    mid-length docs with low punctuation noise and a natural stopword
    ratio. Deterministic arithmetic only."""
    n_tok = token_count(text_col).cast("double")
    length_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    stop = stopword_ratio(text_col)
    stop_score = F.lit(1.0) - F.abs(stop - F.lit(0.15)) / F.lit(0.85)
    punct_score = F.lit(1.0) - F.least(punct_ratio(text_col) * 5, F.lit(1.0))
    return F.round((length_score + stop_score + punct_score) / 3, 6)


def predict_lang(text_col: Column | str) -> Column:
    """Language-ID heuristic: 'en' when enough known-English stopwords
    appear, else 'other'. (A production n-gram model drops in behind the
    same column signature.)"""
    toks = tokens(text_col)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return F.when(n_stop >= 1, F.lit("en")).otherwise(F.lit("other"))


def fingerprint(text_col: Column | str) -> Column:
    """Document fingerprint: md5 of case/whitespace-normalized text
    (rolling-hash stand-in; engine-portable for the oracle)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def corpus_verdict(
    text_col: Column | str = "text", lang_col: Column | str = "lang"
) -> Column:
    """C4-style keep/drop verdict (first matching rule wins) — shared by
    the batch corpus filter and its streaming twin; a pure Column
    expression, so the identical logic runs in both execution modes."""
    lang = F.col(lang_col) if isinstance(lang_col, str) else lang_col
    n_tok = token_count(text_col)
    return (
        F.when(lang != "en", "non_english")
        .when(n_tok < 15, "too_short")
        .when(n_tok > 90, "too_long")
        .when(stopword_ratio(text_col) < 0.02, "low_stopword")
        .when(quality_score(text_col) < 0.75, "low_quality")
        .otherwise("kept")
    )


def top_terms_udtf():
    """Python UDTF (SURVEY §2.10's table-function seam): per input row,
    emit the row's top-3 terms as (term, n, rnk) rows — used via
    ``df.lateralJoin(TopTerms(F.col("text").outer()))`` or SQL
    ``LATERAL top_terms(text)``.

    PERF CONTRACT: UDTFs are row-at-a-time Python — the SLOW path. This
    exists for API-surface parity (a user porting a table function needs
    the seam); the equivalent set-oriented plan (explode → count →
    rank, see ``doc_tfidf_top_terms``) is the form to use in hot paths.
    The tie-break (count desc, term asc) matches the relational oracle
    exactly, keeping even the slow path differential-checkable.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="term string, n bigint, rnk bigint")
    class TopTerms:
        def eval(self, text):
            import re
            from collections import Counter

            if text is None:
                return
            toks = [
                w
                for w in re.sub(r"\s+", " ", text.strip().lower()).split(" ")
                if w
            ]
            best = sorted(Counter(toks).items(), key=lambda kv: (-kv[1], kv[0]))[:3]
            for i, (w, c) in enumerate(best):
                yield (w, int(c), i + 1)

    return TopTerms


#: Engine-portable PII patterns (valid in both Java regex and RE2, so the
#: Spark path and the DuckDB oracle scrub identically). Deliberately
#: conservative — production scrubbers layer many more patterns; the
#: operator shape (count-then-replace, one map-only pass) is what scales.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]+",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_scrub(
    df: DataFrame, text_col: str = "text", patterns: dict[str, str] | None = None
) -> DataFrame:
    """Redact PII patterns from ``text_col`` (→ ``<EMAIL>``-style tokens)
    and count per-pattern hits — the standard pre-training scrub pass
    (emails/phones/IPs out before the corpus is frozen).

    Map-only: per row, one ``regexp_extract_all`` (count) + one
    ``regexp_replace`` (redact) per pattern, all JVM regex — no shuffle,
    no Python, linear in corpus bytes at any scale. Adds
    ``n_<name>`` count columns and replaces ``text_col`` with the
    scrubbed text.
    """
    pats = patterns or PII_PATTERNS
    out = df
    scrubbed = F.col(text_col)
    for name, pat in pats.items():
        out = out.withColumn(
            f"n_{name}", F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0))
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return out.withColumn(text_col, scrubbed)


def pack_sequences(
    df: DataFrame,
    max_tokens: int = 128,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy streaming sequence packing: assign each document to a
    fixed-capacity token bin (``pack_id``) within its ``group_col``
    shard — the batching step that turns a document corpus into
    training sequences without padding waste.

    The running token count is a window cumsum ordered by ``id_col``
    WITHIN each group; ``pack_id = floor(tokens_before / max_tokens)``.
    This is the streaming approximation (a doc can straddle a bin
    boundary — real packers split or truncate the straddler; bin
    assignment is identical), chosen because it is one window over the
    group shard: no global sort, no driver state. At 100 TB the group
    (source/shard/stream) is the parallelism unit — same shape real
    packing jobs use; a single global packing order would serialize the
    corpus and is deliberately not offered.
    """
    from pyspark.sql import Window

    n_tok = token_count(text_col).cast("bigint")
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("tokens_before", before)
        .select(
            id_col,
            group_col,
            "n_tokens",
            F.floor(F.col("tokens_before") / max_tokens).cast("bigint").alias("pack_id"),
            (F.col("tokens_before") % max_tokens).cast("bigint").alias("pack_offset"),
        )
    )


def build_postings(
    df, text_col: str = "text", id_col: str = "doc_id", normalize: bool = False
):
    """Materializable positional postings table ``(term, doc, pos)`` —
    the serving-scale index behind phrase/proximity search: persisted
    (ideally bucketed by term, sources.bucketed.write_bucketed), term
    filters prune the scan and the corpus text is never re-read.

    ``doc_phrase_search`` computes the same adjacency with lead() at
    query time; that wins for ad-hoc one-off queries (one corpus scan),
    the postings table wins as soon as more than one search runs.

    Tokenization must match the query path: the default (raw split on
    single spaces) is byte-identical to ``doc_phrase_search``'s
    ``F.split(text, ' ')``, so the two produce the same terms AND the
    same positions on ANY text. ``normalize=True`` switches to
    :func:`tokens` (lowercase, trim, whitespace-collapse) — use it only
    when every query against the index normalizes the same way;
    positions then refer to the normalized stream and adjacency can
    differ from the raw path on uppercase/ragged-whitespace text.
    """
    from pyspark.sql import functions as F

    toks = tokens(text_col) if normalize else F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col),
        F.posexplode(toks).alias("pos", "term"),
    ).filter(F.col("term") != "")


def phrase_search_postings(postings, w1: str, w2: str):
    """Exact 2-word phrase search against a postings table: equi-join
    the two term posting lists on (doc, adjacent position) — both
    filters push down to the (bucketed) scan, and the join is
    co-partitioned when the table is bucketed by term's doc column.
    Returns (doc_id, n_occ) — identical to ``doc_phrase_search`` when
    the index was built with the default (raw-split) tokenization.
    """
    from pyspark.sql import functions as F

    p1 = postings.filter(F.col("term") == w1).select(
        "doc_id", (F.col("pos") + 1).alias("nxt")
    )
    p2 = postings.filter(F.col("term") == w2).select(
        "doc_id", F.col("pos").alias("nxt")
    )
    return (
        p1.join(p2, ["doc_id", "nxt"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    )
