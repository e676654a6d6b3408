"""Round-8 batch f: span-corruption training-data transform.

``doc_span_corruption`` — the T5-style denoising objective builder:
deterministic ~1/7 of token positions start a 3-token mask span
(md5-derived, so both engines and every rerun pick identical spans),
overlapping spans merge, the INPUT text collapses each masked run to a
single sentinel and the TARGET text carries the masked-out tokens with
sentinels at span starts. The whole transform is map-side array
arithmetic per document — the shape a 100 TB pretraining corpus job
needs (no shuffle at all; outputs partition like their inputs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import fan_out, t
from .registry import register


@register(
    "doc_span_corruption",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
               w -> w <> '') AS tk
      FROM documents),
    trig AS (
      SELECT doc_id, tk,
             list_transform(range(1, len(tk) + 1), i ->
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
                                      || CAST(i AS VARCHAR)), 1, 4))::BIGINT
               % 7 = 0) AS tg
      FROM toks),
    msk AS (
      SELECT doc_id, tk, tg,
             list_transform(range(1, len(tk) + 1), i ->
               tg[i] OR (i >= 2 AND tg[i - 1])
                     OR (i >= 3 AND tg[i - 2])) AS mk
      FROM trig),
    st AS (
      SELECT doc_id, tk, mk,
             list_transform(range(1, len(tk) + 1), i ->
               mk[i] AND (i = 1 OR NOT mk[i - 1])) AS sp
      FROM msk)
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(sp, x -> x)) AS BIGINT) AS n_spans,
           CAST(len(list_filter(mk, x -> x)) AS BIGINT) AS n_masked,
           coalesce(array_to_string(
             list_filter(
               list_transform(range(1, len(tk) + 1), i ->
                 CASE WHEN NOT mk[i] THEN tk[i]
                      WHEN sp[i] THEN '<X>' END),
               x -> x IS NOT NULL), ' '), '') AS masked_text,
           coalesce(array_to_string(
             list_filter(
               list_transform(range(1, len(tk) + 1), i ->
                 CASE WHEN NOT mk[i] THEN NULL
                      WHEN sp[i] THEN '<X> ' || tk[i]
                      ELSE tk[i] END),
               x -> x IS NOT NULL), ' '), '') AS target_text
    FROM st
    """,
    description=(
        "T5-style span corruption — the denoising-objective builder a "
        "pretraining pipeline runs over the whole corpus: ~1/7 of "
        "token positions deterministically start a 3-token mask span "
        "(md5(doc_id:pos) windows, engine-portable and reproducible "
        "run to run — a seeded RNG would not be), overlapping spans "
        "merge, the input collapses each masked run to one sentinel "
        "and the target carries the masked tokens with sentinels at "
        "span starts (single-sentinel prefix-LM form; per-span "
        "numbered sentinels are a consumer-side enumeration). The "
        "ENTIRE transform is per-row array arithmetic — zero "
        "shuffles, outputs partition like inputs — the only shape "
        "that survives a 100 TB corpus. Both full output strings are "
        "value-hashed by the gate, so tokenization, span placement, "
        "merging, and reassembly are all pinned cross-engine"
    ),
    tags=("documents", "text", "training"),
)
def doc_span_corruption(spark, sf_dir):
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    tk = F.expr(
        "filter(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' '),"
        " w -> w <> '')"
    )
    # the doc-id string is per row: projected here, not re-cast per token
    base = docs.select(
        "doc_id", tk.alias("tk"), F.col("doc_id").cast("string").alias("did")
    )
    idx = F.sequence(F.lit(1), F.size("tk"))
    trig = F.transform(
        idx,
        lambda i: F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("did"),
                        F.lit(":"),
                        i.cast("string"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % 7
        == 0,
    )
    t1 = base.select("doc_id", "tk", trig.alias("tg"))
    mk = F.transform(
        F.sequence(F.lit(1), F.size("tk")),
        lambda i: F.element_at("tg", i)
        | ((i >= 2) & F.coalesce(F.element_at("tg", i - 1), F.lit(False)))
        | ((i >= 3) & F.coalesce(F.element_at("tg", i - 2), F.lit(False))),
    )
    t2 = t1.select("doc_id", "tk", mk.alias("mk"))
    sp = F.transform(
        F.sequence(F.lit(1), F.size("tk")),
        lambda i: F.element_at("mk", i)
        & (
            (i == 1)
            | ~F.coalesce(F.element_at("mk", i - 1), F.lit(False))
        ),
    )
    t3 = t2.select("doc_id", "tk", "mk", sp.alias("sp"))
    seq = F.sequence(F.lit(1), F.size("tk"))
    masked_pieces = F.filter(
        F.transform(
            seq,
            lambda i: F.when(
                ~F.element_at("mk", i), F.element_at("tk", i)
            ).when(F.element_at("sp", i), F.lit("<X>")),
        ),
        lambda x: x.isNotNull(),
    )
    target_pieces = F.filter(
        F.transform(
            seq,
            lambda i: F.when(~F.element_at("mk", i), F.lit(None)).otherwise(
                F.when(
                    F.element_at("sp", i),
                    F.concat(F.lit("<X> "), F.element_at("tk", i)),
                ).otherwise(F.element_at("tk", i))
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return t3.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("n_tokens"),
        F.size(F.filter("sp", lambda x: x)).cast("bigint").alias("n_spans"),
        F.size(F.filter("mk", lambda x: x)).cast("bigint").alias("n_masked"),
        F.array_join(masked_pieces, " ").alias("masked_text"),
        F.array_join(target_pieces, " ").alias("target_text"),
    )
