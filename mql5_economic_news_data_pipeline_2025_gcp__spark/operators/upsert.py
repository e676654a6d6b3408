"""Natural-key upsert (reference S9: ``INSERT ... ON DUPLICATE KEY
UPDATE`` on UNIQUE(Date,Time,Currency,Event) — `SQL:20`, `PUSH:175-188`).

Spark-first design: Parquet has no in-place update, so upsert =
``unionByName(existing, incoming)`` → window dedup keeping the newest
version per natural key. Every upsert in the engine — this module's
batch and partition-pruned forms, ``sources.txn.merge_upsert`` and the
streaming ``foreachBatch`` merge built on it — ranks through the one
kernel :func:`_keep_newest`: incoming beats existing, then the recency
column, then tie columns.

Scale notes (100 TB): the dedup is one hash shuffle on the natural key —
the same cost profile as any wide agg. On a real deployment this is the
classic Delta/Iceberg ``MERGE INTO``; without those jars we keep the
union+window formulation, which AQE handles well under key skew. For
incremental loads, ``txn.merge_upsert`` rewrites only the partitions
that received keys and carries the rest by reference.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Natural dedup identity of the events table (reference SQL:20).
NATURAL_KEY = ["Date", "Time", "Currency", "Event"]


def _keep_newest(
    existing: DataFrame | None,
    incoming: DataFrame,
    key: Sequence[str],
    recency_col: str,
    tie_cols: Sequence[str],
) -> DataFrame:
    """Keep-newest-per-key over (existing ∪ incoming): incoming beats
    existing, then ``recency_col`` desc, then ``tie_cols`` desc make the
    winner deterministic when key+recency still collides. The same rank
    keeps the newest of several versions of one key inside the batch.
    With ``existing=None`` the batch is ranked alone, with no union."""
    unioned = incoming.withColumn("_pri", F.lit(1))
    if existing is not None:
        unioned = existing.withColumn("_pri", F.lit(0)).unionByName(unioned)
    w = Window.partitionBy(*key).orderBy(
        F.col("_pri").desc(),
        F.col(recency_col).desc(),
        *[F.col(c).desc() for c in tie_cols],
    )
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_pri", "_rn")
    )


def upsert(
    existing: DataFrame | None,
    incoming: DataFrame,
    key: Sequence[str] = tuple(NATURAL_KEY),
    recency_col: str = "event_ts",
) -> DataFrame:
    """Union + keep-newest-per-key. ``incoming`` beats ``existing`` on
    ties, and within a batch the LAST-delivered row wins — the sequential
    ``executemany`` upsert applies updates in delivery order, so a batch
    containing the same key twice ends with the later row's values. The
    delivery order is captured as ``monotonically_increasing_id()`` over
    the incoming scan (increasing in file/row order per split)."""
    inc = incoming.withColumn("_ingest_seq", F.monotonically_increasing_id())
    ex = (
        None
        if existing is None
        else existing.withColumn("_ingest_seq", F.lit(-1).cast("long"))
    )
    return _keep_newest(ex, inc, key, recency_col, ["_ingest_seq"]).drop(
        "_ingest_seq"
    )


# ------------------------------------------------------- partitioned merge
# S9 at 100 TB (`PUSH:175-188` semantics at scale): the monthly ingest
# batch touches a handful of partitions; rewriting the whole table (the
# plain union+window upsert above) re-shuffles and re-writes 100 TB to
# apply a few GB. The merge below prunes BOTH sides to the partitions
# actually present in the batch; ``txn.merge_upsert`` is its write side,
# carrying every untouched partition's files by reference.
#
# Precondition: the natural key must functionally determine the
# partition column (the reference's key contains Date; partition =
# month(Date)), so a key's versions can never span partitions and
# per-partition dedup IS the global dedup.

#: Hard cap on distinct partition values collected from a batch — a
#: monthly/daily ingest touches O(1..100) partitions; hitting this means
#: the caller passed a corpus, not a batch.
MAX_BATCH_PARTITIONS = 10_000


def _touched_partitions(incoming: DataFrame, partition_col) -> list:
    """Distinct ``partition_col`` values (a name or a Column) of the
    batch. At most ``MAX_BATCH_PARTITIONS + 1`` rows reach the driver;
    one more than the cap raises."""
    cap = MAX_BATCH_PARTITIONS
    vals = [
        r[0]
        for r in incoming.select(partition_col)
        .distinct()
        .limit(cap + 1)
        .collect()
    ]
    if len(vals) > cap:
        raise ValueError(
            f"incoming batch touches >{cap} distinct {partition_col!r} "
            "partitions — this is a table, not an incremental batch; "
            "use save_partitioned/save_replace instead"
        )
    return vals


def _partition_filter(partition_col: str, vals: list):
    cond = F.col(partition_col).isin([v for v in vals if v is not None])
    if any(v is None for v in vals):
        cond = cond | F.col(partition_col).isNull()
    return cond


def merge_upsert_partitioned(
    existing: DataFrame,
    incoming: DataFrame,
    key: Sequence[str] = tuple(NATURAL_KEY),
    recency_col: str = "event_ts",
    tie_cols: Sequence[str] = (),
    partition_col: str = "event_month",
) -> tuple[DataFrame, list]:
    """Relational core of the partition-pruned merge: rows of
    ``existing`` in untouched partitions pass through UNREAD by the
    dedup (no shuffle, no rewrite), while touched partitions get the
    keep-newest-per-key merge. Returns ``(result, touched_values)``.

    Scale shape: one bounded ``distinct().collect()`` on the partition
    column (capped at MAX_BATCH_PARTITIONS), then one hash shuffle on
    the natural key over touched-partition rows ONLY — cost is
    proportional to the batch's partitions, not the table.
    """
    vals = _touched_partitions(incoming, partition_col)
    cond = _partition_filter(partition_col, vals)
    merged = _keep_newest(
        existing.filter(cond), incoming, key, recency_col, tie_cols
    )
    untouched = existing.filter(~F.coalesce(cond, F.lit(False)))
    return untouched.unionByName(merged), vals
