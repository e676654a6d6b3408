"""Table sinks (SURVEY §2.1, S7–S12): the reference's write modes
re-expressed for a columnar catalog.

| Reference | Here |
|---|---|
| batched INSERT append, chunks of 1000/500 (DB:120-150)  | ``save_append`` (row-group batching is the parquet writer's job) |
| TRUNCATE + insert replace (DB:126-141)                  | ``save_replace`` |
| append-if-first-run-else-replace (DB:189-198, TEST:227-230) | ``save_conditional`` |
| joblib split/params hand-off between stages (TRAIN:401-409) | ``persist_splits`` / ``load_splits`` |

All writes are atomic-per-partition parquet; on a real deployment the
same API fronts ``.write.jdbc(batchsize=N)`` (the reference's MySQL
sink) or a MERGE-capable table format. Upsert (S9) is the algorithmic
one and lives in ``operators.upsert``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def save_append(df: DataFrame, path: str) -> None:
    """S7: append rows to a table directory."""
    df.write.mode("append").parquet(path)


def save_replace(df: DataFrame, path: str) -> None:
    """S8: TRUNCATE-then-insert — full replace of the table."""
    df.write.mode("overwrite").parquet(path)


def _table_exists_nonempty(spark: SparkSession, path: str) -> bool:
    if not os.path.exists(path):
        return False
    try:
        return not spark.read.parquet(path).isEmpty()
    except Exception:
        return False


def save_conditional(spark: SparkSession, df: DataFrame, path: str) -> str:
    """S10: the reference's live-forecast mode — append when the table is
    empty/absent (first run), replace otherwise. Returns the mode used."""
    mode = "append" if not _table_exists_nonempty(spark, path) else "overwrite"
    df.write.mode(mode).parquet(path)
    return mode


def save_partitioned(
    df: DataFrame,
    path: str,
    partition_cols=("event_month",),
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned layout (the 100 TB events-table shape): partition
    by month(event_ts) so (a) the monthly ingest merge rewrites ONE
    partition, (b) high-water-mark and date-range predicates prune
    partitions at plan time. With ``mode='overwrite'`` and dynamic
    partition overwrite, only partitions present in ``df`` are replaced.
    """
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def persist_splits(splits: dict[str, DataFrame], base_dir: str) -> dict[str, str]:
    """S12: persist named split DataFrames (train/val/test) as parquet —
    the columnar replacement for the reference's joblib artifact hand-off.
    Returns name → path."""
    out = {}
    for name, df in splits.items():
        p = os.path.join(base_dir, name)
        df.write.mode("overwrite").parquet(p)
        out[name] = p
    return out


def load_splits(spark: SparkSession, base_dir: str, names=("train", "val", "test")) -> dict[str, DataFrame]:
    """S12 read side: reload persisted splits."""
    return {n: spark.read.parquet(os.path.join(base_dir, n)) for n in names}


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_file_mb`` each and return the new file count.

    The operational staple every long-running ingest needs: streaming
    micro-batches, per-trigger appends, and over-parallel writers leave
    thousands of KB-scale files; at 100 TB the resulting footer reads +
    task-per-file scheduling dominate scan time long before I/O does.

    Sizing is derived from the CURRENT on-disk byte size (compressed),
    not a row count guess, so the result holds for any schema. The
    rewrite is a coalesce when shrinking (no shuffle — partition
    concatenation is what compaction wants).

    Publish strategy depends on the table:

    - **Commit-log root** (has ``_commits/`` — written by
      ``sources.txn`` or adopted via ``txn.adopt``): delegate to
      ``txn.compact``, which commits the new file list as one manifest
      through txn's commit loop — readers NEVER see a missing or
      partial table, in-flight snapshot readers keep their version
      until vacuum, and a racing writer's commit is rebuilt on, never
      overwritten.
      This is the default maintenance path; plain directories can opt
      in with one no-data-movement ``txn.adopt(path)`` call.
    - **Plain directory**: stage to a sibling, then swap via two
      renames. Each rename is atomic but the PAIR is not — a reader
      listing between them sees the table briefly absent (never a
      half-written mix). Run in a maintenance window or adopt() first.
      A crash between the renames is recovered: the backup is restored
      so the table is never left stranded at ``.precompact``.
    """
    import shutil

    from . import txn as _txn

    if os.path.isdir(os.path.join(path, "_commits")):
        v = _txn.compact(spark, path, target_file_mb=target_file_mb)
        return len(_txn._read_manifest(path, v)["files"])

    size_b = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, round(size_b / (target_file_mb * 1024 * 1024)))
    staging = path.rstrip("/") + ".compacting"
    spark.read.parquet(path).coalesce(n_files).write.mode("overwrite").parquet(
        staging
    )
    backup = path.rstrip("/") + ".precompact"
    os.rename(path, backup)
    try:
        os.rename(staging, path)
    except BaseException:
        # restore the live table before propagating — never leave the
        # path missing with data stranded at .precompact
        os.rename(backup, path)
        shutil.rmtree(staging, ignore_errors=True)
        raise
    shutil.rmtree(backup, ignore_errors=True)
    return n_files


def save_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int | None = None,
) -> None:
    """Layout-optimized write: range-repartition on ``sort_cols`` then
    sort within each partition before writing parquet.

    Why this is a 100 TB lever: parquet readers prune at TWO
    granularities from footer min/max statistics — whole files and row
    groups within a file. A hash-partitioned or unsorted write spreads
    every key across every file, so a point/range predicate reads
    everything; after this layout each key lives in ~1 file and ~1 row
    group, so the same predicate reads ~1/N of the data
    (`test_sorted_layout_prunes_row_groups` measures exactly this).
    The range repartition is one sampled shuffle — pay it once at
    write, save it on every subsequent scan.
    """
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sort_cols]
    out = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    out.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def zorder_value(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    mode: str = "quantile",
) -> "tuple[DataFrame, str]":
    """Append a Morton (Z-order) key column interleaving the bits of
    per-column bucket ids → (df, key_col_name).

    Bucketing per column into ``2**bits`` buckets, two modes:

    - ``"quantile"`` (default): equi-DEPTH buckets from approxQuantile
      cut points (one bounded driver job per column). This is the mode
      that survives skew — with a long-tailed column, uniform buckets
      put most rows into a few low buckets and the top interleaved
      bits stop discriminating (measured on the skewed events.value:
      band-predicate row-group fraction 0.63 uniform → ~0.3 quantile).
      The bucket id is Σ 1[value ≥ cut_i] over the literal cut array.
    - ``"uniform"``: equi-WIDTH between global min/max (one tiny agg
      job) — cheaper fit, right for near-uniform columns.

    Bit b of every bucket id lands at position ``b·|cols| + col_index``,
    so a prefix of the z-value constrains EVERY dimension — that is the
    whole trick: range-sorting by the z-value clusters rows close in
    all ``cols`` at once, where a lexicographic multi-column sort
    clusters only the leading column. Integer Column expressions only.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    k = 2**bits
    buckets: list = []
    if mode == "quantile":
        probs = [i / k for i in range(1, k)]
        for c in cols:
            cuts = df.approxQuantile(c, probs, 0.001)
            bucket = F.aggregate(
                F.lit([float(x) for x in cuts]),
                F.lit(0).cast("bigint"),
                lambda acc, cut: acc
                + F.when(F.col(c).cast("double") >= cut, 1).otherwise(0),
            )
            buckets.append(F.least(F.lit(k - 1), bucket))
    elif mode == "uniform":
        bounds = df.agg(
            *[F.min(c).alias(f"mn_{c}") for c in cols],
            *[F.max(c).alias(f"mx_{c}") for c in cols],
        ).first()
        for c in cols:
            mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
            span = (mx - mn) or 1
            buckets.append(
                F.least(
                    F.lit(k - 1),
                    (
                        (F.col(c) - F.lit(mn)).cast("double")
                        / F.lit(span)
                        * F.lit(k)
                    ).cast("bigint"),
                )
            )
    else:
        raise ValueError(f"zorder_value: unknown mode {mode!r}")

    z = F.lit(0).cast("bigint")
    for j, bucket in enumerate(buckets):
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, b).bitwiseAND(F.lit(1)), b * n + j
                )
            )
    key = "_zorder"
    return df.withColumn(key, z), key


def save_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int | None = None,
    bits: int = 8,
    mode: str = "quantile",
) -> None:
    """Z-order layout write: range-repartition + sort on the Morton key
    of ``cols``, drop the key, write parquet.

    Why this beats ``save_sorted`` when queries filter on MORE THAN ONE
    column: a lexicographic sort gives the trailing columns no locality
    (their row-group [min,max] spans stay corpus-wide), so only
    leading-column predicates prune. Z-ordering interleaves the
    dimensions — every filtered column gets row-group pruning at the
    cost of each being ~2^bits coarser
    (`test_zorder_layout_prunes_both_dims` measures both claims).
    Same cost model as save_sorted: one sampled range shuffle at write
    time; every later scan with a predicate on any z-dimension reads a
    fraction of the row groups.
    """
    from pyspark.sql import functions as F

    keyed, key = zorder_value(df, cols, bits=bits, mode=mode)
    out = (
        keyed.repartitionByRange(num_files, F.col(key))
        if num_files
        else keyed.repartitionByRange(F.col(key))
    )
    out.sortWithinPartitions(key).drop(key).write.mode("overwrite").parquet(path)
