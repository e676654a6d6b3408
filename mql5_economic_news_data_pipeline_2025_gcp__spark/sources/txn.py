"""Transactional table layer: a minimal commit-log format (the Delta /
Iceberg idea reduced to its load-bearing core) over plain parquet.

Why this exists: directory-swap publishing (``sinks.compact_parquet``,
``replace`` mode) has a reader-visible window — two renames can't be
atomic together. The commit-log format removes the problem by never
mutating published state: data files are immutable once written, and
the ONLY mutation anywhere is the atomic create of a manifest in
``_commits/`` — readers resolve the latest manifest and see exactly
one committed snapshot, before or after, never between.

What a manifest buys, concretely:

- **Atomic publish**: one create-if-absent ``os.link`` per commit
  (POSIX-atomic; object stores use if-none-match PUTs — same protocol).
- **Snapshot isolation**: a reader that resolved version N keeps
  reading N's files even while N+1 commits — vacuum, not commit, is
  the only thing that can break an in-flight reader, which is why
  vacuum keeps a version horizon.
- **Time travel**: ``read(version=k)`` is just "parse an older
  manifest".
- **Atomic compaction**: rewrite small files, commit the new list as
  version N+1 — readers never see a missing table (the exact failure
  ADVICE flagged in the rename-swap compactor).

One commit protocol: every mutation runs the same optimistic-concurrency
loop (:func:`_commit`). Each pass resolves the head, hands its manifest
(None on an empty root) to the caller's builder, and publishes what the
builder returns as head+1. The builder writes the new data files and
returns the next file list, or None for "no commit" (a replayed batch
id, a DELETE that hits nothing, an OPTIMIZE with nothing to fold). A CAS
loss re-runs the builder against the NEW head, so the read-set is always
re-resolved: an append carries the winner's files forward, and a merge,
delete or compaction rebuilds from the winner's snapshot instead of
overwriting it — the compare-and-swap loop of the real formats, coded
once. Only ``adopt`` and ``clone`` commit outside it: each writes
version 0 of a root that has no log yet, in one shot.

Scale notes: manifests list files, not rows — a 100 TB table's
manifest is MBs; resolution cost is one listing of ``_commits/``
(object stores: one prefix list). File-level min/max pruning stats
ride the same manifest (``overwrite_with_stats`` + ``read_pruned``:
the scan never lists pruned files, one step beyond footer-level
skipping), and ``last_batch_id`` makes the manifest chain an
idempotence ledger for streaming ``foreachBatch`` sinks
(``append_exactly_once`` and the streaming fold states).
"""

from __future__ import annotations

import json
import os
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

_COMMITS = "_commits"
_DATA = "data"


class CommitConflict(Exception):
    """Another writer committed this version first (optimistic CAS lost)."""


def _commit_dir(root: str) -> str:
    return os.path.join(root, _COMMITS)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_commit_dir(root), f"v{version:08d}.json")


def versions(root: str) -> list[int]:
    """Committed versions, ascending. Ignores foreign/tmp files."""
    d = _commit_dir(root)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version)) as fh:
        return json.load(fh)


def _head(root: str) -> tuple[int, dict | None]:
    """The head version (-1 on an empty root) and its manifest."""
    vs = versions(root)
    return (vs[-1], _read_manifest(root, vs[-1])) if vs else (-1, None)


def _snapshot(root: str, version: int | None = None) -> tuple[int, dict]:
    """Resolve ``version`` (default: the head) to ``(version, manifest)``.
    A root with no commits raises :class:`FileNotFoundError`, so every
    reader fails the same loud way."""
    if version is not None:
        return version, _read_manifest(root, version)
    version, m = _head(root)
    if m is None:
        raise FileNotFoundError(f"no commits at {root}")
    return version, m


def _scan(spark: SparkSession, root: str, files: list[str]) -> DataFrame:
    return spark.read.parquet(*[os.path.join(root, f) for f in files])


def _write_files(df: DataFrame, root: str) -> list[str]:
    """Write df's parquet files under a fresh uuid dir; return paths
    RELATIVE to root (manifests must survive a table move/copy)."""
    sub = os.path.join(_DATA, uuid.uuid4().hex[:12])
    out_dir = os.path.join(root, sub)
    df.write.mode("errorifexists").parquet(out_dir)
    return sorted(
        os.path.join(sub, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    )


def _try_commit(root: str, version: int, manifest: dict) -> None:
    """Atomically publish ``manifest`` as ``version`` or raise
    :class:`CommitConflict` if that version already exists."""
    d = _commit_dir(root)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex[:8]}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    target = _manifest_path(root, version)
    try:
        # link+unlink = atomic create-if-absent on POSIX (rename would
        # silently REPLACE an existing manifest and corrupt the log)
        os.link(tmp, target)
    except FileExistsError as e:
        raise CommitConflict(f"version {version} already committed") from e
    finally:
        os.unlink(tmp)


def _commit(root: str, op: str, build) -> int | None:
    """The commit loop every mutation runs. ``build(manifest)`` gets the
    head's manifest (None on an empty root), writes the data files it
    needs and returns the new manifest's body (``files`` plus any extra
    keys), or None to commit nothing. Returns the committed version, or
    None when the builder declined. On a CAS loss ``build`` runs again
    against the new head."""
    while True:
        head, m = _head(root)
        body = build(m)
        if body is None:
            return None
        v = head + 1
        try:
            _try_commit(root, v, {"version": v, "op": op, **body})
            return v
        except CommitConflict:
            continue


def _last_batch_id(m: dict | None) -> int:
    """The batch-id ledger a ``foreachBatch`` sink keeps in the manifest
    chain: the last batch id committed (-1 before the first)."""
    return -1 if m is None else m.get("last_batch_id", -1)


def _commit_batch(root: str, op: str, batch_id: int, build) -> int | None:
    """:func:`_commit` for an at-least-once ``foreachBatch`` sink: a
    batch id the head's ledger already holds commits nothing (re-checked
    after every conflict, so a retry racing its original commits at most
    once), and each commit records ``batch_id`` as ``last_batch_id``."""

    def guarded(m):
        if batch_id <= _last_batch_id(m):
            return None
        return {**build(m), "last_batch_id": batch_id}

    return _commit(root, op, guarded)


def _files(m: dict | None) -> list[str]:
    return m["files"] if m is not None else []


def _existing_files(m: dict | None, root: str) -> list[str]:
    if m is None:
        raise FileNotFoundError(f"no commits at {root}")
    return m["files"]


def overwrite(df: DataFrame, root: str) -> int:
    """Replace the table contents in one commit; returns the version."""
    files = _write_files(df, root)
    # an overwrite replaces whatever the head holds: a retry just claims
    # the next slot with the same files
    return _commit(root, "overwrite", lambda m: {"files": files})


def append(df: DataFrame, root: str) -> int:
    """Add rows in one commit (existing files carry over); returns the
    version. On a CAS loss the retry re-reads the NEW head's file list —
    the race never drops the other writer's rows."""
    new_files = _write_files(df, root)
    return _commit(root, "append", lambda m: {"files": _files(m) + new_files})


def adopt(root: str) -> int:
    """Adopt a PLAIN parquet directory into the commit-log format in
    place: commit version 0 listing the existing part files, moving no
    data. From then on every mutation (append / overwrite / compact /
    optimize_files) publishes atomically — this is the migration step
    that upgrades a rename-swap table (``sinks.compact_parquet``'s
    documented reader-visible gap) to atomic maintenance for free.

    Idempotent: an already-adopted root is returned unchanged. Plain
    ``spark.read.parquet(root)`` keeps working on the v0 snapshot until
    the first post-adoption rewrite + vacuum (old top-level files are
    manifest-tracked and vacuumed like any other); switch readers to
    :func:`read` to get snapshot isolation.
    """
    vs = versions(root)
    if vs:
        return vs[-1]
    files = sorted(
        f
        for f in os.listdir(root)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    if not files:
        raise FileNotFoundError(f"no parquet files to adopt at {root}")
    try:
        _try_commit(root, 0, {"version": 0, "op": "adopt", "files": files})
    except CommitConflict:
        pass  # racing adopter won; both committed the same file list
    return versions(root)[-1]


def read(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """Snapshot read of ``version`` (default: latest). Empty manifest →
    empty frame is impossible here (parquet always writes ≥1 file)."""
    return _scan(spark, root, _snapshot(root, version)[1]["files"])


def compact(spark: SparkSession, root: str, target_file_mb: int = 128) -> int:
    """Rewrite the current snapshot into ~``target_file_mb`` files and
    commit the new list — fully atomic from any reader's view (the old
    version stays intact and readable until vacuumed). A writer that
    commits first makes the rewrite start over from its snapshot, so a
    racing append is never compacted away."""

    def build(m):
        files = _existing_files(m, root)
        size_b = sum(os.path.getsize(os.path.join(root, f)) for f in files)
        n_files = max(1, round(size_b / (target_file_mb * 1024 * 1024)))
        cur = _scan(spark, root, files).coalesce(n_files)
        return {"files": _write_files(cur, root)}

    return _commit(root, "overwrite", build)


def vacuum(root: str, keep_last: int = 1) -> int:
    """Delete data files referenced ONLY by manifests older than the
    last ``keep_last`` versions (and those manifests). The horizon is
    the snapshot-isolation contract: never vacuum versions a reader
    could still hold. Returns the number of data files removed."""
    vs = versions(root)
    keep_vs = vs[-keep_last:] if keep_last > 0 else []
    keep_files = set()
    for v in keep_vs:
        keep_files.update(_read_manifest(root, v)["files"])
    removed = 0
    for v in vs[: len(vs) - len(keep_vs)]:
        for f in _read_manifest(root, v)["files"]:
            p = os.path.join(root, f)
            if f not in keep_files and os.path.exists(p):
                os.unlink(p)
                removed += 1
        os.unlink(_manifest_path(root, v))
    return removed


# ----------------------------------------------- partitioned MERGE

_PDIR = "_p"
#: Directory value Spark writes for a null or empty partition value.
_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _write_files_partitioned(
    df: DataFrame, root: str, partition_col: str
) -> list[str]:
    """Write files laid out by partition value (``_p=<val>/`` dirs) so a
    file's partition is recoverable from its path. The partition column
    stays IN the data (``_p`` is a duplicate used only for layout), so
    reads need no directory-inference gymnastics."""
    sub = os.path.join(_DATA, uuid.uuid4().hex[:12])
    out_dir = os.path.join(root, sub)
    df.withColumn(_PDIR, df[partition_col].cast("string")).write.mode(
        "errorifexists"
    ).partitionBy(_PDIR).parquet(out_dir)
    out = []
    for dirpath, _, files in os.walk(out_dir):
        for f in files:
            if f.endswith(".parquet"):
                out.append(
                    os.path.relpath(os.path.join(dirpath, f), root)
                )
    return sorted(out)


def _file_partition(relpath: str) -> str | None:
    """Partition value encoded in a file's path (unescaped, so a value
    with ``:`` or ``/`` matches its string form), or None for files
    written unpartitioned."""
    for seg in relpath.split(os.sep):
        if seg.startswith(_PDIR + "="):
            return unquote(seg[len(_PDIR) + 1 :])
    return None


def merge_upsert(
    spark: SparkSession,
    root: str,
    incoming: DataFrame,
    key: list[str],
    recency_col: str,
    tie_col: str,
    partition_col: str,
) -> int:
    """MERGE-shaped upsert against a partitioned txn table: keep-newest
    per ``key`` where incoming beats existing, rewriting ONLY the
    partitions the batch touches. Untouched partitions' files carry
    into the new manifest BY REFERENCE — zero bytes rewritten, the
    O(batch)-not-O(table) property the monthly-ingest path needs at
    100 TB, published by one atomic commit.

    Protocol: collect the batch's partition values (capped at
    ``upsert.MAX_BATCH_PARTITIONS``) → read current snapshot → prune to
    touched partitions (path-level: untouched files are never opened)
    → rank with ``upsert._keep_newest`` (incoming wins, then
    ``recency_col`` desc, then ``tie_col`` desc) → write merged
    partitions → commit (carried ∪ new). With no touched files (an
    empty root, or only new partitions) the batch alone is ranked. CAS
    loss retries the whole merge against the new head (the read-set
    must be re-resolved — this is serializable, not just atomic)."""
    from ..operators.upsert import _keep_newest, _touched_partitions

    touched = {
        _NULL_PART if v in (None, "") else v
        for v in _touched_partitions(
            incoming, incoming[partition_col].cast("string")
        )
    }

    def build(m):
        base = _files(m)
        carried = [f for f in base if _file_partition(f) not in touched]
        hot = [f for f in base if _file_partition(f) in touched]
        existing_hot = (
            _scan(spark, root, hot).select(*incoming.columns) if hot else None
        )
        merged = _keep_newest(
            existing_hot, incoming, key, recency_col, [tie_col]
        )
        return {
            "files": carried
            + _write_files_partitioned(merged, root, partition_col)
        }

    return _commit(root, "merge", build)


# ------------------------------------- file-level stats / data skipping


def _footer_stats(abs_path: str, cols: list[str]) -> dict:
    """Per-file min/max for ``cols`` aggregated from parquet row-group
    footer statistics (Spark writes them by default). Only int/float/str
    survive JSON-serialization; other types are skipped."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {}
    for c in cols:
        if c not in idx:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None and isinstance(lo, (int, float, str)):
            out[c] = [lo, hi]
    return out


def overwrite_with_stats(
    df: DataFrame,
    root: str,
    stat_cols: list[str],
    sort_within: bool = True,
    num_files: int | None = None,
) -> int:
    """Overwrite commit that records per-file min/max for ``stat_cols``
    in the manifest — the data-skipping index the real formats carry.
    ``sort_within`` range-partitions + sorts on the first stat column
    so files hold disjoint ranges (stats are useless on shuffled data:
    every file spans the whole domain)."""
    from pyspark.sql import functions as F

    if sort_within and stat_cols:
        c = [F.col(x) for x in stat_cols]
        df = (
            df.repartitionByRange(num_files, *c)
            if num_files
            else df.repartitionByRange(*c)
        ).sortWithinPartitions(*c)
    files = _write_files(df, root)
    stats = {
        f: _footer_stats(os.path.join(root, f), stat_cols) for f in files
    }
    return _commit(
        root, "overwrite", lambda m: {"files": files, "stats": stats}
    )


def read_pruned(
    spark: SparkSession, root: str, col: str, lo, hi
) -> tuple[DataFrame, int, int]:
    """Snapshot read that opens ONLY files whose [min,max] for ``col``
    overlaps [lo, hi] (manifest-level skipping — the scan never even
    lists the pruned files). Returns (frame filtered exactly, files
    scanned, files total). Files without stats are conservatively
    scanned."""
    return read_pruned_multi(spark, root, {col: (lo, hi)})


def read_pruned_multi(
    spark: SparkSession, root: str, preds: dict
) -> tuple[DataFrame, int, int]:
    """Snapshot read pruning on SEVERAL columns at once: keep a file
    only if its [min,max] overlaps every ``{col: (lo, hi)}`` predicate
    — the k-dimensional rectangle probe a Z-ordered table
    (``layout.write_zordered``) is built for. Files without stats for
    any predicate column are conservatively scanned. When no file
    overlaps, the frame is empty with the table's schema. Returns
    (exactly-filtered frame, files scanned, files total)."""
    from pyspark.sql import functions as F

    _, m = _snapshot(root)
    stats = m.get("stats", {})

    def overlaps(f: str) -> bool:
        fs = stats.get(f, {})
        for c, (lo, hi) in preds.items():
            s = fs.get(c)
            if s is not None and (s[1] < lo or s[0] > hi):
                return False
        return True

    keep = [f for f in m["files"] if overlaps(f)]
    if not keep:
        schema = _scan(spark, root, m["files"]).schema
        return spark.createDataFrame([], schema), 0, len(m["files"])
    cond = None
    for c, (lo, hi) in preds.items():
        p = (F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi))
        cond = p if cond is None else (cond & p)
    return _scan(spark, root, keep).filter(cond), len(keep), len(m["files"])


# ------------------------------------------ exactly-once streaming sink


def append_exactly_once(df: DataFrame, root: str, batch_id: int) -> int | None:
    """Idempotent append for ``foreachBatch`` (at-least-once retries):
    the manifest chain carries ``last_batch_id``; a replayed batch id
    ≤ the committed head's is a no-op, and the commit loop re-checks
    after every conflict — so a retry racing its own original can commit
    at most once. Returns the committed version, or None if skipped."""
    new_files = None

    def build(m):
        nonlocal new_files
        if new_files is None:
            new_files = _write_files(df, root)
        return {"files": _files(m) + new_files}

    return _commit_batch(root, "append", batch_id, build)


# -------------------------------------- schema evolution / CDC / IVM


def read_evolved(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Snapshot read with schema merging: commits may add columns over
    time (parquet is additive-safe); older files' missing columns read
    as null. Kept separate from :func:`read` because merging schemas
    reads every file's footer up front — pay it only when the table
    actually evolved."""
    _, m = _snapshot(root, version)
    paths = [os.path.join(root, f) for f in m["files"]]
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def changes(
    spark: SparkSession, root: str, since_version: int, to_version: int | None = None
) -> DataFrame:
    """File-diff change feed (coarse CDC, the Delta-CDF idea at file
    granularity): all rows in files ADDED between ``since_version``
    (exclusive) and ``to_version`` (inclusive). For append/
    exactly-once commits this is exactly the inserted rows; for
    merge commits it is the new state of every REWRITTEN partition
    (consumer semantics: upsert-by-partition). Cost: reads only the
    added files — never the table."""
    _, m = _snapshot(root, to_version)
    base = (
        set(_read_manifest(root, since_version)["files"])
        if os.path.exists(_manifest_path(root, since_version))
        else set()
    )
    added = [f for f in m["files"] if f not in base]
    if not added:
        return spark.createDataFrame([], _scan(spark, root, m["files"]).schema)
    return _scan(spark, root, added)


# ------------------------------------------- row-level DELETE / OPTIMIZE


def delete_where(
    spark: SparkSession, root: str, predicate: str
) -> tuple[int, int, int]:
    """Row-level DELETE (the GDPR/right-to-erasure path): rewrite ONLY
    the files that actually CONTAIN matching rows; every other file
    carries into the new manifest by reference — zero bytes rewritten
    for them, O(matching files) not O(table).

    Protocol: one predicate scan tagged with ``input_file_name`` finds
    the hit files (the collect is bounded by |files in manifest|, never
    rows); hit files are re-read, anti-filtered, and rewritten; commit
    publishes carried ∪ rewritten atomically. Old versions still
    time-travel to the pre-delete data until ``vacuum`` — which is the
    real erasure point, so a compliance delete is ``delete_where`` +
    ``vacuum(keep_last=1)``. CAS loss retries against the new head
    (serializable: the read-set is re-resolved).

    If the manifest carries ``stats`` (``overwrite_with_stats``), the
    hit-file scan could be pre-pruned by min/max; at file granularity
    the predicate scan is already column-pruned to the predicate's
    columns, so the extra plumbing is deliberately omitted here.

    Returns (version, n_files_rewritten, n_files_carried).
    """
    from pyspark.sql import functions as F

    out = None

    def build(m):
        nonlocal out
        base = _existing_files(m, root)
        tagged = _scan(spark, root, base).withColumn("_f", F.input_file_name())
        hit_abs = {
            os.path.abspath(r[0].replace("file://", ""))
            for r in tagged.filter(F.expr(predicate))
            .select("_f")
            .distinct()
            .collect()
        }
        root_abs = os.path.abspath(root)
        hit, carried = [], []
        for f in base:
            (hit if os.path.join(root_abs, f) in hit_abs else carried).append(f)
        out = (m["version"], len(hit), len(carried))
        if not hit:
            return None
        kept = _scan(spark, root, hit).filter(~F.expr(predicate))
        new_files = [] if kept.isEmpty() else _write_files(kept, root)
        return {"predicate": predicate, "files": carried + new_files}

    v = _commit(root, "delete", build)
    return out if v is None else (v, *out[1:])


def optimize_files(
    spark: SparkSession, root: str, target_file_mb: int = 128
) -> tuple[int, int, int]:
    """Bin-packing small-file compaction (OPTIMIZE semantics): greedily
    pack files SMALLER than the target into ~target-size bins and
    rewrite each bin as one file; files already at/above target carry
    by reference, untouched. Unlike :func:`compact` (full rewrite),
    cost is O(small files) — the steady-state maintenance op for a
    table fed by streaming appends, where each micro-batch leaves a
    small file and periodic OPTIMIZE folds them together.

    Returns (version, n_files_packed, n_files_carried); returns the
    current head unchanged when <2 small files exist (nothing to fold).
    """
    target_b = target_file_mb * 1024 * 1024
    out = None

    def build(m):
        nonlocal out
        base = _existing_files(m, root)
        sized = [(f, os.path.getsize(os.path.join(root, f))) for f in base]
        small = [(f, s) for f, s in sized if s < target_b]
        carried = [f for f, s in sized if s >= target_b]
        if len(small) < 2:
            out = (m["version"], 0, len(base))
            return None
        out = (m["version"], len(small), len(carried))
        # greedy first-fit over size-descending small files
        bins: list[list[str]] = []
        bin_sz: list[int] = []
        for f, s in sorted(small, key=lambda t: -t[1]):
            for i in range(len(bins)):
                if bin_sz[i] + s <= target_b:
                    bins[i].append(f)
                    bin_sz[i] += s
                    break
            else:
                bins.append([f])
                bin_sz.append(s)
        new_files: list[str] = []
        for b in bins:
            new_files += _write_files(_scan(spark, root, b).coalesce(1), root)
        return {"files": carried + new_files}

    v = _commit(root, "optimize", build)
    return out if v is None else (v, *out[1:])


def row_diff(
    spark: SparkSession,
    root: str,
    key: list[str],
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Exact row-level change feed between two committed versions
    (Delta-CDF semantics: ``_op`` ∈ insert / delete / update_pre /
    update_post), computed WITHOUT reading the table: files present in
    BOTH manifests are immutable, so their rows cancel — only the
    manifest-set difference is read on each side. A compaction or
    OPTIMIZE commit (same rows, new files) therefore costs a
    rewritten-files scan and yields an EMPTY diff; a merge/delete
    commit reads only the rewritten partitions.

    Row matching is by ``key`` (must be unique per side — true for any
    merge-maintained table); value comparison hashes every non-key
    column with a null sentinel. At 100 TB this is a shuffle of the
    CHANGED-file rows on the key, never of the table."""
    from pyspark.sql import functions as F

    _, m_to = _snapshot(root, v_to)
    from_files = set(_read_manifest(root, v_from)["files"])
    to_files = set(m_to["files"])
    old_only = sorted(from_files - to_files)
    new_only = sorted(to_files - from_files)

    schema = _scan(spark, root, m_to["files"]).schema
    out_schema = schema.add("_op", "string")
    if not old_only and not new_only:
        return spark.createDataFrame([], out_schema)

    def load(files):
        if not files:
            return spark.createDataFrame([], schema)
        return _scan(spark, root, files)

    old, new = load(old_only), load(new_only)
    val_cols = [c for c in new.columns if c not in key]

    def fp(df):
        h = F.md5(
            F.concat_ws(
                "\x01",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x02null"))
                    for c in val_cols
                ],
            )
        )
        return df.withColumn("_fp", h)

    o = fp(old).select(*key, "_fp", F.struct(*old.columns).alias("_row"))
    n = fp(new).select(*key, "_fp", F.struct(*new.columns).alias("_row"))
    j = o.withColumnRenamed("_fp", "_fp_o").withColumnRenamed(
        "_row", "_row_o"
    ).join(
        n.withColumnRenamed("_fp", "_fp_n").withColumnRenamed("_row", "_row_n"),
        on=key,
        how="full_outer",
    )
    ins = j.filter(F.col("_row_o").isNull()).select(
        F.col("_row_n.*"), F.lit("insert").alias("_op")
    )
    dele = j.filter(F.col("_row_n").isNull()).select(
        F.col("_row_o.*"), F.lit("delete").alias("_op")
    )
    upd = j.filter(
        F.col("_row_o").isNotNull()
        & F.col("_row_n").isNotNull()
        & (F.col("_fp_o") != F.col("_fp_n"))
    )
    pre = upd.select(F.col("_row_o.*"), F.lit("update_pre").alias("_op"))
    post = upd.select(F.col("_row_n.*"), F.lit("update_post").alias("_op"))
    return ins.unionByName(dele).unionByName(pre).unionByName(post)


def clone(src_root: str, dest_root: str, version: int | None = None) -> int:
    """Zero-copy table clone at a version (the dev/test-branch and
    reproducible-experiment primitive): the destination gets its own
    commit log whose v0 manifest lists HARDLINKS to the source's data
    files — metadata-only work, no bytes copied, instant at any table
    size. Unlike a Delta shallow clone (which references the source by
    path and dangles if the source vacuums), hardlinked inodes survive
    the source's vacuum: each table owns an independent name for the
    same immutable bytes, and immutability is exactly what the commit
    log already guarantees. Falls back to a real copy across
    filesystems. Returns the destination's version (always 0)."""
    import shutil

    v, m = _snapshot(src_root, version)
    os.makedirs(dest_root, exist_ok=True)
    for rel in m["files"]:
        src = os.path.join(src_root, rel)
        dst = os.path.join(dest_root, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)
    manifest = {
        "version": 0,
        "op": "clone",
        "files": list(m["files"]),
        "cloned_from": {"root": os.path.abspath(src_root), "version": v},
    }
    if "stats" in m:
        manifest["stats"] = m["stats"]
    _try_commit(dest_root, 0, manifest)
    return 0
