"""Incremental aggregate maintenance (materialized-rollup upkeep).

The reference recomputes its monthly rollups from scratch each DAG run;
at 100 TB the engine must instead maintain stored partials and fold in
only the new batch: ``new_state = merge(old_state, agg(new_rows))``.
This works for any algebraic aggregate — count/sum/min/max merge
directly, avg is decomposed into (sum, count) and re-derived after the
merge (never avg-of-avgs).

Scale shape: the historical table is never rescanned — the merge joins
|groups| partial rows against |touched groups| new partials, both tiny
next to the fact data; with month-partitioned state only partitions
receiving keys rewrite. Correctness is oracle-checked by
``evt_incremental_monthly_agg``: merged partials must equal the
full-recompute answer bit-for-bit (associativity of the partial forms).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Partial-state columns maintained per aggregate kind.
_MERGE = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
}


def partial_agg(
    df: DataFrame,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    mins: Sequence[str] = (),
    maxs: Sequence[str] = (),
    count_col: str = "n",
) -> DataFrame:
    """Per-group partial state: count + requested sums/mins/maxs.
    The output is itself mergeable by :func:`merge_partials`."""
    aggs = [F.count(F.lit(1)).alias(count_col)]
    aggs += [F.sum(c).alias(f"sum_{c}") for c in sums]
    aggs += [F.min(c).alias(f"min_{c}") for c in mins]
    aggs += [F.max(c).alias(f"max_{c}") for c in maxs]
    return df.groupBy(*keys).agg(*aggs)


def merge_partials(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    count_col: str = "n",
) -> DataFrame:
    """Fold a new batch's partials into stored state. Columns are
    matched by the ``sum_``/``min_``/``max_`` prefix convention of
    :func:`partial_agg`; groups present on either side survive
    (full outer merge semantics via union + re-reduce — one shuffle on
    the group key over |partials| rows, never the facts)."""
    aggs = []
    for f_ in old.schema.fields:
        if f_.name in keys:
            continue
        if f_.name == count_col or f_.name.startswith("sum_"):
            aggs.append(F.sum(f_.name).alias(f_.name))
        elif f_.name.startswith("min_"):
            aggs.append(F.min(f_.name).alias(f_.name))
        elif f_.name.startswith("max_"):
            aggs.append(F.max(f_.name).alias(f_.name))
        else:
            raise ValueError(f"unmergeable partial column: {f_.name}")
    return old.unionByName(new).groupBy(*keys).agg(*aggs)


def incremental_join_append(
    maintained: DataFrame | None,
    delta_fact: DataFrame,
    dim: DataFrame,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Incremental maintenance of a materialized fact⋈dim join under
    APPEND-ONLY fact deltas: ``M' = M ∪ (ΔF ⋈ dim)``.

    The historical join is never recomputed — only the delta joins, and
    with a broadcast dimension that join is map-only over the batch.
    This is the join analogue of merge_partials and the standard shape
    of an enrichment pipeline's upkeep (events ⋈ user-dims, docs ⋈
    source-metadata): at 100 TB re-joining history every batch is the
    difference between a per-batch cost of O(|Δ|) and O(|table|).

    Dimension CHANGES are the SCD seam, deliberately not handled here:
    a changed dim row under SCD2 (`rel_scd2_priority_dim`) creates a
    new validity interval, and facts join the interval they arrived in
    — history stays correct without rewriting M. Only a destructive
    SCD1 overwrite would force re-joining affected keys
    (anti-join M on changed keys ∪ re-join those facts).

    Equivalence with the full recompute is proven by
    ``test_incremental_join_equals_full``.
    """
    enriched = delta_fact.join(
        F.broadcast(dim) if broadcast_dim else dim,
        on=list(set(delta_fact.columns) & set(dim.columns)),
    )
    if maintained is None:
        return enriched
    return maintained.unionByName(enriched)


def refresh_rollup_changed_partitions(
    spark,
    source: DataFrame,
    rollup_dir: str,
    part_col: str,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    state_dir: str | None = None,
) -> dict:
    """Materialized-rollup refresh with CHANGE DETECTION: fingerprint
    the source per partition (``sources.backfill`` content digests),
    recompute rollup partials ONLY for partitions whose fingerprint
    moved since the last refresh, and dynamic-partition-overwrite just
    those slices of the stored rollup.

    This closes the loop the pieces leave open: ``partial_agg`` /
    ``merge_partials`` maintain state when you KNOW the delta;
    ``backfill_partitions`` repairs a copy of the same table. A
    materialized VIEW's input delta is "whatever changed in the
    source", which only a content diff can tell you after replays,
    late data, or manual fixes.

    State: ``{state_dir}/fingerprints.json`` maps partition →
    (n_rows, digest) as of the last refresh (tiny, one file). First
    run = full build. Returns {checked, refreshed, parts}.

    Scale: one map-side-combined fingerprint pass over the source
    (the rollup input scan it would pay anyway), partial recompute
    restricted by a pushed-down partition filter, |changed| partition
    rewrites of |groups|-sized rollup slices.
    """
    import json
    import os

    from ..sources.backfill import partition_fingerprints

    state_dir = state_dir or rollup_dir + "_state"
    fp_path = os.path.join(state_dir, "fingerprints.json")
    prev: dict = {}
    if os.path.exists(fp_path):
        with open(fp_path) as fh:
            prev = {k: tuple(v) for k, v in json.load(fh).items()}

    cur = {
        r["part"]: (r["n_rows"], str(r["digest"]))
        for r in partition_fingerprints(source, part_col).collect()
    }
    changed = sorted(p for p, fp in cur.items() if prev.get(p) != fp)
    if changed:
        delta = source.filter(
            F.col(part_col).cast("string").isin(list(changed))
        )
        parts = partial_agg(delta, [part_col, *keys], sums=sums)
        (
            parts.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col)
            .parquet(rollup_dir)
        )
        os.makedirs(state_dir, exist_ok=True)
        tmp = fp_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({k: list(v) for k, v in cur.items()}, fh)
        os.replace(tmp, fp_path)
    return {
        "checked": len(cur),
        "refreshed": len(changed),
        "parts": changed,
    }
