"""Atomic compaction (round-5 verdict task #6): batch-table compaction
routed through the txn manifest commit must never show a reader a
missing or partial table — the exact gap the rename-swap compactor
documents.

Two proofs:

1. A concurrent reader hammering ``txn.read`` while compaction runs
   always observes the full row count (snapshot isolation: the old
   manifest stays resolvable until vacuum).
2. A plain parquet directory upgraded with one ``txn.adopt`` call (no
   data movement) gets the same guarantee from ``compact_parquet``,
   which detects the commit log and delegates.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import functions as F

from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn
from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.sinks import (
    compact_parquet,
)
from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _hammer_reads(spark, root, expected, stop, errors):
    """Reader loop: every resolve must see a complete snapshot."""
    while not stop.is_set():
        try:
            n = txn.read(spark, root).count()
        except Exception as e:  # missing table / dangling file = the bug
            errors.append(repr(e))
            return
        if n != expected:
            errors.append(f"partial snapshot: {n} rows != {expected}")
            return


def test_txn_compaction_never_hides_table(spark, tmp_path):
    root = str(tmp_path / "t")
    ev = load_table(spark, SF, "events").select("event_id", "user_id", "value")
    txn.overwrite(ev.repartition(8), root)
    for i in range(3):
        txn.append(ev.filter(F.col("event_id") % 10 == i).coalesce(1), root)
    expected = txn.read(spark, root).count()

    stop, errors = threading.Event(), []
    th = threading.Thread(
        target=_hammer_reads, args=(spark, root, expected, stop, errors)
    )
    th.start()
    try:
        # both maintenance ops publish via one manifest rename each
        txn.optimize_files(spark, root, target_file_mb=1)
        txn.compact(spark, root)
    finally:
        stop.set()
        th.join()
    assert not errors, errors
    assert txn.read(spark, root).count() == expected


def test_adopted_plain_dir_compacts_atomically(spark, tmp_path):
    path = str(tmp_path / "plain")
    ev = load_table(spark, SF, "events").select("event_id", "user_id", "value")
    ev.repartition(12).write.parquet(path)  # 12 small files, plain layout
    expected = ev.count()

    v0 = txn.adopt(path)  # one manifest commit, zero data movement
    assert v0 == 0
    assert txn.adopt(path) == 0  # idempotent
    # plain readers still work on the adopted v0 snapshot
    assert spark.read.parquet(path).count() == expected

    stop, errors = threading.Event(), []
    th = threading.Thread(
        target=_hammer_reads, args=(spark, path, expected, stop, errors)
    )
    th.start()
    try:
        n_files = compact_parquet(spark, path, target_file_mb=128)
    finally:
        stop.set()
        th.join()
    assert not errors, errors
    assert n_files < 12
    assert txn.read(spark, path).count() == expected
    # pre-compaction snapshot still time-travelable until vacuum
    assert txn.read(spark, path, version=0).count() == expected
    # vacuum reclaims the adopted originals; head keeps working
    txn.vacuum(path, keep_last=1)
    assert txn.read(spark, path).count() == expected


def test_plain_dir_crash_between_renames_recovers(spark, tmp_path):
    """The legacy path's crash recovery still holds for un-adopted dirs."""
    path = str(tmp_path / "legacy")
    ev = load_table(spark, SF, "events").select("event_id", "value")
    ev.repartition(6).write.parquet(path)
    n = ev.count()

    real_rename = os.rename
    calls = {"n": 0}

    def exploding_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # the staging→live rename
            raise OSError("simulated crash mid-swap")
        return real_rename(src, dst)

    os.rename = exploding_rename
    try:
        try:
            compact_parquet(spark, path, target_file_mb=128)
            raise AssertionError("expected simulated crash")
        except OSError:
            pass
    finally:
        os.rename = real_rename
    # table restored, no .precompact stranded
    assert spark.read.parquet(path).count() == n
    assert not os.path.exists(path + ".precompact")


def test_compact_keeps_a_racing_append(spark, tmp_path, monkeypatch):
    """Lost update: an append that commits while compact is rewriting
    must survive. The compaction's commit then loses the CAS race and
    has to rebuild from the new head, not publish its stale rewrite."""
    root = str(tmp_path / "race")
    txn.overwrite(spark.range(0, 200).withColumnRenamed("id", "k"), root)

    real_write = txn._write_files
    calls = {"n": 0}

    def racing_write(df, at):
        calls["n"] += 1
        if calls["n"] == 1:  # compact's first rewrite: race it
            extra = spark.range(1000, 1010).withColumnRenamed("id", "k")
            txn.append(extra, root)
        return real_write(df, at)

    monkeypatch.setattr(txn, "_write_files", racing_write)
    txn.compact(spark, root)

    head = txn.read(spark, root)
    assert head.count() == 210
    assert head.filter("k >= 1000").count() == 10
