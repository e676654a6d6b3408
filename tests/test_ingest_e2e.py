"""End-to-end ingest-path integration test (SURVEY §3.1): headerless CSV
→ fixed positional schema → cleaning chain → high-water-mark filter →
natural-key upsert. Mirrors the reference's monthly push
(PUSH:194-231) on crafted rows exercising every parser branch.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.cleaning import (
    clean_raw_events,
    high_water_mark_filter,
)
from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.upsert import upsert
from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn
from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.csv_source import (
    read_raw_events_csv,
)

CSV_BODY = "\n".join(
    [
        # ISO date, 24h time, quoted event with comma
        '2025-03-04,13:30,USD,"Nonfarm Payrolls, SA",high,250K,240K,230K,0,wk1',
        # US-ambiguous date (month-first wins -> April 3), 12h time
        '04/03/2025,1:30 PM,EUR,CPI Flash,medium,3.4%,3.2%,3.1%,0,wk1',
        # long-form date, null-ish text fields -> N/A
        '4 March 2025,09:00,GBP,GDP QoQ,  ,nan,,-0.1,0,wk1',
        # unparseable date -> row dropped
        'not-a-date,09:00,JPY,BoJ Rate,low,1,2,3,0,wk1',
        # duplicate natural key of row 1, later in file -> upsert winner
        '2025-03-04,13:30,USD,"Nonfarm Payrolls, SA",high,260K,240K,230K,0,wk1',
    ]
)


def test_ingest_csv_to_upsert(spark, tmp_path):
    p = tmp_path / "batch.csv"
    p.write_text(CSV_BODY + "\n")

    raw = read_raw_events_csv(spark, str(p))
    assert raw.columns[:4] == ["Date", "Time", "Currency", "Event"]
    assert raw.count() == 5

    clean = clean_raw_events(raw)
    rows = {(r["Currency"], r["Event"]): r for r in clean.collect()}
    # unparseable date dropped; two USD rows share one key pre-upsert
    assert len(rows) == 3 and clean.count() == 4
    # US-first ambiguity: 04/03/2025 -> April 3 (PUSH:129-130 order)
    assert rows[("EUR", "CPI Flash")]["Date"] == datetime.date(2025, 4, 3)
    assert rows[("EUR", "CPI Flash")]["Time"] == "13:30"
    # null-ish -> N/A sentinel
    gbp = rows[("GBP", "GDP QoQ")]
    assert gbp["Impact"] == "N/A" and gbp["Actual"] == "N/A" and gbp["Forecast"] == "N/A"
    assert gbp["Previous"] == "-0.1"

    # upsert into an existing table: newest duplicate wins, older ts kept
    existing = clean.filter(F.col("Currency") == "GBP")
    merged = upsert(existing, clean)
    assert merged.count() == 3
    usd = merged.filter(F.col("Currency") == "USD").first()
    assert usd["Actual"] == "260K"

    # high-water-mark: only rows strictly after existing max pass
    hwm_new = high_water_mark_filter(clean, existing)
    # GBP row is 09:00 Mar 4; USD 13:30 Mar 4 and EUR Apr 3 pass
    assert hwm_new.count() == 3  # (two USD dup rows + EUR)
    assert hwm_new.filter(F.col("Currency") == "GBP").count() == 0


def test_memory_sink_ban():
    """SCALE.md rule: format("memory") buffers the whole stream output on
    the driver. It may appear ONLY in the oracle-drain helper
    ``_drain_to_table`` (used for aggregated streams at test SF); every
    other drain must go through ``_drain_via_foreachbatch``.
    """
    import pathlib

    import mql5_economic_news_data_pipeline_2025_gcp__spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for py in root.rglob("*.py"):
        text = py.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            if 'format("memory")' in line or "format('memory')" in line:
                offenders.append(f"{py.relative_to(root)}:{i}")
    assert offenders == ["streaming/ingest.py:131"] or (
        len(offenders) == 1 and offenders[0].startswith("streaming/ingest.py")
    ), f"memory sink outside the oracle-drain helper: {offenders}"


def test_compact_parquet_reduces_files(spark, tmp_path):
    """Compaction folds a many-small-file table into the computed file
    count without changing a single row (exact content equality)."""
    import glob

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.sinks import (
        compact_parquet,
    )

    target = str(tmp_path / "shards")
    spark.range(0, 20000).selectExpr("id", "id * 2 AS v").repartition(
        64
    ).write.parquet(target)
    before = glob.glob(target + "/*.parquet")
    assert len(before) == 64
    before_sum = spark.read.parquet(target).selectExpr(
        "sum(id) AS a", "sum(v) AS b", "count(*) AS n"
    ).collect()[0]

    n_files = compact_parquet(spark, target, target_file_mb=128)
    after = glob.glob(target + "/*.parquet")
    assert len(after) == n_files < len(before)
    after_sum = spark.read.parquet(target).selectExpr(
        "sum(id) AS a", "sum(v) AS b", "count(*) AS n"
    ).collect()[0]
    assert before_sum == after_sum


def test_sorted_layout_prunes_row_groups(spark, tmp_path):
    """save_sorted must concentrate each key into few row groups: for a
    point predicate, the count of row groups whose [min,max] stats
    contain the key (= what a reader must scan) drops from ~all row
    groups on the unsorted layout to ~1 on the sorted one."""
    import glob

    import pyarrow.parquet as pq

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.sinks import (
        save_sorted,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.tables import (
        load_table,
    )

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    unsorted_dir, sorted_dir = str(tmp_path / "plain"), str(tmp_path / "sorted")
    ev.repartition(8).write.parquet(unsorted_dir)
    save_sorted(ev, sorted_dir, ["user_id"], num_files=8)

    def groups_containing(d, key):
        spans, total = 0, 0
        for f in glob.glob(d + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("user_id")
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                total += 1
                if st.min <= key <= st.max:
                    spans += 1
        return spans, total

    probe_keys = [5, 75, 140]
    for key in probe_keys:
        s_spans, s_total = groups_containing(sorted_dir, key)
        u_spans, u_total = groups_containing(unsorted_dir, key)
        assert s_spans <= 2, (key, s_spans, s_total)
        assert u_spans >= u_total * 0.9, (key, u_spans, u_total)


def test_zorder_layout_prunes_both_dims(spark, tmp_path):
    """Z-order vs lexicographic two-column sort: on (user_id, value)
    point/range predicates, the lexicographic layout prunes only the
    LEADING column (value spans stay corpus-wide), while the z-ordered
    layout prunes row groups on BOTH dimensions."""
    import glob

    import pyarrow.parquet as pq

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.sinks import (
        save_sorted,
        save_zordered,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.tables import (
        load_table,
    )

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "user_id", "value"
    )
    lex_dir, z_dir = str(tmp_path / "lex"), str(tmp_path / "zord")
    save_sorted(ev, lex_dir, ["user_id", "value"], num_files=8)
    save_zordered(ev, z_dir, ["user_id", "value"], num_files=8)

    def span_fraction(d, col, lo, hi):
        spans, total = 0, 0
        for f in glob.glob(d + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                total += 1
                if st.min <= hi and lo <= st.max:
                    spans += 1
        return spans / total

    # leading dimension: the dedicated sort prunes hardest; z-order is
    # deliberately coarser (a row group fixes only the top interleaved
    # bits of each dimension) but still prunes vs unsorted (~1.0)
    assert span_fraction(lex_dir, "user_id", 5, 5) <= 0.35
    assert span_fraction(z_dir, "user_id", 5, 5) <= 0.7
    # trailing dimension, a 5%-wide value band: lexicographic gives it
    # NO locality (nearly every row group spans the band); z-order does
    lo, hi = 100.0, 110.0
    lex_frac = span_fraction(lex_dir, "value", lo, hi)
    z_frac = span_fraction(z_dir, "value", lo, hi)
    assert lex_frac >= 0.9, lex_frac
    assert z_frac <= lex_frac / 2, (z_frac, lex_frac)


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    """JSONL source contract: declared schema (no inference pass),
    PERMISSIVE corrupt-line quarantine, and write→read round-trip
    equality against the parquet documents table."""
    import json as _json

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.jsonl import (
        read_jsonl,
        split_rejects,
        write_jsonl,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, p)
    back, rejects = split_rejects(read_jsonl(spark, p))
    assert rejects.count() == 0
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in back.select(*docs.columns).collect())
    assert a == b

    # hand-built file with two good lines and two corrupt ones
    bad = tmp_path / "mixed.jsonl"
    rows = [
        {"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2},
        {"doc_id": 2, "text": "ok2", "lang": "en", "source": "s", "n_chars": 3},
    ]
    with open(bad, "w") as fh:
        fh.write(_json.dumps(rows[0]) + "\n")
        fh.write("{not valid json\n")
        fh.write(_json.dumps(rows[1]) + "\n")
        fh.write('{"doc_id": "alpha"}\n')  # type mismatch → quarantined
    clean, rej = split_rejects(read_jsonl(spark, str(bad)))
    assert clean.count() == 2
    assert rej.count() == 2
    assert {r.doc_id for r in clean.collect()} == {1, 2}


def test_txn_table_commit_log(spark, tmp_path):
    """Commit-log table format: atomic publish, snapshot isolation,
    time travel, atomic compaction, CAS conflict on racing writers,
    vacuum horizon."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

    root = str(tmp_path / "tbl")
    a = spark.range(0, 100).withColumnRenamed("id", "k")
    b = spark.range(100, 150).withColumnRenamed("id", "k")

    v0 = txn.overwrite(a, root)
    v1 = txn.append(b, root)
    assert (v0, v1) == (0, 1)
    assert txn.read(spark, root).count() == 150
    # time travel: version 0 still sees only the first write
    assert txn.read(spark, root, version=0).count() == 100

    # snapshot isolation: a reader resolved at v1 survives a compaction
    # commit AND keeps its numbers
    snapshot = txn.read(spark, root, version=1)
    v2 = txn.compact(spark, root)
    assert v2 == 2
    assert snapshot.count() == 150
    assert txn.read(spark, root).count() == 150
    assert len(txn.versions(root)) == 3

    # CAS: manually stage a conflicting manifest for the next version,
    # then watch append lose the race once and still commit the version
    # after — with no rows lost from either writer
    import json as _json
    import os as _os

    nxt = 3
    other = {"version": nxt, "op": "append",
             "files": txn._read_manifest(root, 2)["files"]}
    txn._try_commit(root, nxt, other)
    v4 = txn.append(spark.range(150, 160).withColumnRenamed("id", "k"), root)
    assert v4 == 4
    assert txn.read(spark, root).count() == 160

    # vacuum: keep last 2 versions; older manifests and their
    # now-unreferenced files disappear, survivors still read clean
    removed = txn.vacuum(root, keep_last=2)
    assert removed > 0
    assert txn.versions(root) == [3, 4]
    assert txn.read(spark, root).count() == 160
    # direct create-if-absent conflict surfaces as CommitConflict
    import pytest as _pytest

    with _pytest.raises(txn.CommitConflict):
        txn._try_commit(root, 4, {"version": 4, "op": "append", "files": []})


def test_txn_merge_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """MERGE against the txn table: untouched partitions carry into the
    new manifest BY REFERENCE (same relative paths — zero bytes
    rewritten), touched partitions keep-newest with incoming priority,
    and the merged table equals the batch-computed expectation."""
    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

    root = str(tmp_path / "tbl")
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.tables import (
        load_table,
    )

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .withColumn("event_date", F.to_date("ts").cast("string"))
        .select("event_id", "ts", "user_id", "event_type", "value", "event_date")
    )
    key = ["user_id", "event_type", "event_date"]
    base = ev.filter(F.col("event_id") % 5 != 0)
    txn.merge_upsert(spark, root, base, key, "ts", "event_id", "event_date")
    m0 = set(txn._read_manifest(root, 0)["files"])

    incoming = ev.filter(
        (F.col("event_id") % 3 == 0) & (F.dayofmonth("ts") >= 20)
    ).withColumn("value", F.col("value") + 1)
    touched = {
        str(r[0]) for r in incoming.select("event_date").distinct().collect()
    }
    v = txn.merge_upsert(
        spark, root, incoming, key, "ts", "event_id", "event_date"
    )
    m1 = set(txn._read_manifest(root, v)["files"])

    untouched_base = {f for f in m0 if txn._file_partition(f) not in touched}
    # carried by reference: every untouched base file is in the new
    # manifest verbatim; every touched base file is gone from it
    assert untouched_base <= m1
    assert not {f for f in m0 if txn._file_partition(f) in touched} & m1

    # semantic check vs a batch-computed merge
    from pyspark.sql import Window

    w = Window.partitionBy(*key).orderBy(
        F.col("_pri").desc(), F.col("ts").desc(), F.col("event_id").desc()
    )
    expect = (
        base.withColumn("_pri", F.lit(0))
        .unionByName(incoming.withColumn("_pri", F.lit(1)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_pri", "_rn")
    )
    got = txn.read(spark, root).select(*expect.columns)
    a = sorted(tuple(r) for r in expect.collect())
    b = sorted(tuple(r) for r in got.collect())
    assert a == b


def test_txn_merge_upsert_refuses_batch_over_partition_cap(
    spark, tmp_path, monkeypatch
):
    """The touched-partition collect is capped: a batch spanning more
    than MAX_BATCH_PARTITIONS values is a table, not a batch, and the
    merge raises before writing or committing anything."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators import (
        upsert as U,
    )

    monkeypatch.setattr(U, "MAX_BATCH_PARTITIONS", 3)
    root = str(tmp_path / "tbl")
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("p"), F.lit(0).alias("ts")
    )
    with pytest.raises(ValueError, match="distinct"):
        txn.merge_upsert(spark, root, df, ["k"], "ts", "k", "p")
    assert txn.versions(root) == []
    assert not os.path.exists(root)


def test_txn_merge_upsert_survives_cas_loss(spark, tmp_path, monkeypatch):
    """Lost update under MERGE: a competing merge commits between this
    merge's data write and its commit. The CAS loss makes the builder
    re-rank against the winner's snapshot, so both batches' rows
    survive, every key stays unique, and the later commit wins the keys
    both batches carry."""
    root = str(tmp_path / "race")

    def batch(keys, v):
        return spark.createDataFrame(
            [(k, k % 4, v) for k in keys], "k long, p long, v long"
        ).withColumn("ts", F.lit(v))

    def merge(df):
        return txn.merge_upsert(spark, root, df, ["k"], "ts", "v", "p")

    assert merge(batch(range(0, 100), 0)) == 0
    late = batch([*range(0, 10), *range(100, 150)], 1)
    rival = batch([*range(5, 15), *range(200, 250)], 2)

    real_write = txn._write_files_partitioned
    calls = {"n": 0}

    def racing_write(df, at, col):
        calls["n"] += 1
        if calls["n"] == 1:  # the late merge's first build: race it
            assert merge(rival) == 1
        return real_write(df, at, col)

    monkeypatch.setattr(txn, "_write_files_partitioned", racing_write)
    assert merge(late) == 2
    assert calls["n"] == 3  # late build, rival build, late rebuild

    got = {r["k"]: r["v"] for r in txn.read(spark, root).collect()}
    assert txn.read(spark, root).count() == len(got) == 200
    assert set(got) == {*range(0, 150), *range(200, 250)}
    assert all(got[k] == 1 for k in [*range(0, 10), *range(100, 150)])
    assert all(got[k] == 2 for k in [*range(10, 15), *range(200, 250)])
    assert all(got[k] == 0 for k in range(15, 100))


def test_txn_merge_upsert_null_and_escaped_partitions(spark, tmp_path):
    """Partition values Spark does not write verbatim — null and empty
    (``__HIVE_DEFAULT_PARTITION__``) and values it escapes in the path
    (``:``) — still find their existing rows, so a re-published key
    replaces its old version instead of duplicating it."""
    root = str(tmp_path / "tbl")
    parts = [None, "", "09:30", "a/b"]

    def batch(v):
        return spark.createDataFrame(
            [(i, p, v) for i, p in enumerate(parts)], "k long, p string, v long"
        )

    txn.merge_upsert(spark, root, batch(0), ["k"], "v", "v", "p")
    txn.merge_upsert(spark, root, batch(1), ["k"], "v", "v", "p")
    got = sorted((r["k"], r["v"]) for r in txn.read(spark, root).collect())
    assert got == [(i, 1) for i in range(len(parts))]


def test_txn_data_skipping_and_exactly_once_sink(spark, tmp_path):
    """Manifest-level data skipping: a range predicate on the sort
    column opens a strict subset of files and still returns exactly the
    right rows; append_exactly_once: a replayed foreachBatch id is a
    no-op against the manifest chain's batch ledger."""
    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

    root = str(tmp_path / "tbl")
    df = spark.range(0, 100_000).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k") * 2
    ).repartition(16)
    txn.overwrite_with_stats(df, root, stat_cols=["k"], num_files=16)
    got, scanned, total = txn.read_pruned(spark, root, "k", 1000, 1999)
    assert total >= 8
    assert scanned < total  # skipping actually skipped
    assert got.count() == 1000
    assert got.agg(F.min("k"), F.max("k")).first() == (1000, 1999)

    # exactly-once: batch 0 and 1 commit, replay of 1 is a no-op,
    # batch 2 proceeds
    r2 = str(tmp_path / "sink")
    b = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")
    assert txn.append_exactly_once(b(0, 10), r2, batch_id=0) == 0
    assert txn.append_exactly_once(b(10, 20), r2, batch_id=1) == 1
    assert txn.append_exactly_once(b(10, 20), r2, batch_id=1) is None
    assert txn.append_exactly_once(b(20, 30), r2, batch_id=2) == 2
    assert txn.read(spark, r2).count() == 30

    # end-to-end: a real streaming drain through foreachBatch lands in
    # the txn table with one commit per micro-batch
    import os as _os

    src = str(tmp_path / "src")
    spark.range(0, 1000).withColumnRenamed("id", "k").write.parquet(src)
    sdf = spark.readStream.schema("k long").parquet(src)
    r3 = str(tmp_path / "stream_tbl")

    def _sink(batch_df, batch_id):
        txn.append_exactly_once(batch_df, r3, batch_id)
        # simulate the at-least-once retry storm: same id re-delivered
        txn.append_exactly_once(batch_df, r3, batch_id)

    q = (
        sdf.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert txn.read(spark, r3).count() == 1000


def test_txn_read_pruned_disjoint_range_is_empty(spark, tmp_path):
    """A range no file overlaps prunes every file: the read is an empty
    frame with the table's schema, not a schema-inference error."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

    root = str(tmp_path / "tbl")
    df = spark.range(0, 1000).withColumnRenamed("id", "k").selectExpr(
        "k", "k * 2 AS v"
    )
    txn.overwrite_with_stats(df, root, stat_cols=["k"], num_files=4)
    got, scanned, total = txn.read_pruned(spark, root, "k", 5000, 6000)
    assert (scanned, total) == (0, 4)
    assert got.count() == 0
    assert got.schema == txn.read(spark, root).schema


@pytest.mark.parametrize(
    "reader",
    [
        lambda spark, root: txn.changes(spark, root, since_version=0),
        lambda spark, root: txn.row_diff(spark, root, ["k"], v_from=0),
        lambda spark, root: txn.read_pruned(spark, root, "k", 0, 1),
        lambda spark, root: txn.read_pruned_multi(spark, root, {"k": (0, 1)}),
    ],
    ids=["changes", "row_diff", "read_pruned", "read_pruned_multi"],
)
def test_txn_readers_on_uncommitted_root_raise(spark, tmp_path, reader):
    """Every snapshot reader resolves the head the same way: a root with
    no commits is a loud FileNotFoundError, as in read and clone."""
    with pytest.raises(FileNotFoundError):
        reader(spark, str(tmp_path / "empty"))


def test_txn_schema_evolution_and_cdc_ivm(spark, tmp_path):
    """Schema evolution: a later append adds a column; read_evolved
    null-fills old rows. CDC: changes(since) returns exactly the rows
    of files added after `since`; an incremental materialized view
    folds ONLY the change feed and equals the full recompute."""
    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.incremental import (
        merge_partials,
        partial_agg,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

    root = str(tmp_path / "tbl")
    v0 = txn.overwrite(
        spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g")
        ),
        root,
    )
    v1 = txn.append(
        spark.range(50, 80).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("g"),
            F.lit("late").alias("note"),
        ),
        root,
    )
    evolved = txn.read_evolved(spark, root)
    assert set(evolved.columns) == {"k", "g", "note"}
    assert evolved.filter(F.col("note").isNull()).count() == 50

    # CDC: rows added after v0 are exactly the v1 batch
    delta = txn.changes(spark, root, since_version=v0)
    assert delta.count() == 30
    assert delta.agg(F.min("k"), F.max("k")).first() == (50, 79)

    # IVM: fold only the change feed into per-group partials
    view = partial_agg(
        txn.read(spark, root, version=v0), keys=["g"], sums=["k"]
    )
    view = merge_partials(
        view, partial_agg(delta.select("k", "g"), keys=["g"], sums=["k"]),
        keys=["g"],
    )
    full = partial_agg(txn.read_evolved(spark, root), keys=["g"], sums=["k"])
    a = sorted(tuple(r) for r in view.collect())
    b = sorted(tuple(r) for r in full.collect())
    assert a == b


def test_txn_delete_where_rewrites_only_hit_files(spark, tmp_path):
    """Row-level DELETE: files without matching rows carry into the new
    manifest by reference (same relative paths, byte-identical); hit
    files are anti-filtered and rewritten; time travel still sees the
    pre-delete rows until vacuum — and vacuum is the erasure point."""
    import hashlib
    import os

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

    root = str(tmp_path / "tbl")
    # 4 range-disjoint files on k: the delete predicate hits exactly one
    df = spark.range(0, 400).withColumnRenamed("id", "k")
    txn.overwrite_with_stats(df, root, ["k"], num_files=4)
    m0 = txn._read_manifest(root, 0)
    assert len(m0["files"]) == 4

    def digest(relf):
        with open(os.path.join(root, relf), "rb") as fh:
            return hashlib.md5(fh.read()).hexdigest()

    pre = {f: digest(f) for f in m0["files"]}

    v, n_hit, n_carried = txn.delete_where(spark, root, "k >= 50 AND k < 60")
    assert v == 1 and n_hit == 1 and n_carried == 3

    m1 = txn._read_manifest(root, 1)
    carried = [f for f in m1["files"] if f in pre]
    assert len(carried) == 3
    for f in carried:  # untouched files: same path, same bytes
        assert digest(f) == pre[f]

    got = {r[0] for r in txn.read(spark, root).collect()}
    assert got == set(range(0, 50)) | set(range(60, 400))
    # time travel: v0 still holds the deleted rows (erasure = vacuum)
    assert txn.read(spark, root, version=0).count() == 400
    txn.vacuum(root, keep_last=1)
    assert txn.versions(root) == [1]

    # no-match delete: head unchanged, nothing rewritten
    v2, n_hit2, _ = txn.delete_where(spark, root, "k = 999999")
    assert (v2, n_hit2) == (1, 0)
    assert len(txn.versions(root)) == 1


def test_txn_optimize_packs_small_files_carries_large(spark, tmp_path):
    """OPTIMIZE: small files fold into ~target-size bins; files already
    at/above target carry by reference untouched; data is unchanged."""
    import os

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    # one big (>1 MB: incompressible md5 payload) file + tiny appends
    big_df = (
        spark.range(0, 60000)
        .withColumnRenamed("id", "k")
        .withColumn("payload", F.md5(F.col("k").cast("string")))
        .coalesce(1)
    )
    txn.overwrite(big_df, root)
    for i in range(4):
        txn.append(
            spark.range(200000 + i * 10, 200000 + i * 10 + 10)
            .withColumnRenamed("id", "k")
            .withColumn("payload", F.md5(F.col("k").cast("string")))
            .coalesce(1),
            root,
        )
    base = txn._read_manifest(root, txn.versions(root)[-1])["files"]
    sizes = {f: os.path.getsize(os.path.join(root, f)) for f in base}
    big = max(sizes, key=sizes.get)

    # 1 MB target sits between the tiny appends and the big file, so
    # ONLY the tiny files pack
    assert sizes[big] >= 1024 * 1024
    v, n_packed, n_carried = txn.optimize_files(spark, root, target_file_mb=1)
    m = txn._read_manifest(root, v)
    assert n_packed == 4 and big in m["files"]
    assert len(m["files"]) < len(base)
    assert txn.read(spark, root).count() == 60040
    # idempotent: a second optimize finds nothing to fold
    v2, n2, _ = txn.optimize_files(spark, root, target_file_mb=1)
    assert (v2, n2) == (v, 0)


def test_txn_row_diff_cdc_semantics(spark, tmp_path):
    """Row-level CDC between versions: inserts/deletes/updates carry
    Delta-CDF ops; carried (immutable) files cancel without being read;
    a pure OPTIMIZE/compaction commit yields an EMPTY diff."""
    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

    root = str(tmp_path / "tbl")
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    txn.overwrite_with_stats(base, root, ["k"], num_files=4)  # v0

    # v1: delete k in [10,20) — one file rewritten
    txn.delete_where(spark, root, "k >= 10 AND k < 20")
    d1 = txn.row_diff(spark, root, ["k"], v_from=0, v_to=1).toPandas()
    assert set(d1["_op"]) == {"delete"}
    assert sorted(d1["k"]) == list(range(10, 20))

    # v2: append new keys + an updated copy of k=5 via merge-less append
    # (append duplicates the key; use overwrite to model an update)
    cur = txn.read(spark, root)
    updated = cur.withColumn(
        "v", F.when(F.col("k") == 5, F.lit(999)).otherwise(F.col("v"))
    ).unionByName(
        spark.range(1000, 1003).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    txn.overwrite_with_stats(updated, root, ["k"], num_files=4)  # v2
    d2 = txn.row_diff(spark, root, ["k"], v_from=1, v_to=2).toPandas()
    ops = d2.groupby("_op")["k"].apply(list).to_dict()
    assert sorted(ops["insert"]) == [1000, 1001, 1002]
    assert ops["update_pre"] == [5] and ops["update_post"] == [5]
    assert d2[d2["_op"] == "update_post"]["v"].iloc[0] == 999
    assert "delete" not in ops

    # v3: OPTIMIZE-style rewrite with identical rows -> EMPTY diff
    txn.overwrite_with_stats(txn.read(spark, root), root, ["k"], num_files=2)
    d3 = txn.row_diff(spark, root, ["k"], v_from=2, v_to=3)
    assert d3.count() == 0


def test_txn_clone_is_zero_copy_and_independent(spark, tmp_path):
    """Shallow clone: hardlinked data files (no bytes copied), fully
    independent histories — writes to the clone don't touch the source,
    and vacuuming the source cannot break the clone."""
    import os

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    txn.overwrite(spark.range(0, 500).withColumnRenamed("id", "k"), src)
    txn.append(spark.range(500, 600).withColumnRenamed("id", "k"), src)

    # clone at the OLD version: time-travel semantics carry over
    assert txn.clone(src, dst, version=0) == 0
    assert txn.read(spark, dst).count() == 500
    # zero-copy: every cloned file shares its inode with the source
    for rel in txn._read_manifest(dst, 0)["files"]:
        assert os.stat(os.path.join(dst, rel)).st_nlink >= 2

    # independence: writing to the clone leaves the source untouched
    txn.append(spark.range(900, 910).withColumnRenamed("id", "k"), dst)
    assert txn.read(spark, dst).count() == 510
    assert txn.read(spark, src).count() == 600

    # source vacuum keeps the clone readable (hardlinks own the bytes)
    txn.overwrite(spark.range(0, 10).withColumnRenamed("id", "k"), src)
    txn.vacuum(src, keep_last=1)
    assert txn.read(spark, dst).count() == 510
