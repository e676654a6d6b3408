"""Unit tests for operators not fully covered by the oracle gate:
upsert edge semantics, fill-direction divergence, split floor
arithmetic, metrics guards, pipeline orchestration param merge."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from mql5_economic_news_data_pipeline_2025_gcp__spark.operators import dedup
from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.upsert import upsert
from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.features import (
    with_filled,
)
from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.metrics import (
    group_metrics,
)
from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.split import (
    split_labels,
)
from mql5_economic_news_data_pipeline_2025_gcp__spark.pipeline import (
    DEFAULT_PARAMS,
    merge_params,
    run_automate,
)

TS = datetime.datetime


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_ts timestamp, Date date, Time string, Currency string, "
        "Event string, Impact string, Actual string, Forecast string, Previous string"
    )


def test_upsert_incoming_beats_existing(spark):
    d = datetime.date(2025, 1, 1)
    old = _events(spark, [(TS(2025, 1, 1, 9), d, "09:00", "USD", "NFP", "high", "1", "2", "3")])
    new = _events(spark, [(TS(2025, 1, 1, 9), d, "09:00", "USD", "NFP", "high", "9", "2", "3")])
    out = upsert(old, new).collect()
    assert len(out) == 1 and out[0]["Actual"] == "9"


def test_upsert_last_in_batch_wins(spark):
    d = datetime.date(2025, 1, 1)
    new = _events(
        spark,
        [
            (TS(2025, 1, 1, 9), d, "09:00", "USD", "NFP", "high", "first", "2", "3"),
            (TS(2025, 1, 1, 9), d, "09:00", "USD", "NFP", "high", "last", "2", "3"),
        ],
    ).coalesce(1)
    out = upsert(None, new).collect()
    assert len(out) == 1 and out[0]["Actual"] == "last"


def test_fill_direction_divergence(spark):
    # interior null adjacent to an edge null: ffill→bfill and bfill→ffill differ
    rows = [
        ("g", 1, None),
        ("g", 2, 10.0),
        ("g", 3, None),
        ("g", 4, 20.0),
    ]
    df = spark.createDataFrame(rows, "Currency string, event_ts long, v double")
    fb = with_filled(df, ["v"], key=["Currency"], order=["event_ts"],
                     direction="ffill_then_bfill")
    bf = with_filled(df, ["v"], key=["Currency"], order=["event_ts"],
                     direction="bfill_then_ffill")
    fb_vals = [r["v"] for r in fb.orderBy("event_ts").collect()]
    bf_vals = [r["v"] for r in bf.orderBy("event_ts").collect()]
    assert fb_vals == [10.0, 10.0, 10.0, 20.0]  # edge null filled by bfill fallback
    assert bf_vals == [10.0, 10.0, 20.0, 20.0]  # interior null back-filled first


def test_split_floor_arithmetic(spark):
    n = 10
    df = spark.range(n).withColumn("event_ts", F.col("id"))
    out = split_labels(df, order=("event_ts",), exact=True)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts == {"train": 7, "val": 1, "test": 2}  # int(10*.7)=7, int(10*.15)=1


def test_metrics_guards(spark):
    rows = [
        ("USD", "A", 1.0, 1.5), ("USD", "A", 2.0, 2.5),   # normal group
        ("USD", "B", 3.0, 3.0), ("USD", "B", 3.0, 4.0),   # constant actuals -> R2 = -1.0
        ("USD", "C", 9.0, 9.0),                             # n=1 -> dropped
    ]
    df = spark.createDataFrame(rows, "Currency string, Event string, actual double, prediction double")
    m = {(r["Currency"], r["Event"]): r for r in
         group_metrics(df, actual_col="actual").collect()}
    assert ("USD", "C") not in m
    assert m[("USD", "B")]["R2"] == -1.0
    assert abs(m[("USD", "A")]["MSE"] - 0.25) < 1e-12


def test_merge_params_semantics():
    fp = {"SEQ_LENGTH": 3, "note": "file"}
    bp = {"SEQ_LENGTH": 7}
    assert merge_params(fp, bp)["SEQ_LENGTH"] == 7           # body overrides file
    assert merge_params(fp, None)["SEQ_LENGTH"] == 3         # file overrides default
    assert merge_params(None, None) == DEFAULT_PARAMS
    assert merge_params(fp, bp, merge=False)["SEQ_LENGTH"] == 7  # body alone
    assert merge_params(fp, bp)["note"] == "file"            # non-model keys pass through


def test_run_automate_end_to_end(spark):
    # 2 series x 40 rows of synthetic events through the full train/val/test flow
    rows = []
    base = TS(2025, 1, 1)
    for g, cur in enumerate(["USD", "EUR"]):
        for i in range(40):
            rows.append(
                (base + datetime.timedelta(hours=i), cur, "CPI", float(i % 7) + g, 1)
            )
    df = spark.createDataFrame(
        rows, "event_ts timestamp, Currency string, Event string, value double, ImpactOrdinal int"
    )
    res = run_automate(df)
    assert set(res) == {"train", "validate", "test"}
    train_metrics = res["train"].metrics.collect()
    assert len(train_metrics) == 2
    live = res["test"].extra["live_forecasts"].collect()
    assert len(live) == 2 and all(r["ForecastValue"] is not None for r in live)


def test_route_and_predict_branches(spark):
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.inference import (
        route_and_predict,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.routing import (
        model_routing,
    )

    # series A: 5 rows -> rnn (threshold 4); series B: 2 rows -> xgb
    rows = [(i, TS(2025, 1, 1, 9 + i), "A", "e", float(100 * (i + 1))) for i in range(5)]
    rows += [(10, TS(2025, 1, 2, 9), "B", "e", -400.0), (11, TS(2025, 1, 2, 10), "B", "e", 0.0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id string, event_type string, value_c double"
    )
    routing = model_routing(df, key=("user_id", "event_type"), threshold=4)
    out = {r["event_id"]: r for r in route_and_predict(df, routing).collect()}
    # rnn: only rows 3,4 have a full 3-seq; row 3 seq=[100,200,300]
    assert set(out) == {3, 4, 11}
    assert out[3]["model_type"] == "rnn"
    assert out[3]["prediction"] == 0.25 * 100 + 0.25 * 200 + 0.5 * 300
    assert out[4]["prediction"] == 0.25 * 200 + 0.25 * 300 + 0.5 * 400
    # xgb: event_id 11, lag1=-400 < 0, bucket=11%5=1 < 2 -> lag1*0.5
    assert out[11]["model_type"] == "xgb"
    assert out[11]["prediction"] == -200.0


def test_sinks_modes(spark, tmp_path):
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.sinks import (
        load_splits,
        persist_splits,
        save_conditional,
        save_replace,
    )

    df1 = spark.range(3).withColumnRenamed("id", "x")
    df2 = spark.range(5).withColumnRenamed("id", "x")
    t = str(tmp_path / "live")
    # S10: first write appends (table absent), second replaces
    assert save_conditional(spark, df1, t) == "append"
    assert save_conditional(spark, df2, t) == "overwrite"
    assert spark.read.parquet(t).count() == 5
    # S8 replace
    save_replace(df1, t)
    assert spark.read.parquet(t).count() == 3
    # S12 split round-trip
    paths = persist_splits({"train": df1, "val": df2}, str(tmp_path / "splits"))
    back = load_splits(spark, str(tmp_path / "splits"), names=("train", "val"))
    assert back["train"].count() == 3 and back["val"].count() == 5
    assert set(paths) == {"train", "val"}


def test_asof_join_semantics(spark):
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.asof import (
        asof_join,
    )

    left = spark.createDataFrame(
        [(1, "u", TS(2025, 1, 1, 9, 0)), (2, "u", TS(2025, 1, 1, 12, 0)),
         (3, "v", TS(2025, 1, 1, 9, 0))],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", TS(2025, 1, 1, 9, 0), 10), ("u", TS(2025, 1, 1, 11, 0), 20),
         ("v", TS(2025, 1, 1, 10, 0), 99)],
        "user_id string, ts timestamp, rv long",
    )
    out = {r["event_id"]: r["rv_asof"] for r in asof_join(
        left, right, key=("user_id",), value_cols=("rv",)
    ).collect()}
    assert out[1] == 10      # exactly-simultaneous right row IS visible
    assert out[2] == 20      # latest at-or-before wins
    assert out[3] is None    # no prior right row -> NULL (left outer)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.bucketed import (
        cluster_for_join,
    )

    left = spark.range(1000).withColumnRenamed("id", "k").withColumn(
        "lv", F.col("k") * 2
    )
    right = spark.range(500).withColumnRenamed("id", "k").withColumn(
        "rv", F.col("k") * 3
    )
    bl, br = cluster_for_join(spark, left, right, key=("k",), n_buckets=8)
    # defeat broadcast so the co-location (not broadcast) avoids the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bl.join(br, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 500
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS _bkt_left")
        spark.sql("DROP TABLE IF EXISTS _bkt_right")


def test_stream_upsert_foreachbatch(spark, tmp_path):
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.ingest import (
        stream_upsert_foreachbatch,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.upsert import (
        upsert,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.tables import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    target = str(tmp_path / "events_upserted")
    out = stream_upsert_foreachbatch(spark, sf, target)

    # streamed merge == batch upsert on the same natural key
    ev = load_table(spark, sf, "events").withColumn("event_date", F.to_date("ts"))
    expect = upsert(None, ev, key=("user_id", "event_type", "event_date"), recency_col="ts")
    assert out.count() == expect.count()
    # one row per natural key
    assert (
        out.groupBy("user_id", "event_type", "event_date").count()
        .filter(F.col("count") > 1).count() == 0
    )


def test_split_scale_path(spark):
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.split import (
        split_labels,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.tables import (
        load_table,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    labeled = split_labels(ev, order=("ts",), exact=False)
    counts = {r["split"]: r["count"] for r in labeled.groupBy("split").count().collect()}
    n = sum(counts.values())
    assert n == ev.count()
    # quantile cutoffs approximate the 70/15/15 ratios
    assert abs(counts["train"] / n - 0.70) < 0.05
    assert abs(counts.get("val", 0) / n - 0.15) < 0.05
    # chronological: max(train ts) <= min(test ts)
    mx_train = labeled.filter(F.col("split") == "train").agg(F.max("ts")).first()[0]
    mn_test = labeled.filter(F.col("split") == "test").agg(F.min("ts")).first()[0]
    assert mx_train <= mn_test


def test_salted_join_matches_plain_join(spark):
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.skew import (
        salted_join,
    )

    big = spark.createDataFrame(
        [(i % 3, i) for i in range(300)], "k int, payload int"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k int, v string")
    expected = sorted(
        (r["k"], r["payload"], r["v"]) for r in big.join(small, "k").collect()
    )
    got = sorted(
        (r["k"], r["payload"], r["v"])
        for r in salted_join(big, small, key=("k",), n_salt=4).collect()
    )
    assert got == expected and len(got) == 300


def test_save_partitioned_dynamic_overwrite(spark, tmp_path):
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.sinks import (
        save_partitioned,
    )

    p = str(tmp_path / "events_by_month")
    df1 = spark.createDataFrame(
        [("2025-01", 1), ("2025-02", 2)], "event_month string, x int"
    )
    save_partitioned(df1, p)
    # re-write ONLY february; january partition must survive
    df2 = spark.createDataFrame([("2025-02", 99)], "event_month string, x int")
    save_partitioned(df2, p)
    out = {(r["event_month"], r["x"]) for r in spark.read.parquet(p).collect()}
    assert out == {("2025-01", 1), ("2025-02", 99)}
    # partition pruning: a month predicate scans one partition
    pruned = spark.read.parquet(p).filter(F.col("event_month") == "2025-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_month" in plan


def test_run_automate_with_routed_inference(spark):
    from mql5_economic_news_data_pipeline_2025_gcp__spark.pipeline import (
        routed_stub_predict,
    )

    rows = []
    base = TS(2025, 1, 1)
    # USD: 60 rows -> rnn branch (threshold 50); EUR: 30 rows -> xgb
    for cur, n in (("USD", 60), ("EUR", 30)):
        for i in range(n):
            rows.append(
                (base + datetime.timedelta(hours=i), cur, "CPI", float(i % 9), 1)
            )
    df = spark.createDataFrame(
        rows, "event_ts timestamp, Currency string, Event string, value double, ImpactOrdinal int"
    )
    res = run_automate(df, predict_fn=routed_stub_predict)
    m = {(r["Currency"], r["Event"]): r for r in res["train"].metrics.collect()}
    assert ("USD", "CPI") in m and ("EUR", "CPI") in m
    assert all(r["Samples"] >= 2 for r in m.values())
    live = res["test"].extra["live_forecasts"].collect()
    assert len(live) >= 1 and all(r["ForecastValue"] is not None for r in live)


def test_series_trend_fast_matches_grouped_map(spark):
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.grouped import (
        series_trend,
        series_trend_fast,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import (
        keyed_events,
    )

    ev = keyed_events(spark, "/root/testdata/sf0.001")
    kw = dict(key=("user_id", "event_type"), value_col="value_c", order=("ts", "event_id"))
    a = sorted(map(tuple, series_trend(ev, **kw).collect()))
    b = sorted(map(tuple, series_trend_fast(ev, **kw).collect()))
    assert a == b and len(a) > 0


@pytest.fixture(params=["local", "distributed"])
def cc_path(request, monkeypatch):
    """Both paths of ``dedup.dedup_clusters``: the union-find pass (the
    default at test scale) and the large/small-star rounds, forced by
    lowering ``LOCAL_GRAPH_MAX_PAIRS``."""
    if request.param == "distributed":
        monkeypatch.setattr(dedup, "LOCAL_GRAPH_MAX_PAIRS", -1)
    return request.param


def test_dedup_clusters_chain_and_singleton(spark, cc_path):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)], "doc_id long")
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(pairs, nodes).collect()
    }
    # chain 1-2-3 collapses to min id 1; 5 has no edge and stays alone
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 9: 7}


def test_profit_query_broadcasts_all_dims(spark):
    """Q9-analogue plan shape: part/supplier/nation broadcast into the
    lineitem scan; the only shuffle is the final (nation, year) agg."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["rel_profit_by_nation_year"].spark_fn(spark, "/root/testdata/sf0.001")
    df.collect()  # let AQE finalize the executed plan
    # toString renders final plan + AQE's "Initial Plan" echo; keep the final
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_returned_topk_pushes_filters_into_scan(spark):
    """Q10-analogue: returnflag + orderdate predicates reach parquet."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["rel_returned_revenue_topk"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # assert individual filter fragments, not the rendered list: the
    # ordering/prefix of PushedFilters is not a stable cross-version
    # contract, the pushed predicates themselves are
    assert "EqualTo(l_returnflag,R)" in plan, plan
    assert "IsNotNull(l_returnflag)" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan


def test_sketch_profile_tolerance(spark):
    """Sketch outputs aren't oracle-checkable across engines; bound them
    against the exact answers computed in the same engine instead."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    sf = "/root/testdata/sf0.01"
    approx = {
        r["event_type"]: r
        for r in REGISTRY["evt_sketch_profile"].spark_fn(spark, sf).collect()
    }
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import (
        keyed_events,
    )

    ev = keyed_events(spark, sf)
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr(
                "percentile_cont(0.5) WITHIN GROUP (ORDER BY value_c)"
            ).alias("p50"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for et, a in approx.items():
        e = exact[et]
        assert abs(a["approx_users"] - e["users"]) <= max(2, 0.02 * e["users"]), et
        # approx_percentile returns an actual data value; the true median
        # of the sorted values must sit within 1% rank distance
        vals = sorted(
            x["value_c"]
            for x in ev.filter(F.col("event_type") == et).select("value_c").collect()
        )
        import bisect

        approx_rank = bisect.bisect_left(vals, a["value_c_p50_p99"][0]) / len(vals)
        assert abs(approx_rank - 0.5) <= 0.01, (et, approx_rank)
        assert a["n"] == e["n"]


def test_fan_out_noop_when_parallel(spark):
    """fan_out must not re-shuffle input that already arrives with full
    parallelism (at 100 TB every scan does) — and must still fan out the
    single-file test fixture case."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import fan_out, t

    docs = t(spark, "/root/testdata/sf0.001", "documents")
    already = docs.repartition(spark.sparkContext.defaultParallelism)
    assert fan_out(spark, already) is already  # literal no-op, zero new Exchange

    single = docs.coalesce(1)
    fanned = fan_out(spark, single)
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_run_automate_quantile_split_path(spark):
    """run_automate(exact_split=False) exercises the full train/val/test
    flow on the approxQuantile-cutoff split (the 100 TB path — no global
    window anywhere); ratios hold within tolerance and every stage still
    produces its outputs."""
    import datetime as dt

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.split import (
        split_labels,
    )

    rows = []
    base = dt.datetime(2025, 1, 1)
    for g, cur in enumerate(["USD", "EUR"]):
        for i in range(200):
            rows.append(
                (base + dt.timedelta(hours=i), cur, "CPI", float(i % 7) + g, 1)
            )
    df = spark.createDataFrame(
        rows,
        "event_ts timestamp, Currency string, Event string, value double, "
        "ImpactOrdinal int",
    )
    labeled = split_labels(df, order=("event_ts",), exact=False)
    counts = {r["split"]: r["count"] for r in labeled.groupBy("split").count().collect()}
    n = sum(counts.values())
    assert n == df.count()
    assert abs(counts["train"] / n - 0.70) < 0.05
    assert abs(counts.get("val", 0) / n - 0.15) < 0.05

    res = run_automate(df, exact_split=False)
    assert set(res) == {"train", "validate", "test"}
    assert len(res["train"].metrics.collect()) == 2
    live = res["test"].extra["live_forecasts"].collect()
    assert len(live) == 2 and all(r["ForecastValue"] is not None for r in live)


def test_ann_recall_at_k(spark):
    """Retrieval-quality gate for the approximate similarity paths
    (VERDICT r1 #5): recall@5 vs the brute-force oracle on the sf0.01
    fixture, plus monotonicity of the two recall levers (multiprobe for
    sign-LSH, nprobe for IVF). Everything here is hash-deterministic, so
    thresholds are calibrated measurements minus a fixture margin
    (measured: mp0 0.164, mp1 0.512, ivf2 0.52, ivf4 0.772)."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.similarity import (
        _as_double,
        bucketed_ann_topk,
        cosine_topk,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 50)
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    k = 5
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=k).collect()
    }
    assert len(exact) == 50 * k  # brute force finds a full top-k per query

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & exact) / len(exact)

    r_mp0 = recall(bucketed_ann_topk(emb, queries, k=k))
    r_mp1 = recall(bucketed_ann_topk(emb, queries, k=k, multiprobe=1))
    r_ivf2 = recall(ivf_topk(emb, queries, centroids, k=k, nprobe=2))
    r_ivf4 = recall(ivf_topk(emb, queries, centroids, k=k, nprobe=4))

    assert r_mp1 >= 0.40, r_mp1
    assert r_ivf2 >= 0.40, r_ivf2
    assert r_ivf4 >= 0.65, r_ivf4
    # the quality knobs actually buy recall
    assert r_mp1 > r_mp0, (r_mp0, r_mp1)
    assert r_ivf4 > r_ivf2, (r_ivf2, r_ivf4)


def test_merge_params_last_run_fallback(tmp_path):
    """Precedence chain incl. the MLflow-style last-run fallback
    (VERDICT r1 #8): defaults < last_run < file < body."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.pipeline import (
        load_last_run_params,
        merge_params,
        record_run_params,
    )

    hist = str(tmp_path / "runs" / "history.jsonl")
    assert load_last_run_params(hist) is None
    record_run_params(hist, {"SEQ_LENGTH": 11, "HIDDEN_SIZE": 128})
    record_run_params(hist, {"SEQ_LENGTH": 13})
    last = load_last_run_params(hist)
    assert last == {"SEQ_LENGTH": 13}  # newest run wins

    # fallback fills when file+body absent
    assert merge_params(None, None, last_run_params=last)["SEQ_LENGTH"] == 13
    # file beats fallback, body beats file
    assert merge_params({"SEQ_LENGTH": 5}, None, last_run_params=last)["SEQ_LENGTH"] == 5
    assert merge_params({"SEQ_LENGTH": 5}, {"SEQ_LENGTH": 7}, last_run_params=last)["SEQ_LENGTH"] == 7
    # defaults still supply everything the sources don't
    assert merge_params(None, None, last_run_params=last)["EPOCHS"] == 1
    # merge=False: strongest single source only
    assert merge_params(None, None, merge=False, last_run_params=last)["SEQ_LENGTH"] == 13
    assert merge_params({"SEQ_LENGTH": 5}, None, merge=False, last_run_params=last)["SEQ_LENGTH"] == 5


def test_jaccard_all_pairs_posting_guard(spark):
    """All-pairs jaccard must refuse boilerplate-heavy inputs (quadratic
    join fan-out) and point the caller at the candidate-fed path."""
    import pytest

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.dedup import (
        jaccard_pairs,
    )

    # 50 docs all sharing one shingle -> posting list of 50 > limit 10
    sh = spark.createDataFrame(
        [(i, "the same boilerplate") for i in range(50)], "doc_id long, shingle string"
    )
    with pytest.raises(ValueError, match="all-pairs jaccard refused"):
        jaccard_pairs(sh, max_posting_list=10)
    # candidate-fed path is exempt from the guard
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    assert jaccard_pairs(sh, pairs=pairs, max_posting_list=10).count() == 1


def test_merge_partials_outer_semantics(spark):
    """Groups only in history, only in the batch, and in both must all
    survive the merge with correctly folded state."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.incremental import (
        merge_partials,
        partial_agg,
    )

    old_rows = spark.createDataFrame(
        [("a", 1), ("a", 3), ("b", 10)], "k string, v long"
    )
    new_rows = spark.createDataFrame(
        [("a", 5), ("c", 7)], "k string, v long"
    )
    old = partial_agg(old_rows, ["k"], sums=["v"], mins=["v"], maxs=["v"])
    new = partial_agg(new_rows, ["k"], sums=["v"], mins=["v"], maxs=["v"])
    m = {r["k"]: r for r in merge_partials(old, new, ["k"]).collect()}
    assert m["a"]["n"] == 3 and m["a"]["sum_v"] == 9
    assert m["a"]["min_v"] == 1 and m["a"]["max_v"] == 5
    assert m["b"]["n"] == 1 and m["b"]["sum_v"] == 10  # history-only survives
    assert m["c"]["n"] == 1 and m["c"]["sum_v"] == 7   # batch-only survives

    import pytest

    bad = old.withColumnRenamed("sum_v", "avg_v")
    with pytest.raises(ValueError, match="unmergeable"):
        merge_partials(bad, bad, ["k"])


def test_decontaminate_broadcasts_dictionary(spark):
    """The eval-set shingle dictionary must reach the corpus side as a
    broadcast hash join — a shuffle of the corpus on shingle would be
    the 100 TB failure mode."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["doc_decontaminate"].spark_fn(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan, plan


def test_run_automate_history_roundtrip(spark, tmp_path):
    """A parameterless run after a parameterized one reproduces the
    recorded configuration via the history fallback (API last-run
    parity wired into orchestration)."""
    import datetime as dt

    from mql5_economic_news_data_pipeline_2025_gcp__spark.pipeline import (
        load_params_history,
    )

    rows = []
    base = dt.datetime(2025, 1, 1)
    for g, cur in enumerate(["USD", "EUR"]):
        for i in range(40):
            rows.append(
                (base + dt.timedelta(hours=i), cur, "CPI", float(i % 7) + g, 1)
            )
    df = spark.createDataFrame(
        rows,
        "event_ts timestamp, Currency string, Event string, value double, "
        "ImpactOrdinal int",
    )
    hist = str(tmp_path / "history.jsonl")
    r1 = run_automate(df, params={"SEQ_LENGTH": 9}, history_path=hist)
    assert r1["train"].extra["params"]["SEQ_LENGTH"] == 9

    r2 = run_automate(df, history_path=hist)  # no params: fall back
    assert r2["train"].extra["params"]["SEQ_LENGTH"] == 9
    # both runs recorded
    assert len(load_params_history(hist)) == 2


def test_partition_pruning_on_month_layout(spark, tmp_path):
    """SCALE.md claims month-partitioned layouts let the HWM predicate
    prune whole partitions — prove it: a month-partitioned write, a
    filtered read, and a plan whose scan lists only the matching
    partition."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import (
        keyed_events,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.sinks import (
        save_partitioned,
    )

    ev = keyed_events(spark, "/root/testdata/sf0.001").withColumn(
        "month", F.date_format("ts", "yyyy-MM")
    )
    path = str(tmp_path / "events_by_month")
    save_partitioned(ev, path, partition_cols=("month",))

    target = ev.agg(F.max("month")).first()[0]
    back = spark.read.parquet(path).filter(F.col("month") == target)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and target in plan, plan
    # the pruned count equals the partition's true row count
    expected = ev.filter(F.col("month") == target).count()
    assert back.count() == expected and expected > 0


def test_dtw_matches_reference(spark):
    """Spark DTW distances must equal a pure-Python reference DP run
    driver-side on the same (sorted, normalized) series."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.dtw import (
        DEFAULT_PATTERN,
        dtw_band,
        series_dtw,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import (
        keyed_events,
    )
    import numpy as np

    ev = keyed_events(spark, "/root/testdata/sf0.001")
    got = {
        (r["user_id"], r["event_type"]): r
        for r in series_dtw(ev).collect()
    }
    rows = ev.select("user_id", "event_type", "ts", "value_c").collect()
    series: dict = {}
    for r in rows:
        series.setdefault((r["user_id"], r["event_type"]), []).append(
            (r["ts"], r["value_c"])
        )
    pat = np.asarray(DEFAULT_PATTERN)
    checked = 0
    for k, pts in sorted(series.items())[:10]:
        v = np.array([p[1] for p in sorted(pts)], dtype=np.float64)
        lo, hi = v.min(), v.max()
        norm = np.zeros_like(v) if hi == lo else (v - lo) / (hi - lo) * 2 - 1
        expect = round(dtw_band(norm, pat, 3), 6)
        assert got[k]["dtw_dist"] == expect, (k, got[k]["dtw_dist"], expect)
        assert got[k]["n"] == len(v)
        checked += 1
    assert checked == 10


def test_star_cc_matches_union_find(spark, cc_path):
    """dedup_clusters must produce identical components to a
    driver-side union-find on randomized graphs (long chains, stars,
    cliques, disjoint components, singletons) on both paths."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = []
        # long chain (the O(diameter) worst case)
        chain = rng.sample(range(n), 20)
        edges += list(zip(chain, chain[1:]))
        # a clique and a star
        cl = rng.sample(range(n), 5)
        edges += [(a, b) for i, a in enumerate(cl) for b in cl[i + 1:]]
        hub = rng.randrange(n)
        edges += [(hub, rng.randrange(n)) for _ in range(5)]

        # reference union-find
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            if a != b:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        expected = {x: find(x) for x in range(n)}

        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
        )
        nodes = spark.range(n).withColumnRenamed("id", "doc_id")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.dedup_clusters(pairs, nodes).collect()
        }
        assert got == expected, f"trial {trial}: {cc_path} CC mismatch"


def test_dedup_clusters_raises_when_rounds_run_out(spark, monkeypatch):
    """A star loop still changing at its round cap must fail loudly,
    not hand back a half-contracted labelling."""
    monkeypatch.setattr(dedup, "LOCAL_GRAPH_MAX_PAIRS", -1)
    monkeypatch.setattr(dedup, "STAR_MAX_ROUNDS", 1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "id_a long, id_b long"
    )
    nodes = spark.range(20).withColumnRenamed("id", "doc_id")
    with pytest.raises(RuntimeError, match="STAR_MAX_ROUNDS"):
        dedup.dedup_clusters(pairs, nodes).collect()


def test_dtw_fast_matches_grouped(spark):
    """The batch-carry mapInPandas DTW must equal the per-group form on
    every series at sf0.001 — including groups that straddle Arrow
    batch boundaries (forced tiny batches)."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.dtw import (
        series_dtw,
        series_dtw_fast,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import (
        keyed_events,
    )

    ev = keyed_events(spark, "/root/testdata/sf0.001")
    slow = {
        (r["user_id"], r["event_type"]): (r["n"], r["dtw_dist"])
        for r in series_dtw(ev).collect()
    }
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        fast = {
            (r["user_id"], r["event_type"]): (r["n"], r["dtw_dist"])
            for r in series_dtw_fast(ev).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert fast == slow


def test_lsh_selfjoin_reuses_exchange(spark):
    """lsh_candidate_pairs claims the signature lineage materializes in
    ONE exchange reused by both self-join sides — assert ReusedExchange
    is actually in the plan (the minhash computation must not run
    twice)."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["doc_minhash_lsh_candidates"].spark_fn(
        spark, "/root/testdata/sf0.001"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in plan, plan


def test_scd2_single_exchange(spark):
    """rel_scd2_priority_dim claims one custkey shuffle services both
    windows and the group-by — assert exactly one hash exchange."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["rel_scd2_priority_dim"].spark_fn(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_monthly_catchup_ingest(spark, tmp_path):
    """Cadence + HWM + upsert composed: a runner that was down for two
    fires catches up via fires_between, ingesting each month's
    increment through the high-water-mark filter; the final table
    equals a single full ingest."""
    import datetime as dt

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.cleaning import (
        high_water_mark_filter,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.upsert import (
        upsert,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.schedule import (
        fires_between,
    )

    rows = []
    for m in (1, 2, 3):
        for d in (3, 12, 21):
            rows.append(
                (dt.datetime(2025, m, d, 9), dt.date(2025, m, d), "09:00",
                 "USD", f"EV{m}", "high", str(m * d), "2", "3")
            )
    landing = spark.createDataFrame(
        rows,
        "event_ts timestamp, Date date, Time string, Currency string, "
        "Event string, Impact string, Actual string, Forecast string, "
        "Previous string",
    )

    table = None
    fires = fires_between(dt.datetime(2025, 1, 1), dt.datetime(2025, 4, 1))
    assert len(fires) == 3  # Feb 1, Mar 1, Apr 1
    for fire in fires:
        arrived = landing.filter(F.col("event_ts") < F.lit(fire))
        fresh = high_water_mark_filter(arrived, table)
        table = upsert(table, fresh) if table is not None else fresh
        # checkpoint materializes the monthly state like a real sink
        table = spark.createDataFrame(table.collect(), table.schema)

    assert table.count() == landing.count()
    got = {(r["Event"], r["Date"]) for r in table.collect()}
    expect = {(r["Event"], r["Date"]) for r in landing.collect()}
    assert got == expect


def test_tree_compile_null_and_leaf_semantics(spark):
    """Compiled trees must follow default-right on NULL features and
    evaluate leaves exactly; the SQL text form must agree with the
    Column form on the same rows."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.treecompile import (
        STUB_TREES,
        compile_ensemble,
        ensemble_to_sql,
    )

    df = spark.createDataFrame(
        [(1, 4000, 0), (2, 6000, 2), (3, None, 3), (4, 20000, 2)],
        "id long, lag1_c long, impact_ord int",
    )
    scored = df.withColumn(
        "score", compile_ensemble(STUB_TREES, learning_rate=0.5, base_score=100.0)
    )
    got = {r["id"]: r["score"] for r in scored.collect()}
    # id=1: t1 lte -> -25; t2 lte (ord 0<=1) -> -10 => 100 + .5*(-35) = 82.5
    assert got[1] == 82.5
    # id=2: t1 gt -> 40; t2 gt+lte -> 5 => 100 + .5*45 = 122.5
    assert got[2] == 122.5
    # id=3: NULL lag -> default-right both trees: 40; ord 3 -> gt, lag NULL -> gt: 30
    assert got[3] == 100 + 0.5 * (40 + 30)
    # id=4: 20000 > 5000 -> 40; ord 2 -> gt, 20000 > 15000 -> 30
    assert got[4] == 135.0

    sql = ensemble_to_sql(STUB_TREES, learning_rate=0.5, base_score=100.0)
    via_sql = {r["id"]: r["s"] for r in df.selectExpr("id", f"{sql} AS s").collect()}
    assert via_sql == got


def test_q2_q20_single_lineitem_scan(spark):
    """The correlated-min/nested-agg rollups (Q2/Q20 analogues) must be
    window-form over the first aggregate — ONE lineitem scan, no
    self-join of the aggregate with itself."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    for name, n_dims in [("rel_min_cost_supplier", 3), ("rel_dominant_suppliers", 2)]:
        df = REGISTRY[name].spark_fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        # one fact scan + the dimension scans, nothing scanned twice
        assert plan.count("Scan parquet") == 1 + n_dims, f"{name}: {plan}"
        assert "SortMergeJoin" not in plan, f"{name}: {plan}"


def test_bm25_inlist_prunes_before_shuffle(spark):
    """BM25's query-term IN-list must reach the scan side (StringContains
    / In pushdown) so the token stream is pruned map-side; and the
    rank window input is only matched docs, far smaller than the corpus."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["doc_bm25_search"].spark_fn(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert 0 < len(rows) <= 20
    # deterministic rank contract: strictly increasing, tie-broken
    rnks = [r["rnk"] for r in rows]
    assert rnks == sorted(rnks) and len(set(rnks)) == len(rnks)


def test_winsorize_single_series_shuffle(spark):
    """evt_winsorize services rank window + cuts agg + final agg from
    the event_type partitioning: at most 2 hash exchanges end-to-end
    (scan-side + the broadcast-join result re-agg); cuts ride a
    broadcast."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["evt_winsorize"].spark_fn(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert plan.count("BroadcastExchange") >= 1, plan


def test_kfold_folds_are_balanced(spark):
    """md5-based fold assignment must be uniform enough to use as CV
    folds (each fold within 25% of perfect balance at sf0.001)."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["emb_kfold_assign"].spark_fn(spark, "/root/testdata/sf0.001")
    import collections

    per_fold = collections.Counter()
    total = 0
    for r in df.collect():
        per_fold[r["fold"]] += r["n"]
        total += r["n"]
    assert set(per_fold) == {0, 1, 2, 3, 4}
    ideal = total / 5
    for fold, n in per_fold.items():
        assert abs(n - ideal) < 0.25 * ideal, (fold, n, ideal)


def test_bloom_filter_runtime_injection(spark):
    """Session posture enables runtime row-level bloom filters; prove
    the mechanism fires: a selective dim filter into a shuffle join
    injects might_contain() on the fact scan side. Size thresholds are
    lowered here because they are met naturally only at real scale."""
    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import t

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        o = t(spark, "/root/testdata/sf0.001", "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = t(spark, "/root/testdata/sf0.001", "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert j.count() > 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_ewma_collapses_to_one_window(spark):
    """The 10 stacked lag() calls share one window spec — Catalyst must
    plan them as a SINGLE Window operator over a single series shuffle,
    not 10 passes."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["evt_ewma"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Window") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_lloyd_kmeans_matches_numpy(spark):
    """Full Lloyd iterations vs a numpy reference with IDENTICAL init
    (k smallest ids), quantization (micro-int coordinate sums), cosine
    rounding, tie-breaks, and convergence rule — assignments and
    iteration count must agree exactly."""
    import numpy as np

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.kmeans import (
        lloyd_kmeans,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import t

    k, sf = 8, "/root/testdata/sf0.001"
    emb = t(spark, sf, "embeddings")
    assigned, n_iters = lloyd_kmeans(emb, k=k)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}

    rows = sorted(
        (r["vec_id"], np.array(r["embedding"], dtype="float64"))
        for r in emb.collect()
    )
    ids = [i for i, _ in rows]
    X = np.stack([e for _, e in rows])

    def assign(C):
        out = []
        for x in X:
            best = None
            for j, c in enumerate(C):
                cs = round(
                    float(np.dot(x, c) / (np.linalg.norm(x) * np.linalg.norm(c))),
                    6,
                )
                cand = (cs, -j)
                if best is None or cand > best:
                    best = cand
            out.append(-best[1])
        return np.array(out)

    def micro(C):
        return [tuple(round(x * 1_000_000) for x in c) for c in C]

    C = [X[ids.index(j)].tolist() for j in range(k)]
    ref_iters = 0
    for _ in range(10):
        ref_iters += 1
        a = assign(C)
        Xi = np.round(X * 1_000_000).astype("int64")
        newC = []
        for j in range(k):
            m = a == j
            if m.any():
                newC.append(((Xi[m].sum(axis=0) / m.sum()) / 1_000_000.0).tolist())
            else:
                newC.append(C[j])
        if micro(newC) == micro(C):
            C = newC
            break
        C = newC
    ref = dict(zip(ids, assign(C)))

    assert n_iters == ref_iters
    assert got == ref


def test_incremental_join_equals_full(spark):
    """Appending per-batch delta joins must equal re-joining the full
    fact table, batch after batch (the join analogue of the
    merge_partials associativity gate)."""
    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.incremental import (
        incremental_join_append,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import t

    sf = "/root/testdata/sf0.001"
    o = t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    dim = t(spark, sf, "customer").select("c_custkey", "c_mktsegment").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    batches = [
        o.filter(F.col("o_orderkey") % 3 == i) for i in range(3)
    ]
    m = None
    for b in batches:
        m = incremental_join_append(m, b, dim)
    full = o.join(F.broadcast(dim), "o_custkey")

    def key_set(df):
        return {
            (r["o_orderkey"], r["o_custkey"], r["c_mktsegment"])
            for r in df.collect()
        }

    assert key_set(m) == key_set(full)
    assert m.count() == full.count()


def test_lsh_candidate_recall_on_high_jaccard(spark):
    """LSH banding completeness gate: every pair with TRUE 3-gram
    Jaccard >= 0.4 must appear in the banded candidate set (at 2-row
    bands over 8 minhashes, P[miss] = (1-J^2)^4 is < 3% at J=0.4 and
    the fixture's high-J pairs are near-identical — a miss means the
    banding broke, not bad luck)."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures_mapside,
        shingles,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import fan_out, t

    docs = fan_out(spark, t(spark, "/root/testdata/sf0.001", "documents"))
    sh = shingles(docs, n=3)
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(sh, threshold=0.4, max_posting_list=None).collect()
    }
    assert exact, "fixture lost its high-jaccard near-dup pairs"
    sig = minhash_signatures_mapside(docs)
    cand = {
        (r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig).collect()
    }
    missed = exact - cand
    assert not missed, f"LSH candidates miss high-J pairs: {missed}"


def test_ohlc_single_series_shuffle(spark):
    """OHLC bars: both row_number windows and the final aggregate all
    key on (user_id, event_type, bar_hour) — ONE hash exchange total."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["evt_ohlc_bars"].spark_fn(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_mom_growth_windows_over_aggregate(spark):
    """MoM growth: the lag window must run over the month AGGREGATE
    (thousands of rows), never the raw orders — the aggregate exchange
    plus at most one window re-partition."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["rel_mom_revenue_growth"].spark_fn(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    # exactly one aggregate pair (partial+final) over orders, one Window
    assert plan.count("Window") == 1, plan


def test_walk_forward_cv_folds(spark):
    """Walk-forward CV: each fold trains strictly before its eval slice
    (no future leakage), fold metrics exist for every series present in
    the eval slice with enough samples, and fold cutoffs ascend."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.pipeline import (
        run_walk_forward,
    )

    rows = []
    base = TS(2025, 1, 1)
    for g, cur in enumerate(["USD", "EUR"]):
        for i in range(60):
            rows.append(
                (base + datetime.timedelta(hours=i), cur, "CPI", float(i % 7) + g, 1)
            )
    df = spark.createDataFrame(
        rows,
        "event_ts timestamp, Currency string, Event string, value double, ImpactOrdinal int",
    )
    folds = run_walk_forward(df, n_folds=3)
    assert len(folds) == 3
    cutoffs = [f.extra["cutoff_us"] for f in folds]
    assert cutoffs == sorted(cutoffs) and len(set(cutoffs)) == 3
    for f in folds:
        rows_m = f.metrics.collect()
        # both series span the whole timeline, so every fold evaluates both
        assert {(r["Currency"], r["Event"]) for r in rows_m} == {
            ("USD", "CPI"),
            ("EUR", "CPI"),
        }
        for r in rows_m:
            assert r["Samples"] > 0


def test_pq_recall_at_k(spark):
    """PQ retrieval quality gate: symmetric-distance top-5 must recall
    a usable fraction of the true L2 top-5 (same contract as the
    sign-LSH and IVF gates). 8-byte codes on 64-dim vectors lose
    information by design — the gate pins the floor so regressions in
    codebook fit or scoring show up."""
    import numpy as np

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.pq import (
        pq_topk_adc,
        train_codebooks,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import t

    emb = t(spark, "/root/testdata/sf0.01", "embeddings")
    books = train_codebooks(emb, m=16, k=32)
    got = pq_topk_adc(emb, books, query_max_id=20, topk=5).collect()
    pq_sets = {}
    for r in got:
        pq_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([list(r["embedding"]) for r in rows], dtype="float64")
    recalls = []
    for qi in sorted(pq_sets):
        q = X[ids == qi][0]
        d2 = ((X - q) ** 2).sum(axis=1)
        d2[ids == qi] = np.inf
        true5 = set(ids[np.argsort(d2, kind="stable")[:5]].tolist())
        recalls.append(len(true5 & pq_sets[qi]) / 5)
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.3, f"PQ recall@5 degraded: {mean_recall:.2f}"


def test_ivfpq_recall_at_k(spark):
    """IVF-PQ composition gate: probing nprobe=3 of 8 cells must retain
    most of plain-PQ's retrieval quality (cell filtering trades a
    bounded recall loss for the ~nprobe/|cells| scan reduction)."""
    import numpy as np

    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.pq import (
        ivfpq_topk,
        train_codebooks,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.similarity import (
        _as_double,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import t

    emb = t(spark, "/root/testdata/sf0.01", "embeddings")
    books = train_codebooks(emb, m=16, k=32)
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([list(r["embedding"]) for r in rows], dtype="float64")

    def mean_recall(got):
        sets = {}
        for r in got:
            sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recalls = []
        for qi in sorted(sets):
            q = X[ids == qi][0]
            d2 = ((X - q) ** 2).sum(axis=1)
            d2[ids == qi] = np.inf
            true5 = set(ids[np.argsort(d2, kind="stable")[:5]].tolist())
            recalls.append(len(true5 & sets[qi]) / 5)
        return sum(recalls) / len(recalls)

    plain = mean_recall(
        ivfpq_topk(emb, books, centroids, query_max_id=20, topk=5).collect()
    )
    assert plain >= 0.2, f"IVF-PQ recall@5 degraded: {plain:.2f}"

    # residual encoding + exact re-rank over the SAME candidate set
    # (same cells, same nprobe) must lift recall@5 to ≥0.6 (measured
    # 0.39 plain → 0.65 residual on this fixture)
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.pq import (
        ivfpq_topk_residual,
        train_codebooks_residual,
    )

    books_res = train_codebooks_residual(emb, centroids, m=16, k=32)
    res = mean_recall(
        ivfpq_topk_residual(
            emb, books_res, centroids, query_max_id=20, topk=5
        ).collect()
    )
    assert res >= 0.6, f"residual IVF-PQ recall@5 degraded: {res:.2f}"
    assert res > plain, (res, plain)


def test_cusum_matches_reference(spark):
    """Batch-carry CUSUM must equal the pure-Python integer scan for
    every series (bit-exact — integer state only), including series
    split across Arrow batch boundaries (forced tiny batches)."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.cusum import (
        cusum_scan,
        series_cusum,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import (
        keyed_events,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        ev = keyed_events(spark, "/root/testdata/sf0.001")
        got = {
            (r["user_id"], r["event_type"]): (
                r["n"], r["max_s_hi"], r["max_s_lo"], r["first_alarm_idx"]
            )
            for r in series_cusum(ev).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    rows = ev.filter("value is not null").select(
        "user_id", "event_type", "event_id", "value_c"
    ).collect()
    series = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["event_type"], r["event_id"])):
        series.setdefault((r["user_id"], r["event_type"]), []).append(int(r["value_c"]))
    want = {}
    for kv, vals in series.items():
        mean_c = sum(vals) // len(vals)
        hi, lo, alarm = cusum_scan(vals, mean_c, 50, 2000)
        want[kv] = (len(vals), hi, lo, alarm)
    assert got == want


def test_supplier_census_broadcast_anti_join(spark):
    """Q16 analogue plan: the bad-supplier exclusion must be a
    BROADCAST anti-join (tiny build side), the size IN-list must reach
    the part scan, and no sort-merge join appears."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["rel_supplier_census"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "In(p_size" in plan, plan


def test_priority_returns_semi_join_pushdown(spark):
    """Q4 analogue plan: EXISTS must decorrelate to a LeftSemi join
    with BOTH scan-side predicates pushed (date range on orders,
    returnflag on lineitem)."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    df = REGISTRY["rel_priority_with_returns"].spark_fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "LeftSemi" in plan, plan
    assert "EqualTo(l_returnflag,R)" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan


def test_series_mad_udaf_matches_fast(spark):
    """The GROUPED_AGG pandas-UDAF robust stats (the §2.10 API seam) and
    the registered JVM twin evt_series_mad_fast must agree exactly —
    the differential that let the UDAF demo leave the registry."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.grouped import (
        count_udaf,
        nearest_rank_mad_udaf,
        nearest_rank_median_udaf,
        series_robust_stats_fast,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import (
        keyed_events,
    )

    ev = keyed_events(spark, "/root/testdata/sf0.001").filter(
        F.col("value").isNotNull()
    )
    med, mad, n = nearest_rank_median_udaf(), nearest_rank_mad_udaf(), count_udaf()
    udaf = {
        (r["user_id"], r["event_type"]): (r["n"], r["med_c"], r["mad_c"])
        for r in ev.groupBy("user_id", "event_type")
        .agg(
            n(F.col("value_c")).alias("n"),
            med(F.col("value_c")).alias("med_c"),
            mad(F.col("value_c")).alias("mad_c"),
        )
        .collect()
    }
    fast = {
        (r["user_id"], r["event_type"]): (r["n"], r["med_c"], r["mad_c"])
        for r in series_robust_stats_fast(ev).collect()
    }
    assert udaf == fast and len(fast) > 0


def test_merge_upsert_partition_pruned(spark, tmp_path):
    """Write-side S9 merge: ``txn.merge_upsert`` applies an incremental
    batch to a partitioned txn table, carrying every untouched
    partition's files BY REFERENCE (no rewrite) while touched partitions
    get keep-newest-per-key — and the committed table must equal the
    relational merge core run over the same inputs."""
    from collections import Counter

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.upsert import (
        merge_upsert_partitioned,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans.common import (
        keyed_events,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

    base = keyed_events(spark, "/root/testdata/sf0.001").withColumn(
        "event_date", F.to_date("ts")
    )
    existing = base.filter(F.col("event_id") % 5 != 0).select(
        "event_id", "ts", "user_id", "event_type", "event_date", "value_c"
    )
    incoming = (
        base.filter((F.col("event_id") % 3 == 0) & (F.dayofmonth("ts") >= 20))
        .withColumn("value_c", F.col("value_c") + 1)
        .select("event_id", "ts", "user_id", "event_type", "event_date", "value_c")
    )

    # seed the table with ``existing`` verbatim (duplicate keys included),
    # laid out by partition the way merge_upsert writes
    root = str(tmp_path / "events_by_day")
    v0 = txn._commit(
        root,
        "overwrite",
        lambda m: {
            "files": txn._write_files_partitioned(existing, root, "event_date")
        },
    )
    m0 = set(txn._read_manifest(root, v0)["files"])

    key = ["user_id", "event_type", "event_date"]
    v1 = txn.merge_upsert(
        spark, root, incoming, key, "ts", "event_id", "event_date"
    )
    m1 = set(txn._read_manifest(root, v1)["files"])

    expect, touched = merge_upsert_partitioned(
        existing,
        incoming,
        key=key,
        recency_col="ts",
        tie_cols=("event_id",),
        partition_col="event_date",
    )
    touched = {str(v) for v in touched}
    untouched = {f for f in m0 if txn._file_partition(f) not in touched}
    assert untouched and untouched <= m1
    assert not (m0 - untouched) & m1

    cols = ["user_id", "event_type", "event_date", "event_id", "value_c"]
    got = Counter(tuple(r) for r in txn.read(spark, root).select(*cols).collect())
    want = Counter(tuple(r) for r in expect.select(*cols).collect())
    assert got == want


def test_merge_upsert_batch_partition_cap(spark, monkeypatch):
    """A 'batch' touching more partitions than MAX_BATCH_PARTITIONS is a
    miswired full-table load — the merge must refuse, not collect it."""
    import pytest

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators import upsert as U

    monkeypatch.setattr(U, "MAX_BATCH_PARTITIONS", 10)
    df = spark.range(20).select(
        F.col("id").alias("k"), F.col("id").alias("p"), F.col("id").alias("ts2")
    )
    with pytest.raises(ValueError, match="distinct"):
        U.merge_upsert_partitioned(
            df, df, key=("k",), recency_col="ts2", partition_col="p"
        )


def test_merge_upsert_first_write(spark, tmp_path):
    """First write (empty root): the batch itself is deduped per key
    (newest wins) and lands partitioned."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import txn

    d = datetime.date(2025, 3, 1)
    df = spark.createDataFrame(
        [
            (1, TS(2025, 3, 1, 9), "USD", d, 10),
            (2, TS(2025, 3, 1, 10), "USD", d, 20),
            (3, TS(2025, 3, 2, 9), "EUR", datetime.date(2025, 3, 2), 30),
        ],
        "event_id long, ts timestamp, k string, event_date date, value_c long",
    )
    root = str(tmp_path / "t")
    v = txn.merge_upsert(
        spark, root, df, ["k", "event_date"], "ts", "event_id", "event_date"
    )
    assert v == 0
    rows = {(r["k"], r["value_c"]) for r in txn.read(spark, root).collect()}
    assert rows == {("USD", 20), ("EUR", 30)}
    parts = {txn._file_partition(f) for f in txn._read_manifest(root, 0)["files"]}
    assert parts == {"2025-03-01", "2025-03-02"}


def test_bounded_collect_guards_fit_paths(spark):
    """Driver-side fit/query collects are hard-capped: a corpus-sized
    misuse raises instead of OOMing the driver (VERDICT r3 #4)."""
    import pytest

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.pq import (
        bounded_collect,
    )

    df = spark.range(1000)
    with pytest.raises(ValueError, match="bounded"):
        bounded_collect(df, "misuse", cap=100)
    assert len(bounded_collect(df, "ok", cap=1000)) == 1000


def test_pq_codebook_clamps_to_distinct_subvectors(spark):
    """A sample with fewer than k distinct subvectors must yield a
    SHORT codebook (not an IndexError), and SDC/ADC search must stay
    consistent with the clamped per-subspace sizes (ADVICE r3)."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.pq import (
        pq_topk_adc,
        pq_topk_sdc,
        train_codebooks,
    )

    # 6 vectors, dim 4, m=2 subspaces; only 3 distinct subvectors per
    # subspace but k=8 requested
    rows = [
        (0, [0.0, 0.0, 1.0, 1.0]),
        (1, [0.0, 0.0, 1.0, 1.0]),
        (2, [1.0, 1.0, 2.0, 2.0]),
        (3, [1.0, 1.0, 2.0, 2.0]),
        (4, [2.0, 2.0, 3.0, 3.0]),
        (5, [2.0, 2.0, 3.0, 3.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = train_codebooks(emb, m=2, k=8, sample_max_id=100)
    assert [len(b) for b in books] == [3, 3]
    sdc = pq_topk_sdc(emb, books, query_max_id=2, topk=2).collect()
    adc = pq_topk_adc(emb, books, query_max_id=2, topk=2).collect()
    assert len(sdc) == 4 and len(adc) == 4
    # identical-vector pairs must be each other's nearest neighbor
    top = {
        (r["query_id"], r["rnk"]): r["neighbor_id"] for r in adc
    }
    assert top[(0, 1)] == 1 and top[(1, 1)] == 0


def test_cusum_custom_key_schema(spark):
    """series_cusum's output schema follows the key parameter (ADVICE
    r3: it used to hard-code user_id/event_type and mislabel any other
    key)."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.cusum import (
        cusum_scan,
        series_cusum,
    )

    rows = [("a", i, v) for i, v in enumerate([100, 100, 100, 500, 500])] + [
        ("b", i, 200) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "sym string, seq long, value_c long")
    out = {
        r["sym"]: (r["n"], r["max_s_hi"], r["max_s_lo"], r["first_alarm_idx"])
        for r in series_cusum(
            df, slack_c=10, threshold_c=100,
            key=("sym",), order_col="seq", value_col="value_c",
        ).collect()
    }
    assert set(out) == {"a", "b"}
    # cross-check series 'a' against the pure-python reference
    v = [100, 100, 100, 500, 500]
    mean_c = sum(v) // len(v)
    assert out["a"] == (5, *cusum_scan(v, mean_c, 10, 100))


def _wav_bytes(seconds: float, rate: int = 8000) -> bytes:
    """A real (silent) PCM WAV byte string built with stdlib wave."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x00" * int(seconds * rate))
    return buf.getvalue()


def test_real_wav_decode(spark):
    """The decode seam must use a REAL decoder for parseable media: a
    genuine WAV payload reports its true duration (stdlib-wave branch,
    hermetic), while unparseable bytes fall back to the deterministic
    stub — and the Spark stage consumes both in one batch."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.multimodal import (
        _decode_stub,
        decode_media,
        extract_media_meta,
    )

    wav = _wav_bytes(7.25)
    assert decode_media(wav, "audio")["duration_ms"] == 7250
    garbage = b"not media at all"
    assert decode_media(garbage, "audio") == _decode_stub(garbage, "audio")

    df = spark.createDataFrame(
        [(1, "audio", bytearray(wav)), (2, "audio", bytearray(garbage))],
        "asset_id long, media_type string, payload binary",
    )
    out = {r["asset_id"]: r["duration_ms"] for r in extract_media_meta(df).collect()}
    assert out[1] == 7250
    assert out[2] == _decode_stub(garbage, "audio")["duration_ms"]


def test_real_png_decode(spark):
    """Opt-in PIL branch: a real PNG reports its true dimensions where
    PIL is installed (skipped hermetically)."""
    import pytest

    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.multimodal import (
        decode_media,
    )

    buf = io.BytesIO()
    PIL_Image.new("RGB", (123, 45)).save(buf, format="PNG")
    meta = decode_media(buf.getvalue(), "image")
    assert (meta["width"], meta["height"]) == (123, 45)


def test_pack_sequences_straddle_and_groups(spark):
    """Packing is per-group; a doc that straddles a bin boundary keeps
    the bin its START falls in (streaming approximation), and the next
    doc's bin is derived from the true running total."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.textops import (
        pack_sequences,
    )

    rows = [
        # group g1: 6 + 5 + 4 tokens, capacity 8
        (1, "g1", "a b c d e f"),
        (2, "g1", "g h i j k"),
        (3, "g1", "l m n o"),
        # group g2 independent
        (4, "g2", "x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"], r["n_tokens"])
        for r in pack_sequences(df, max_tokens=8, group_col="source").collect()
    }
    assert out[1] == (0, 0, 6)
    # doc 2 starts at offset 6 (< 8) -> bin 0 even though it straddles
    assert out[2] == (0, 6, 5)
    # doc 3 starts at 11 -> bin 1, offset 3
    assert out[3] == (1, 3, 4)
    # fresh group restarts at bin 0
    assert out[4] == (0, 0, 2)


def test_pii_scrub_counts_and_redacts(spark):
    """Each pattern is counted on the ORIGINAL text and redacted in the
    output; text with no PII passes through byte-identical."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.textops import (
        pii_scrub,
    )

    rows = [
        (1, "mail me at a.b+c@x-mail.co or b@y.org, call +1 555-123-4567"),
        (2, "server at 10.0.0.1 and 192.168.1.255 but not 1234.5.6.7890"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ipv4"]) == (2, 1, 0)
    assert "<EMAIL>" in out[1]["text"] and "<PHONE>" in out[1]["text"]
    assert "@" not in out[1]["text"]
    assert out[2]["n_ipv4"] == 2
    # \b guards: 1234.5.6.7890 must NOT match as an IPv4
    assert "1234.5.6.7890" in out[2]["text"].replace("<IPV4>", "")
    assert out[3]["text"] == "nothing sensitive here"
    assert (out[3]["n_email"], out[3]["n_phone"], out[3]["n_ipv4"]) == (0, 0, 0)


def test_semantic_dedup_cell_bounded(spark):
    """Near-identical vectors in the SAME cell dedup to the lowest id;
    an equally-similar vector whose nearest centroid differs is never
    compared (cell-bounded by construction)."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.similarity import (
        semantic_dedup,
    )

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    rows = [
        (10, [1.0, 0.01]),   # cell 0
        (11, [1.0, 0.02]),   # cell 0, near-dup of 10 -> dropped
        (12, [0.01, 1.0]),   # cell 1 — cosine to 10 is ~0 anyway, kept
        (13, [0.02, 1.0]),   # cell 1, near-dup of 12 -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["cell"], r["kept"]) for r in semantic_dedup(
        df, cents, threshold=0.9
    ).collect()}
    assert out[10] == (0, 1) and out[11] == (0, 0)
    assert out[12] == (1, 1) and out[13] == (1, 0)


def test_pq_encode_jvm_arrow_twins(spark):
    """The pure-Column HOF encoder (pq_codes_col via pq_encode) and the
    Arrow-batched numpy encoder (pq_codes_pandas) are differential
    twins: identical codes on the same codebooks — the JVM form is the
    no-Python-runtime fallback, the Arrow form is the measured hot
    path (interpreted HOFs cost ~3 ms/row at m=16,k=32)."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.pq import (
        pq_codes_pandas,
        pq_encode,
        train_codebooks,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_codebooks(emb, m=8, k=16, sample_max_id=64)
    jvm = {
        r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()
    }
    arrow = {
        r["vec_id"]: list(r["codes"])
        for r in emb.select(
            "vec_id", pq_codes_pandas(books)(F.col("embedding")).alias("codes")
        ).collect()
    }
    assert jvm == arrow


def test_sq_recall_at_k(spark):
    """int8 scalar-quantization ANN: recall@5 vs brute force on the
    sf0.01 fixture. With exact re-rank over a 12-candidate integer
    shortlist, recall is bounded only by int8 ordering error at the
    shortlist boundary — measured 0.92 on the fixture; gate at 0.85.
    Also asserts the degenerate widening property: shortlist == corpus
    reproduces brute force exactly."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.similarity import (
        cosine_topk,
        sq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    k = 5
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=k).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in sq_topk(emb, k=k, shortlist=12, n_queries=10).collect()
    }
    assert len(got & exact) / len(exact) >= 0.85

    full = {
        (r.query_id, r.neighbor_id)
        for r in sq_topk(emb, k=k, shortlist=500, n_queries=10).collect()
    }
    assert full == exact


def test_observation_metrics_ride_the_job(spark):
    """df.observe(): pipeline run-metrics accumulate ON the action that
    materializes the frame — no second scan. The observed values must
    equal a direct aggregate of the same frame (the monitoring seam a
    production ingest wires into every stage boundary)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.tables import (
        load_table,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    obs = Observation("ingest_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col("value")).alias("n_value_nonnull"),
        F.max("event_id").alias("max_id"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col("value")).alias("n_value_nonnull"),
        F.max("event_id").alias("max_id"),
    ).first()
    assert got["n_rows"] == want["n_rows"] > 0
    assert got["n_value_nonnull"] == want["n_value_nonnull"]
    assert got["max_id"] == want["max_id"]
