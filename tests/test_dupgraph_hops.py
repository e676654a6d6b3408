"""``operators.dedup.dupgraph_hops``: multi-source BFS hop distances
over a pair graph, checked against hand-computed hops on both paths —
the single-partition pandas pass (the default at test scale) and the
distributed rounds, forced by lowering ``LOCAL_GRAPH_MAX_PAIRS``."""

from __future__ import annotations

import pytest

from mql5_economic_news_data_pipeline_2025_gcp__spark.operators import dedup

CASES = {
    # 1-2-3-4-5-6: one seed (1); 5 and 6 lie beyond the 3-hop cap
    "chain_past_cap": (
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)],
        {1: 0, 2: 1, 3: 2, 4: 3},
    ),
    # seeds 1 and 2; 7 is 3 hops from seed 1 (1-5-6-7) but 1 from seed 2
    "two_seeds_min_distance": (
        [(1, 5), (5, 6), (6, 7), (2, 7)],
        {1: 0, 2: 0, 5: 1, 7: 1, 6: 2},
    ),
    "two_components": (
        [(1, 2), (2, 3), (10, 11)],
        {1: 0, 2: 1, 3: 2, 10: 0, 11: 1},
    ),
    "empty": ([], {}),
}


@pytest.fixture(params=["local", "distributed"])
def path(request, monkeypatch):
    if request.param == "distributed":
        monkeypatch.setattr(dedup, "LOCAL_GRAPH_MAX_PAIRS", -1)
    return request.param


@pytest.mark.parametrize("case", sorted(CASES))
def test_hops_match_hand_computed(spark, path, case):
    pairs, want = CASES[case]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = dedup.dupgraph_hops(df)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("doc_id", "bigint"),
        ("hops", "bigint"),
    ]
    assert {r["doc_id"]: r["hops"] for r in out.collect()} == want


def test_local_path_adds_no_exchange(spark):
    df = spark.createDataFrame(CASES["two_components"][0], "id_a long, id_b long")
    plan = dedup.dupgraph_hops(df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
