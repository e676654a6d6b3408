"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from accounting import OpRecord  # noqa: E402
from checks import CheckFailed, check_frame, expectation_from_frame  # noqa: E402
from stats import tail  # noqa: E402


def _digest_dir(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_same_seed_gives_byte_identical_tables(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5)
    gen.write_tables(str(tmp_path / "b"), 5)
    assert _digest_dir(str(tmp_path / "a")) == _digest_dir(str(tmp_path / "b"))


def test_other_seed_gives_same_shape_other_keys(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5)
    gen.write_tables(str(tmp_path / "b"), 6)
    for name in gen.TABLE_ROWS:
        ta = pq.read_table(str(tmp_path / "a" / f"{name}.parquet"))
        tb = pq.read_table(str(tmp_path / "b" / f"{name}.parquet"))
        assert ta.schema == tb.schema, name
        assert ta.num_rows == tb.num_rows == gen.TABLE_ROWS[name], name
    a = pq.read_table(str(tmp_path / "a" / "orders.parquet")).column("o_custkey")
    b = pq.read_table(str(tmp_path / "b" / "orders.parquet")).column("o_custkey")
    assert a != b


def test_calendar_same_seed_identical_other_seed_other_keys():
    g1, g2, g3 = (gen.CalendarGenerator(s, 500) for s in (3, 3, 4))
    m1, m2, m3 = g1.month(0), g2.month(0), g3.month(0)
    assert m1 == m2
    assert m1 != m3
    assert len(m1.splitlines()) == len(m3.splitlines()) == 500
    assert set(g1.expected) != set(g3.expected)


def test_calendar_shape_and_expectation():
    g = gen.CalendarGenerator(9, 2000)
    first = g.month(0)
    n_after_first = len(g.expected)
    before = dict(g.expected)
    second = g.month(1)
    lines = first.splitlines() + second.splitlines()
    # headerless, ten positional columns (quoted fields may hold commas)
    rows = pd.read_csv(pd.io.common.StringIO("\n".join(lines)), header=None, dtype=str,
                       keep_default_na=False)
    assert rows.shape == (4000, 10)
    assert g.bad_total > 0
    assert rows[2].value_counts().index[0] == "USD"  # skewed currencies
    assert rows[3].nunique() > 100  # a few hundred event names
    # re-publishes overwrite earlier keys with newer values
    republished = [k for k in before if g.expected[k] != before[k]]
    assert republished
    assert len(g.expected) > n_after_first


def test_tail_rule_needs_ten_samples_beyond():
    assert tail(list(range(39))) is None
    t = tail([float(i) for i in range(40)])
    assert (t["p"], t["n"]) == (75.0, 40)
    t = tail([float(i) for i in range(100)])
    assert (t["p"], t["n"]) == (90.0, 100)
    assert t["value"] == pytest.approx(89.1)
    assert tail([1.0] * 1000)["p"] == 99.0


def test_pass_figures_use_per_op_medians():
    recs = [OpRecord(name, "query", 0.0, cpu, True)
            for name, cpu in [("a", 1.0), ("b", 4.0), ("a", 1.2), ("b", 4.0), ("a", 9.0), ("b", 40.0)]]
    f = run.pass_figures(recs, "cpu_s")
    assert f["pass"] == pytest.approx(5.2)
    assert f["geomean"] == pytest.approx((1.2 * 4.0) ** 0.5)
    assert (f["slowest"], f["fastest"]) == (4.0, 1.2)


def test_emitted_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    e2e = [n for n, _ in run.END_TO_END]
    layer = [n for n, _, _ in run.PER_LAYER]
    assert all(name_re.match(n) for n in e2e + layer)
    assert e2e == [m["name"] for m in spec["end_to_end"]]
    assert layer == [m["name"] for m in spec["per_layer"]]
    assert dict(run.END_TO_END) == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {n: u for n, u, _ in run.PER_LAYER} == {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert set(run.WORKLOADS) == {w["name"] for w in spec["workloads"]}


def test_checker_accepts_reordered_and_flags_corrupted_output():
    oracle = pd.DataFrame({
        "k": pd.Series([1, 2, 3], dtype="int32"),
        "v": [0.5, 1.25, -0.0],
        "s": ["a", None, "c"],
        "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
    })
    exp = expectation_from_frame(oracle)
    spark_like = oracle.iloc[[2, 0, 1]][["t", "s", "v", "k"]].astype({"k": "int64"})
    spark_like["v"] = [0.0, 0.5, 1.25]
    check_frame(spark_like, exp)
    bad = spark_like.copy()
    bad.loc[bad.index[1], "v"] = 0.5000001
    with pytest.raises(CheckFailed):
        check_frame(bad, exp)
    with pytest.raises(CheckFailed):
        check_frame(spark_like.iloc[:2], exp)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "registry_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
