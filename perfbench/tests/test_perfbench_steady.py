"""Unit tests for the benchmark's statistics, steadiness verdicts and
span accounting; none of them starts Spark."""

from __future__ import annotations

import json
import statistics
import subprocess
import sys

import pytest

import common
import gates
import pool
import queries
import stats
import steady
from spans import Span, Tracer, _union


def test_quantile_interpolates_and_rejects_empty():
    assert stats.quantile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert stats.quantile([0.0, 10.0], 0.25) == 2.5
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


@pytest.mark.parametrize(
    "n, pct",
    [(1, 50.0), (3, 50.0), (7, 75.0), (15, 75.0), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_keeps_enough_operations_beyond_it(n, pct):
    value, got_pct, count = stats.tail([float(i) for i in range(n)])
    assert (got_pct, count) == (pct, n)
    beyond = sum(1 for i in range(n) if i > value)
    assert beyond >= min(10, max(1, n // 4)) or n <= 3


def test_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 9.7]
    q1, _, q3 = statistics.quantiles(values, n=4)
    s = stats.spread(values)
    assert s["median"] == statistics.median(values)
    assert s["iqr_share"] == pytest.approx((q3 - q1) / statistics.median(values))


def test_verdict_gates_everything_but_setup():
    wide = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    assert not steady.verdict("op_p50_ms", wide, 0.15)["ok"]
    assert steady.verdict("setup_s", wide, 0.25)["ok"]
    tight = [100.0 + 0.1 * i for i in range(10)]
    v = steady.verdict("op_p50_ms", tight, 0.15)
    assert v["ok"] and v["steady"]


def test_regression_respects_direction_and_bound():
    assert steady.regression(100.0, 116.0, "lower", 0.15)
    assert not steady.regression(100.0, 114.0, "lower", 0.15)
    assert steady.regression(100.0, 84.0, "higher", 0.15)
    assert not steady.regression(100.0, 130.0, "higher", 0.15)


def test_last_json_takes_the_final_line():
    out = "workload gates\n  setup_s 1.0 s\n" + json.dumps({"correct": True}) + "\n\n"
    assert steady.last_json(out) == {"correct": True}
    with pytest.raises(ValueError):
        steady.last_json("   \n")


def test_union_merges_overlaps():
    assert _union([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (4.0, 4.0)]) == pytest.approx(4.0)
    assert _union([]) == 0.0


def test_self_time_subtracts_children_and_reports_remainder():
    t = Tracer(True)
    t.spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("build", 1.0, 4.0, 0, 0),
        Span("catalyst.analysis", 3.0, 5.0, 1, 0),  # overruns its parent
        Span("execute", 4.0, 9.0, 0, 0),
    ]
    self_t = t.self_times()
    assert self_t["op"] == pytest.approx(2.0)
    assert self_t["build"] == pytest.approx(2.0)
    assert self_t["execute"] == pytest.approx(5.0)
    assert t.top_level_seconds() == pytest.approx(10.0)
    assert "(unattributed)" in t.self_time_table(12.0)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x"):
        t.count("c")
        t.sample("s", 1.0)
    assert not t.spans and not t.counters and not t.samples


def test_nested_spans_inherit_parent_and_op():
    t = Tracer(True)
    with t.span("outer", op=7):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == 0 and inner.op == 7 and outer.parent is None


def test_pass_order_is_seeded_and_holds_every_operation():
    with open(queries.POOL_FILE) as f:
        sample = json.load(f)["sample"]
    a = queries.draw(1)
    assert a == queries.draw(1)
    assert sorted(a) == sorted(sample + [queries.GATES])
    assert any(queries.draw(s) != a for s in range(2, 12))


def test_epoch_files_counts_versions_and_marker(tmp_path):
    (tmp_path / "state" / "stats" / "v1").mkdir(parents=True)
    (tmp_path / "state" / "stats" / "v1" / "part-0.parquet").write_bytes(b"x" * 10)
    (tmp_path / "state" / "stats" / "v10").mkdir()
    (tmp_path / "state" / "stats" / "v10" / "part-0.parquet").write_bytes(b"y" * 99)
    (tmp_path / "state" / "_commits").mkdir()
    (tmp_path / "state" / "_commits" / "1").write_bytes(b"")
    (tmp_path / "state" / "_commits" / "0").write_bytes(b"")
    (tmp_path / "out" / "v1").mkdir(parents=True)
    (tmp_path / "out" / "v1" / "part-0.parquet").write_bytes(b"z" * 5)
    got = gates._epoch_files([str(tmp_path / "state"), str(tmp_path / "out")], 1)
    assert got == (3, 15)


def test_stratify_takes_each_stratum_median_under_the_limit():
    costs = {f"q{i}": {"warm": float(i), "warm2": float(i) + 0.5, "ok": True} for i in range(12)}
    costs["q_wrong"] = {"warm": 1.5, "warm2": 1.5, "ok": False}
    assert pool.stratify(costs, strata=3, limit_s=8.0) == ["q1", "q4", "q7"]


def test_committed_sample_is_derived_from_the_committed_costs():
    with open(pool.COSTS_FILE) as f:
        costs = json.load(f)["queries"]
    with open(pool.POOL_FILE) as f:
        assert pool.stratify(costs) == json.load(f)["sample"]


def test_peak_rss_sorts_processes_by_kind():
    before = common.peak_rss()
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        rss = common.peak_rss()
    finally:
        child.kill()
        child.wait()
    assert rss["benchmark"] > 0
    assert rss["workers"] == before["workers"] + 1
    assert rss["python_workers"] > before["python_workers"]
