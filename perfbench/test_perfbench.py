"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import verify  # noqa: E402
from workloads import QUERY_GROUPS, LakehouseIngest, PassResult, lakehouse_slices  # noqa: E402


def test_tail_has_ten_samples_beyond():
    values = [float(v) for v in range(1, 21)]
    value, pct, n = stats.tail(values)
    assert (value, pct, n) == (10.0, 50.0, 20)
    assert sum(v > value for v in values) == 10
    value, pct, n = stats.tail(list(reversed(values)) + [100.0])
    assert (value, n) == (11.0, 21)
    assert pct == pytest.approx(100 * 11 / 21)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)
    assert stats.tail([1.0] * 11) == (1.0, 100 * 1 / 11, 11)


def test_tail_ratio_normalises_by_each_query_median():
    # query a's median is 1, query b's is 10: the ratios pool to
    # 0.5, 1, 1.5 (x4) and 0.5, 1, 2 (x4) no matter the scale
    lat = {"a": [0.5, 1.0, 1.5] * 4, "b": [5.0, 10.0, 20.0] * 4}
    value, pct, n = stats.tail_ratio(lat)
    assert n == 24
    ratios = sorted([0.5, 1.0, 1.5] * 4 + [0.5, 1.0, 2.0] * 4)
    assert value == ratios[24 - 11] == 1.0


def test_geomean():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.query_geomean({"a": [1.0, 2.0, 3.0], "b": [8.0]}) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_pass_order_is_seeded_permutation():
    names = [f"q{i}" for i in range(8)]
    a = stats.pass_order(names, seed=7, pass_index=3)
    assert sorted(a) == sorted(names)
    assert a == stats.pass_order(names, seed=7, pass_index=3)
    orders = {tuple(stats.pass_order(names, s, p)) for s in range(5) for p in range(5)}
    assert len(orders) > 20


def test_lakehouse_slices_are_seeded_and_in_range():
    live, rows = LakehouseIngest.LIVE, LakehouseIngest.SLICE
    got = [lakehouse_slices(3, p, live, rows) for p in range(50)]
    assert got == [lakehouse_slices(3, p, live, rows) for p in range(50)]
    assert got != [lakehouse_slices(4, p, live, rows) for p in range(50)]
    for s in got:
        assert 0 <= s["clustered"] <= live - rows
        assert 0 <= s["pruned"] <= live - rows
        assert 0 <= s["spread_phase"] < live // rows
        # the spread merge touches exactly `rows` keys of the window
        assert len(range(s["spread_phase"], live, live // rows)) == rows


def test_workload_queries_exist_and_have_oracles():
    from glonassdatamining_spark import registry

    queries, oracles = registry.all_queries(), registry.all_oracles()
    names = [q for group in QUERY_GROUPS.values() for q in group]
    assert len(names) == len(set(names))
    for name in names:
        assert name in queries, name
        assert name in oracles, name


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def test_parse_metric():
    assert tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n5.8 s (1.9 s, 1.9 s, 2.0 s (stage 8.0: task 14))"
    ) == pytest.approx(5.8)
    assert tracing.parse_metric("16 ms") == pytest.approx(0.016)
    assert tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n1512.4 KiB (374.8 KiB, 1 KiB)"
    ) == pytest.approx(1512.4 * 1024)
    assert tracing.parse_metric("600,000") == 600000


def test_tree_rss_counts_each_address_space_once():
    procs = {
        1: (0, 100, 10),   # not in the tree
        10: (1, 5000, 400),  # root: the benchmark process
        11: (10, 9000, 800),  # JVM
        12: (11, 9000, 800),  # vfork child of the JVM before exec
        13: (11, 300, 30),  # Python worker daemon
        14: (13, 320, 45),  # worker forked from the daemon
    }
    assert run.process_tree(10, procs) == {10, 11, 12, 13, 14}
    assert run.tree_rss_pages(10, procs) == 400 + 800 + 30 + 45


def test_union_seconds_merges_overlaps():
    assert tracing._union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing._union_seconds([]) == 0


def test_attach_assigns_jobs_stages_and_sql_to_spans():
    status = {
        "jobs": [
            {"jobId": 1, "jobGroup": "span-4", "stageIds": [1, 2],
             "submissionTime": "2026-01-01T00:00:00.000GMT",
             "completionTime": "2026-01-01T00:00:01.500GMT"},
            {"jobId": 2, "jobGroup": "span-4", "stageIds": [2, 3],
             "submissionTime": "2026-01-01T00:00:01.000GMT",
             "completionTime": "2026-01-01T00:00:02.000GMT"},
            {"jobId": 3, "jobGroup": "idle", "stageIds": [4],
             "submissionTime": "2026-01-01T00:00:03.000GMT",
             "completionTime": "2026-01-01T00:00:04.000GMT"},
        ],
        "stages": [
            {"stageId": s, "status": "SKIPPED" if s == 2 else "COMPLETE",
             "numCompleteTasks": 4, "executorRunTime": 1000, "executorCpuTime": 5e8,
             "jvmGcTime": 10, "shuffleWriteBytes": 1048576, "shuffleReadBytes": 0,
             "shuffleFetchWaitTime": 0, "diskBytesSpilled": 0}
            for s in (1, 2, 3, 4)
        ],
        "sql": [{"successJobIds": [2], "nodes": [{"metrics": [
            {"name": tracing.PYTHON_TIME, "value": "1.5 s"},
            {"name": tracing.PYTHON_IN, "value": "2.0 MiB"},
        ]}]}],
    }
    c = tracing.attach([], status)
    assert set(c) == {4}
    assert c[4].jobs == 2 and c[4].stages == 2 and c[4].tasks == 8
    assert c[4].job_s == pytest.approx(2.0)
    assert c[4].task_run_s == pytest.approx(2.0) and c[4].shuffle_write_mb == pytest.approx(2.0)
    assert c[4].python_s == pytest.approx(1.5) and c[4].python_mb_in == pytest.approx(2.0)


def test_tail_ratio_sees_more_than_ten_slow_executions_only():
    # 6 queries x 8 executions around each median; slow executions are 3x
    base = {q: [1.0 + 0.01 * i for i in range(8)] for q in "abcdef"}
    calm, _, n = stats.tail_ratio(base)
    assert n == 48

    def slowed(k):
        lat = {q: list(v) for q, v in base.items()}
        for i in range(k):  # slow the fastest execution of k queries in turn
            lat["abcdef"[i % 6]][i // 6] *= 3.0
        return stats.tail_ratio(lat)[0]

    # ten slow executions or fewer sit beyond the percentile ...
    assert slowed(6) == pytest.approx(calm, rel=0.01)
    # ... more than ten reach it
    assert slowed(12) > 2.0


def test_end_to_end_counts_a_failed_check_once_and_drops_its_latencies():
    ops = ("append", "read")
    good = [PassResult(i, 1.0, {o: 0.5 + 0.01 * i for o in ops}) for i in range(6)]
    e2e = run.end_to_end(10.0, good, set(), 100.0)
    assert e2e["attempted"] == 12 and e2e["failed"] == 0
    assert e2e["values"]["ok_frac"] == 1.0

    # a pass whose check failed moves every operation into `failed`
    bad = PassResult(6, 1.0, {o: 9.0 for o in ops})
    bad.fail_all()
    e2e = run.end_to_end(10.0, good + [bad], set(), 100.0)
    assert e2e["attempted"] == 14 and e2e["failed"] == 2
    assert e2e["values"]["ok_frac"] == pytest.approx(12 / 14)
    assert e2e["values"]["query_geomean_s"] == pytest.approx(
        stats.query_geomean({o: [0.5 + 0.01 * i for i in range(6)] for o in ops}))

    # every pass wrong: nothing verified
    wrong = [PassResult(i, 1.0, {o: 0.5 for o in ops}) for i in range(6)]
    for p in wrong:
        p.fail_all()
    e2e = run.end_to_end(10.0, wrong, set(), 1.0)
    assert e2e["attempted"] == 12 and e2e["failed"] == 12
    assert e2e["values"]["ok_frac"] == 0.0


def test_end_to_end_fails_every_execution_of_a_query_that_did_not_verify():
    passes = [PassResult(i, 1.0, {"a": 1.0, "b": 2.0 + i}) for i in range(12)]
    e2e = run.end_to_end(10.0, passes, {"a"}, 100.0)
    assert e2e["attempted"] == 24 and e2e["failed"] == 12
    assert e2e["values"]["ok_frac"] == 0.5
    assert e2e["values"]["query_geomean_s"] == pytest.approx(7.5)


def test_check_uses_the_compare_frames_rule():
    import duckdb

    con = duckdb.connect()
    oracle = "SELECT * FROM (VALUES (1, 0.5, 'x'), (2, 1.5, 'y')) t(k, v, s)"
    same = pd.DataFrame({"S": ["y", "x"], "v": [1.5, 0.5], "k": [2, 1]})
    assert verify.check(same, oracle, con) is None
    assert "oracle mismatch" in verify.check(same.assign(v=[1.5, 0.5 + 1e-12]), oracle, con)
    assert "oracle mismatch" in verify.check(same.iloc[:1], oracle, con)
    assert verify.check(same.iloc[:0], oracle, con) == "empty result"


def test_data_is_the_engines_sf01_fixture():
    """The tables the benchmark reads are byte copies of the sf0.1 fixture
    ``bench.py`` reads, which sits beside the test suite's sf0.001 one."""
    from conftest import SF_DIR
    from glonassdatamining_spark.sources import TABLES

    assert sorted(os.listdir(run.SF_DIR)) == sorted(f"{t}.parquet" for t in TABLES)
    fixture = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.1")
    if not os.path.isdir(fixture):
        pytest.skip(f"no sf0.1 fixture at {fixture}")
    for t in TABLES:
        with open(os.path.join(run.SF_DIR, f"{t}.parquet"), "rb") as a, \
                open(os.path.join(fixture, f"{t}.parquet"), "rb") as b:
            assert a.read() == b.read(), t


def test_lakehouse_orders_are_keyed_in_order():
    import pyarrow.parquet as pq

    keys = pq.read_table(os.path.join(run.SF_DIR, "orders.parquet"),
                         columns=["o_orderkey"]).column(0).to_numpy()
    assert np.array_equal(keys, np.arange(LakehouseIngest.LIVE))
