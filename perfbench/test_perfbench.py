"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import argparse

import pyarrow.parquet as pq
import pytest

from perfbench import datagen
from perfbench.run import Bench, outcome
from perfbench.workloads import Op, SearchServing


def test_same_seed_same_documents(tmp_path):
    a = datagen.write_tables(7, str(tmp_path / "a"), 50)
    b = datagen.write_tables(7, str(tmp_path / "b"), 50)
    c = datagen.write_tables(8, str(tmp_path / "c"), 50)
    assert pq.read_table(a).equals(pq.read_table(b))
    assert not pq.read_table(a).equals(pq.read_table(c))


class _Frame:
    schema = None

    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


class _Session:
    sparkContext = None  # untraced runs set no job groups


class _Workload:
    store_dir = ""

    def __init__(self, ops):
        self.ops = ops

    def pass_ops(self, rng, seconds):
        return self.ops

    def end_pass(self):
        pass


def _bench(ops) -> Bench:
    bench = Bench(argparse.Namespace(seed=1, trace=0, seconds=1, workload="corpus_build"), "unused")
    bench.spark = _Session()
    bench.wl = _Workload(ops)
    return bench


def test_wrong_result_counts_as_failed():
    def must_be_one(out):
        return None if out[1] == [1] else f"got {out[1]}"

    def boom():
        raise RuntimeError("op failed")

    ops = [
        Op("right", "query", lambda: _Frame([1]), must_be_one),
        Op("wrong", "query", lambda: _Frame([2]), must_be_one),
        Op("raises", "query", boom, must_be_one),
    ]
    done = _bench(ops).run_pass()
    assert [r.error is None for r in done.results] == [True, False, False]
    assert outcome(done) == (3, 2)


def test_search_check_rejects_missing_and_duplicate_ids(tmp_path):
    sf = str(tmp_path)
    datagen.write_tables(3, sf, 40)
    wl = SearchServing(None, sf, sf)
    kw = wl.vocab[0]
    want = wl.expected_ids(kw)
    assert want and wl.expected_ids("nohit12345") == []
    rows = [{"doc_id": d} for d in want]
    assert wl.check("keyword_search", kw, (None, rows)) is None
    assert wl.check("keyword_search", kw, (None, rows[1:])) is not None
    assert wl.check("materialized_index", kw, (None, rows + rows[:1])) is not None
    urls = [{"url": f"https://news.example/{d}"} for d in want]
    assert wl.check("article_store", kw, (None, urls)) is None
    assert wl.check("article_store", kw, (None, urls[:-1])) is not None


def test_event_log_parse_charges_tasks_to_groups():
    from perfbench import trace

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100,
         "Properties": {trace.GROUP: "0:build"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 0},
         "Properties": {trace.GROUP: "0:build"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 40, "Input Metrics": {"Records Read": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task Info": {"Failed": True}, "Task Metrics": {"Executor Run Time": 5}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 180},
        # a job outside any group (set-up work) is not charged
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 200, "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 300},
    ]
    stats, intervals = trace.parse(events)
    s = stats["0:build"]
    assert (s.jobs, s.stages, s.tasks, s.failed_tasks, s.task_ms, s.input_records) == (1, 1, 2, 1, 45, 7)
    assert list(stats) == ["0:build"] and intervals == [(100, 180)]
    assert trace.busy_ms([(100, 180), (150, 260), (400, 500)], 120, 450) == 190


def test_weights_check_matches_the_oracle(tmp_path):
    """The sampling-weights check's reference (components of the checked
    pairs) gives the rows the query's DuckDB oracle gives."""
    import duckdb

    from code_challenge___data_engineer___machinemax_spark import plans
    from perfbench.workloads import weights_from_pairs

    path = datagen.write_tables(5, str(tmp_path), 40)
    oracles = plans.all_oracles()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    pairs = con.sql(oracles["near_dup_pairs_minhash_from_store"]).df().to_dict("records")
    assert pairs  # the generated near-duplicates are found
    want = sorted(con.sql(oracles["near_dup_sampling_weights_from_store"]).fetchall())
    got = weights_from_pairs(con.sql("SELECT doc_id FROM documents").fetchall(), pairs)
    assert got == want


def test_quantile_estimate():
    from perfbench.run import quantile

    assert quantile([3.0, 1.0, 2.0], 0.5) == pytest.approx(2.0)
    assert quantile([5.0], 0.9) == pytest.approx(5.0)
    assert quantile([float(i) for i in range(1001)], 0.9) == pytest.approx(900.0, abs=1.0)
    # a smooth weighted mean: swapping which sample sits in the middle moves
    # it by less than the gap between the middle samples
    assert 2.0 < quantile([1.0, 2.0, 4.0, 5.0, 9.0], 0.5) < 4.0
