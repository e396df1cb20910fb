"""The finite-stream harness (streaming/replay.py): temp dirs, drains and
empty-store reads live in one module, a failed query leaves no temp dir
behind, and the stores a stream never wrote read as no rows."""

from __future__ import annotations

import os
import re
import tempfile

import pyarrow.parquet as pq
import pytest

from code_challenge___data_engineer___machinemax_spark import plans
from code_challenge___data_engineer___machinemax_spark.streaming import replay
from code_challenge___data_engineer___machinemax_spark.tables import TABLES

from .oracle_harness import compare, duck_connection

_PKG = os.path.dirname(os.path.dirname(replay.__file__))


def _package_sources():
    for root, _, names in os.walk(_PKG):
        for name in sorted(n for n in names if n.endswith(".py")):
            path = os.path.join(root, name)
            with open(path) as f:
                yield os.path.relpath(path, _PKG), f.read()


def _hits(pattern: str, allowed: set[tuple[str, str]]) -> list[str]:
    found = []
    for rel, src in _package_sources():
        if rel == os.path.join("streaming", "replay.py"):
            continue
        lines = src.splitlines()
        for m in re.finditer(pattern, src):
            line = lines[src.count("\n", 0, m.start())].strip()
            if (rel, line) not in allowed:
                found.append(f"{rel}: {line}")
    return found


def test_one_finite_stream_harness():
    """Temp dirs, stream drains and the read-or-empty fallback exist once,
    in streaming/replay.py. The one exception is the crawl stream's
    drain-until-quiet loop, which drains repeatedly while it feeds itself."""
    mkdtemp = _hits(r"tempfile\.mkdtemp\(", set())
    assert not mkdtemp, "use replay.scratch_dir:\n" + "\n".join(mkdtemp)
    drains = _hits(
        r"\.processAllAvailable\(",
        {(os.path.join("streaming", "crawl_stream.py"), "query.processAllAvailable()")},
    )
    assert not drains, "use replay.drain / replay.run_to_memory:\n" + "\n".join(drains)
    defs = [
        rel
        for rel, src in _package_sources()
        for _ in re.finditer(r"^\s*def \w*read_or_empty\(", src, re.M)
    ]
    assert defs == [os.path.join("streaming", "replay.py")], defs


def test_failed_streaming_query_leaves_no_temp_dir(spark, tmp_path, monkeypatch):
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    no_tables = tmp_path / "no_tables"
    no_tables.mkdir()
    queries = plans.all_queries()
    for name in ("streamed_hourly_counts", "streamed_corpus_state", "streamed_event_rollup"):
        with pytest.raises(Exception):
            queries[name](spark, str(no_tables))
        assert os.listdir(scratch) == [], name


def test_event_stream_stages_inside_the_query_scratch_dir(spark, sf_dir, tmp_path, monkeypatch):
    """streamed_event_rollup links events.parquet into its own scratch dir,
    so the link goes when the query returns."""
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    links = []
    symlink = os.symlink
    monkeypatch.setattr(os, "symlink", lambda src, dst: (links.append(dst), symlink(src, dst)))
    rows = plans.all_queries()["streamed_event_rollup"](spark, sf_dir).collect()
    assert rows
    assert links and all(os.path.commonpath([str(scratch), d]) == str(scratch) for d in links)
    assert os.listdir(scratch) == []


def test_memory_sink_tables_do_not_outlive_the_query(spark, sf_dir):
    small = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.001")
    if not os.path.isdir(small):
        small = sf_dir
    queries = plans.all_queries()
    for name in ("streamed_hourly_counts", "streamed_sessions"):
        assert queries[name](spark, small).count() > 0, name
    names = {t.name for t in spark.catalog.listTables()}
    assert not names & {"ccdem_streamed_hourly", "ccdem_streamed_sessions"}, names


def _empty_tables(src_dir: str, dst_dir) -> str:
    """Every source table as a 0-row parquet file with its schema."""
    dst_dir.mkdir()
    for t in TABLES:
        empty = pq.read_schema(f"{src_dir}/{t}.parquet").empty_table()
        pq.write_table(empty, str(dst_dir / f"{t}.parquet"))
    return str(dst_dir)


@pytest.mark.parametrize(
    "name, types",
    [
        ("streamed_corpus_state", ["string", "bigint"]),
        ("streamed_near_dedup", ["bigint", "string", "bigint"]),
        ("streamed_vector_admission", ["bigint", "int"]),
    ],
)
def test_stream_store_queries_on_empty_input(spark, sf_dir, tmp_path, name, types):
    """A stream that admits nothing writes no corpus; the query still
    returns the oracle's answer, no rows under the corpus columns."""
    empty = _empty_tables(sf_dir, tmp_path / "empty")
    df = plans.all_queries()[name](spark, empty)
    assert [f.dataType.simpleString() for f in df.schema] == types
    con = duck_connection(empty)
    try:
        ok, msg = compare(df, con, plans.all_oracles()[name])
    finally:
        con.close()
    assert ok, f"{name}: {msg}"
