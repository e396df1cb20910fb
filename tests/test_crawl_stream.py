"""Streaming-crawl parity: the self-feeding frontier stream reaches exactly
the pages / articles the batch BFS orchestrator does on the same fixture
site, fetches nothing twice, and honors the depth cap."""

from __future__ import annotations

import pytest

from code_challenge___data_engineer___machinemax_spark.crawl.fetcher import dict_fetcher
from code_challenge___data_engineer___machinemax_spark.crawl.orchestrator import crawl
from code_challenge___data_engineer___machinemax_spark.streaming.crawl_stream import crawl_stream

from tests.test_crawl import BASE, SITE


@pytest.fixture(scope="module")
def stream_result(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("crawl_stream"))
    return crawl_stream(spark, [f"{BASE}/"], dict_fetcher(SITE), BASE,
                        work_dir=work, max_depth=4)


def test_stream_matches_batch_visited(spark, stream_result):
    batch = crawl(spark, [f"{BASE}/"], dict_fetcher(SITE), BASE, max_depth=4)
    assert {r.url for r in stream_result.visited.collect()} == {
        r.url for r in batch.visited.collect()
    }


def test_stream_matches_batch_articles(spark, stream_result):
    batch = crawl(spark, [f"{BASE}/"], dict_fetcher(SITE), BASE, max_depth=4)
    key = lambda d: d["url"] or ""
    got = sorted((r.asDict() for r in stream_result.articles.collect()), key=key)
    want = sorted((r.asDict() for r in batch.articles.collect()), key=key)
    assert got == want and len(got) > 0


def test_stream_fetches_each_url_once(spark, stream_result):
    v = stream_result.visited
    assert v.count() == v.dropDuplicates(["url"]).count()


def test_stream_depth_cap(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("crawl_stream_d1"))
    r = crawl_stream(spark, [f"{BASE}/"], dict_fetcher(SITE), BASE,
                     work_dir=work, max_depth=1)
    # single-page mode (index.py:141-142): only the seed is fetched
    assert {x.url for x in r.visited.collect()} == {f"{BASE}/"}


def test_stream_error_rows_counted(spark, stream_result):
    # the relative page3 link resolves to an unroutable URL -> a dead-letter
    # error row, never an aborted stream (index.py:124-129); failure and
    # page counts match the batch orchestrator exactly
    batch = crawl(spark, [f"{BASE}/"], dict_fetcher(SITE), BASE, max_depth=4)
    assert stream_result.stats["fetch_failures"] == batch.stats["fetch_failures"]
    assert stream_result.stats["pages_found"] == batch.stats["pages_found"]


def test_stream_journal_counts_match_stats(spark, stream_result):
    # op 30 streaming twin: per-batch journal appends reconcile with stats
    from pyspark.sql import functions as F

    j = stream_result.journal
    assert [f.name for f in j.schema.fields] == ["event", "url", "round", "ts"]
    counts = {r.event: r.n for r in j.groupBy("event").agg(F.count("*").alias("n")).collect()}
    assert counts["tries"] == stream_result.stats["pages_found"]
    assert counts.get("fetch_error", 0) == stream_result.stats["fetch_failures"]
    # dedup-before-fetch: no URL journaled 'tries' twice
    tries = j.filter(F.col("event") == "tries")
    assert tries.count() == tries.select("url").distinct().count()


def test_streaming_index_maintenance(spark, tmp_path_factory):
    """Index postings appended per micro-batch == the batch-built index:
    the materialized probe answers exactly what brute-force search answers,
    and BM25 over the streamed layout ranks as BM25 over the store, across
    two incremental ingest waves."""
    from pyspark.sql import functions as F

    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        _postings,
        bm25_rank,
        bm25_rank_from_index,
        keyword_search,
        search_with_materialized_index,
    )
    from code_challenge___data_engineer___machinemax_spark.streaming.search import (
        maintain_inverted_index,
    )

    work = tmp_path_factory.mktemp("inc_index")
    store, index = str(work / "store"), str(work / "index")
    docs1 = spark.createDataFrame(
        [("u1", "spark engine joins data"), ("u2", "mongo text search")],
        "url string, text string",
    )
    docs1.write.mode("append").parquet(store)

    q = maintain_inverted_index(spark, store, index)
    try:
        q.processAllAvailable()
        # second ingest wave lands while the maintainer runs
        spark.createDataFrame(
            [("u3", "spark streaming search streams streaming")], "url string, text string"
        ).write.mode("append").parquet(store)
        q.processAllAvailable()
    finally:
        q.stop()

    corpus = spark.read.parquet(store)
    for kw in ("spark", "search", "engine", "absent"):
        indexed = {
            r.url
            for r in search_with_materialized_index(spark, corpus, index, "url", kw).collect()
        }
        brute = {r.url for r in keyword_search(corpus, kw).collect()}
        assert indexed == brute, kw
        ranked = [tuple(r) for r in bm25_rank_from_index(spark, index, kw, key_col="url").collect()]
        assert ranked == [tuple(r) for r in bm25_rank(corpus, "url", kw).collect()], kw
    # one derivation for batch and stream: the streamed layout holds the
    # postings of the whole store
    cols = ("url", "token", "tf", "dl")
    streamed = spark.read.parquet(index).select(*cols).collect()
    assert sorted(streamed) == sorted(_postings(corpus, "url", "text").select(*cols).collect())
