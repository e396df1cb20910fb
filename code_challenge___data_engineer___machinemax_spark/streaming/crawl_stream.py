"""Streaming crawl: the BFS frontier as a self-feeding file stream.

The batch orchestrator (crawl/orchestrator.py) drives rounds from a driver
loop; here the loop is inverted into Structured Streaming: the frontier is a
parquet directory consumed by ``readStream``, each micro-batch fetches /
extracts / classifies inside ``foreachBatch``, and newly discovered links
are *written back into the frontier directory* — the stream feeds itself
until the reachable graph is exhausted (or ``max_depth`` cuts it off).

Reference semantics preserved: dedup-before-fetch (the found_pages_set,
index.py:117-119,166-169 — here a left-anti join against a persisted
``visited`` table, so a URL is fetched exactly once no matter how many
batches rediscover it), admission + article extraction (newsspider.py:36-49),
error-row tolerance (index.py:124-129), and the single-page depth cap
(index.py:141-142) via a per-URL depth column.

Scale notes: at production scale the frontier directory becomes a real queue
(Kafka/Kinesis source — the code is source-shape-agnostic past readStream);
``visited`` becomes a Delta table with MERGE instead of append+anti-join.
State per batch is bounded: only (url, depth) pairs flow through the stream;
pages/articles are appended to sinks inside the batch and never held.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..crawl.extract import (
    admission_filter,
    article_fields,
    articles_only,
    classify_link,
    extract_links,
    resolve_url,
)
from ..crawl.fetcher import FetchFn, fetch_stage
from .replay import read_or_empty

_FRONTIER_SCHEMA = "url string, depth int"


@dataclass
class StreamCrawlResult:
    articles: DataFrame
    visited: DataFrame
    stats: dict[str, int]
    # op 30 journal (reference index.py:215-235), streaming form: events are
    # appended per micro-batch to a parquet sink; round = the URL's depth.
    journal: DataFrame | None = None


def crawl_stream(
    spark: SparkSession,
    seeds: list[str],
    fetch: FetchFn,
    base_url: str,
    work_dir: str,
    max_depth: int = 3,
    fetch_partitions: int = 4,
    accept_regex: str | None = None,
) -> StreamCrawlResult:
    """Run the crawl as a self-terminating streaming query.

    Blocks until the frontier quiesces (two consecutive drain cycles add no
    new URLs), then stops the query and returns the materialized results.
    ``max_depth`` matches the batch orchestrator: seeds are depth 0, links
    found at depth d enqueue at d+1, and only depths < max_depth are fetched.
    """
    frontier_dir = os.path.join(work_dir, "frontier")
    visited_dir = os.path.join(work_dir, "visited")
    articles_dir = os.path.join(work_dir, "articles")
    failures_dir = os.path.join(work_dir, "failures")
    journal_dir = os.path.join(work_dir, "journal")
    checkpoint_dir = os.path.join(work_dir, "_checkpoint")
    _JOURNAL_SCHEMA = "event string, url string, round int, ts timestamp"

    def _log(df: DataFrame, event: str, round_col=None) -> None:
        rnd = round_col if round_col is not None else F.col("depth")
        (
            df.select(
                F.lit(event).alias("event"),
                F.col("url"),
                rnd.cast("int").alias("round"),
                F.current_timestamp().alias("ts"),
            )
            .write.mode("append")
            .parquet(journal_dir)
        )

    (
        spark.createDataFrame([(u, 0) for u in dict.fromkeys(seeds)], _FRONTIER_SCHEMA)
        .coalesce(1)
        .write.mode("append")
        .parquet(frontier_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        batch = batch_df.filter(F.col("depth") < max_depth).groupBy("url").agg(
            F.min("depth").alias("depth")
        )
        visited = read_or_empty(sess, visited_dir, "url string")
        # dedup-before-fetch; materialize so the visited append below can't
        # feed back into this batch's own anti-join
        fresh = batch.join(visited, "url", "left_anti").localCheckpoint()
        if not fresh.take(1):
            return
        fresh.select("url").write.mode("append").parquet(visited_dir)
        _log(fresh, "tries")

        fetched = fetch_stage(
            fresh.repartition(fetch_partitions), fetch
        ).localCheckpoint()
        ok_pages = fetched.filter(F.col("ok"))
        article_fields(articles_only(ok_pages)).write.mode("append").parquet(articles_dir)
        failures = fetched.filter(~F.col("ok")).select("url", "error").localCheckpoint()
        failures.write.mode("append").parquet(failures_dir)
        _log(failures, "fetch_error", round_col=F.lit(None))

        links = extract_links(admission_filter(ok_pages)).withColumn(
            "link", resolve_url(F.col("page_url"), F.col("link"))
        )
        next_links = links.filter(classify_link(F.col("link"), base_url) == "next_page")
        if accept_regex:
            next_links = next_links.filter(F.col("link").rlike(accept_regex))
        next_frontier = (
            next_links.join(fresh, next_links.page_url == fresh.url)
            .select(next_links.link.alias("url"), (fresh.depth + 1).alias("depth"))
            .filter(F.col("depth") < max_depth)
            .groupBy("url")
            .agg(F.min("depth").alias("depth"))
        )
        if next_frontier.take(1):
            # the self-feed: the stream's own source directory
            next_frontier = next_frontier.localCheckpoint()
            next_frontier.write.mode("append").parquet(frontier_dir)
            _log(next_frontier, "will_explore")

    query = (
        spark.readStream.schema(_FRONTIER_SCHEMA)
        .parquet(frontier_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        # drain until quiescent: a drain cycle that discovers no new URLs
        # (visited stable) twice in a row means the self-feed has dried up
        prev, stable = -1, 0
        while stable < 2:
            query.processAllAvailable()
            time.sleep(0.1)  # let a just-written self-feed file land
            n = read_or_empty(spark, visited_dir, "url string").count()
            stable = stable + 1 if n == prev else 0
            prev = n
    finally:
        query.stop()

    articles = read_or_empty(
        spark, articles_dir,
        "url string, title string, description string, author string, "
        "section string, keywords string, text string",
    )
    visited = read_or_empty(spark, visited_dir, "url string")
    failures = read_or_empty(spark, failures_dir, "url string, error string")
    journal = read_or_empty(spark, journal_dir, _JOURNAL_SCHEMA)
    stats = {
        "pages_found": visited.count(),
        "articles": articles.count(),
        "fetch_failures": failures.count(),
    }
    return StreamCrawlResult(articles=articles, visited=visited, stats=stats,
                             journal=journal)
