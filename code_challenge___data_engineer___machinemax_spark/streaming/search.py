"""Streaming search: continuous keyword matching over the article store.

The reference's API answers one keyword request per call (api.py:11-39);
the streaming twin watches the store and maintains match counts as new
articles are ingested — the crawl->store->search loop as one continuous
pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.search import keyword_search
from ..tables import read_parquet


def stream_article_matches(
    spark: SparkSession, store_path: str, keyword: str
) -> DataFrame:
    """readStream over the article store, filtered to keyword matches.
    Append-mode rows are live search hits; aggregate downstream as needed."""
    schema = read_parquet(spark, store_path).schema
    stream = spark.readStream.schema(schema).parquet(store_path)
    return keyword_search(stream, keyword)


def streaming_match_counts(
    spark: SparkSession, store_path: str, keyword: str
) -> DataFrame:
    """Running per-section count of matching articles."""
    hits = stream_article_matches(spark, store_path, keyword)
    return hits.groupBy("section").agg(F.count("*").alias("n_matches"))


def maintain_inverted_index(
    spark: SparkSession, store_path: str, index_path: str, key_col: str = "url"
):
    """Incremental index maintenance as a stream: every micro-batch of newly
    ingested articles appends its ``(key, dl, token, tf)`` postings into the
    token-bucketed L2 posting layout (operators/search.py::
    append_to_inverted_index), the rows a batch-built layout holds, so it
    serves keyword probes and BM25 alike. This replaces the reference's per-request index creation (api.py:22) with
    continuous ingest-time maintenance — the index is always fresh,
    queries only probe.

    Returns the StreamingQuery; callers stop() it (or processAllAvailable()
    in tests). At-least-once per batch: the checkpoint tracks which article
    files have been indexed, but ``foreachBatch`` replays a batch whose
    commit did not land, and the replay appends its postings again (which
    doubles those rows' ``df`` and term scores).
    """
    from ..operators.search import append_to_inverted_index

    schema = read_parquet(spark, store_path).schema
    stream = spark.readStream.schema(schema).parquet(store_path)

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_to_inverted_index(batch_df, key_col, index_path)

    return (
        stream.writeStream.foreachBatch(index_batch)
        .option("checkpointLocation", index_path + "_checkpoint")
        .start()
    )
