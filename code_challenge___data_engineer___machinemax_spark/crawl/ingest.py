"""Article store: the engine's replacement for the reference's MongoDB
collection (write path implied by README.md:26-28 but absent from the repo,
SURVEY.md §0.2; read path api.py:20-26).

Parquet-backed, append-only with latest-wins read semantics:
- append(): add article rows stamped with an ingest version.
- latest(): one row per url, the newest version (row_number dedup) — this is
  Mongo update_one's observable behavior (apitestmongo.py:53) without
  requiring a transactional format (Delta MERGE would replace this 1:1).
- search(): the keyword query surface (api.py:22-26 semantics).

At scale: the log grows with every append, but readers only see its latest
rows, so the row_number dedup runs once per log state, not per request.
The first ``latest()`` or ``search()`` of a state resolves the log and
writes the result to ``<path>/_latest/<gen>-<sig>`` (``sig`` hashes the
log's data files, ``gen`` counts them), partitioned like the store; every
later read of that state is one scan of the snapshot with no window
shuffle. The gain therefore depends on reads per log state: ``append``
writes only the log, but the next read pays the window plus a rewrite of
every latest row, more than one read of the log itself costs, so traffic
that appends between every pair of searches is slower than resolving the
log per request. The previous state's snapshot is kept, so a DataFrame
built before an append still runs after the next state is read. Time
travel (``as_of_version``), ``versions()`` and ``update`` read the log.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import stores
from ..operators.search import _keyword_search
from ..schemas import ARTICLE
from ..tables import file_signature, read_parquet

_PROJECTION = [f.name for f in ARTICLE.fields]  # api.py:27-35 field order


class ArticleStore:
    def __init__(self, spark: SparkSession, path: str, partition_by: str | None = None):
        """``partition_by`` (e.g. 'section'): hive-partition the store so
        section-scoped queries prune at the directory level — the 100 TB
        layout lever. NULL partition values land in the HIVE_DEFAULT
        partition and read back as NULL."""
        self.spark = spark
        self.path = path
        self.partition_by = partition_by

    def append(self, articles: DataFrame, version: int | None = None) -> None:
        if version is None:
            version = time.time_ns()
        writer = (
            articles.select(*_PROJECTION)
            .withColumn("ingest_version", F.lit(version).cast("long"))
            .write.mode("append")
        )
        if self.partition_by:
            writer = writer.partitionBy(self.partition_by)
        writer.parquet(self.path)

    def _raw(self) -> DataFrame:
        return read_parquet(self.spark, self.path)

    def latest(self, as_of_version: int | None = None) -> DataFrame:
        """One row per url, newest version wins: a read of the log state's
        snapshot (:meth:`_snapshot`). ``as_of_version`` reads the store as
        it stood at that ingest version (time travel over the append-only
        log — what Delta gives via VERSION AS OF, reconstructed from the
        version column)."""
        snap = None if as_of_version is not None else self._snapshot()
        if snap is None:
            return self._resolve(as_of_version)
        return _read_snapshot(self.spark, snap).select(*_PROJECTION)

    def _resolve(self, as_of_version: int | None = None) -> DataFrame:
        """latest() computed from the log: a row_number window over every
        version of every url."""
        raw = self._raw()
        if as_of_version is not None:
            raw = raw.filter(F.col("ingest_version") <= as_of_version)
        w = W.partitionBy("url").orderBy(F.desc("ingest_version"))
        return (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*_PROJECTION)
        )

    def _snapshot(self) -> str | None:
        """The directory holding latest()'s rows for the log as it stands,
        or None while the log holds no data files.

        It is ``<path>/_latest/<gen>-<sig>``: ``sig`` hashes the log's data
        files (:func:`tables.file_signature`, which skips ``_``-prefixed
        directories, as Spark's file index and the streaming file source
        do, so the log's readers never see a snapshot), and ``gen``, their
        count zero-padded, orders the log states, since an append-only log
        only gains files. The first call for a log state builds it from the
        log and publishes it through :func:`stores._publish` (so concurrent
        first reads publish one copy), then prunes (:func:`_prune_snapshots`)."""
        files = file_signature(self.path)
        if not any(name.endswith(".parquet") for name, _, _ in files):
            return None
        sig = hashlib.sha256(repr((files, self.partition_by)).encode()).hexdigest()[:12]
        name = f"{len(files):012d}-{sig}"
        root = os.path.join(self.path, "_latest")

        def build(out: str) -> None:
            writer = self._resolve().write
            if self.partition_by:
                writer = writer.partitionBy(self.partition_by)
            writer.parquet(out)

        snap = stores._publish(os.path.join(root, name), build)
        _prune_snapshots(root, name)
        return snap

    def versions(self) -> list[int]:
        return [
            r.v for r in self._raw().select(F.col("ingest_version").alias("v")).distinct()
            .orderBy("v").collect()
        ]

    def update(self, url: str, **fields: str) -> None:
        """update_one-by-key equivalent: append a new version of the row.
        The row is read from the log (the url filter reaches the scan), so
        no snapshot is built for a state this call is about to replace."""
        row = self._resolve().filter(F.col("url") == url)
        for name, value in fields.items():
            row = row.withColumn(name, F.lit(value))
        self.append(row)

    def search(self, keyword: str) -> DataFrame:
        """Keyword search over stored articles, public-field projection
        (api.py:26-35), as one statement over the latest() snapshot.
        Unknown keyword -> empty DataFrame, not an error; likewise a
        missing/empty store (the reference returns what it has on a failed
        read, api.py:36-37)."""
        snap = self._snapshot()
        if snap is None:
            return self.spark.createDataFrame([], ARTICLE)
        return _keyword_search(
            _read_snapshot(self.spark, snap), keyword, "text", ", ".join(_PROJECTION)
        )

    def search_json(self, keyword: str) -> list[str]:
        """JSON-array boundary (api.py:38's jsonify)."""
        return self.search(keyword).toJSON().collect()

    def search_ranked(self, keyword: str, ranker: str = "bm25", k: int = 10) -> DataFrame:
        """Relevance-ranked search: the reference's unordered Mongo cursor
        (api.py:26-35) upgraded with a score column + top-k ordering.
        ``ranker``: 'bm25' (saturating) or 'tfidf' (linear); the score
        column is named after it. A missing/empty store or a keyword with
        no tokens returns no rows under the same columns."""
        from ..operators.search import bm25_rank, query_tokens, tfidf_rank

        rank_fn = {"bm25": bm25_rank, "tfidf": tfidf_rank}[ranker]
        if not self.exists() or not query_tokens(keyword):
            # nullable like the parquet read the non-empty path projects
            fields = [T.StructField(f.name, f.dataType) for f in ARTICLE.fields]
            fields.append(T.StructField(ranker, T.DoubleType()))
            return self.spark.createDataFrame([], T.StructType(fields))
        latest = self.latest()
        scores = rank_fn(latest, "url", keyword, k=k)
        return (
            latest.join(scores, "url")
            .select(*_PROJECTION, ranker)
            .orderBy(F.desc(ranker), F.asc("url"))
        )

    def exists(self) -> bool:
        return any(name.endswith(".parquet") for name, _, _ in file_signature(self.path))


def _read_snapshot(spark: SparkSession, snap: str) -> DataFrame:
    """A snapshot read with the declared ``ARTICLE`` schema: every column
    the snapshot's build writes is a string, so the read starts no
    schema-inference job and keeps no per-state schema entry, and a
    partition column reads back as a string whatever its values look like."""
    return spark.read.schema(ARTICLE).parquet(snap)


def _prune_snapshots(root: str, name: str) -> None:
    """Remove the snapshots under ``root`` of log states older than the one
    before ``name``'s. A DataFrame built over the previous state's snapshot
    still runs after the next state is read; it fails only once two newer
    states have been read. A snapshot of a newer state (published by a
    reader that listed the log after this one) is never removed."""
    older = sorted(n for n in os.listdir(root) if ".tmp-" not in n and n < name)
    for stale in older[:-1]:
        shutil.rmtree(os.path.join(root, stale), ignore_errors=True)


def download_files(pages: DataFrame, out_dir: str) -> DataFrame:
    """Document download sink (reference download_file/download_files,
    index.py:181-212): write each fetched body to ``out_dir`` named by the
    URL basename, return the ledger (url, ok, error) for the
    'downloaded m / n' report.

    Executed with mapInPandas so writes happen where the data lives; on a
    real cluster ``out_dir`` is a shared/object store path. Name collisions
    keep the first write (the reference's caught_docs set semantics).
    """
    import re as _re

    import pandas as pd

    def write_partition(batches):
        import os as _os

        _os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                url, body = r["url"], r["html"]
                try:
                    name = _re.sub(r"[^A-Za-z0-9._-]", "_", url.rstrip("/").rsplit("/", 1)[-1]) or "index"
                    path = _os.path.join(out_dir, name)
                    if not _os.path.exists(path):
                        with open(path, "w") as f:
                            f.write(body or "")
                    rows.append({"url": url, "ok": True, "error": None})
                except Exception as exc:
                    rows.append({"url": url, "ok": False, "error": str(exc)})
            yield pd.DataFrame(rows, columns=["url", "ok", "error"])

    return pages.select("url", "html").mapInPandas(write_partition, "url string, ok boolean, error string")


def download_fetched(fetched: DataFrame, out_dir: str) -> DataFrame:
    """Download sink over a ``fetch_stage`` output: successful fetches are
    written by ``download_files``; fetch FAILURES stay in the ledger as
    failed rows so the 'downloaded m / n' report counts attempts, exactly
    like the reference's per-URL try/except loop (index.py:190-212)."""
    ok_ledger = download_files(fetched.filter("ok"), out_dir)
    failed = fetched.filter("NOT ok").selectExpr(
        "url", "false AS ok", "error"
    )
    return ok_ledger.unionByName(failed)


def download_report(ledger: DataFrame) -> tuple[int, int]:
    """'downloaded m / n' (reference index.py:212)."""
    row = ledger.agg(
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("ok"), F.count("*").alias("n")
    ).collect()[0]
    return int(row.ok or 0), int(row.n)
