"""The benchmark's workloads: their seeded op lists and output checks.

An op is one call into the engine's public surface. A ``query`` op builds a
registry query (``plans.all_queries()[name](spark, sf_dir)``) and collects
it; a ``request`` op does the same for one search request; an ``ingest`` op
is one cold ``stores.ensure_*`` build. Every op carries a check that runs
after the pass, outside the timed region, and returns None when the output
is right or a one-line reason when it is not.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

import duckdb
import pyarrow.parquet as pq


@dataclass
class Op:
    name: str
    kind: str  # "ingest", "query" or "request"
    build: Callable[[], Any]  # a DataFrame, or a store path for "ingest"
    check: Callable[[Any], str | None]
    entry: str = ""  # search entry point of a "request"
    keywords: str = ""  # its query string


def _tokens(text: str) -> set[str]:
    # the data-side tokenizer: lower-case, split on anything but letters/digits
    return {t for t in re.split(r"[\W_]+", text.lower()) if t}


def store_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a store path; checksums and markers excluded."""
    n = size = 0
    for root, _, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


class Workload:
    tables = ("documents",)
    ingest_at_setup = False  # True: stores are built by prepare(), not in the pass

    def __init__(self, spark, sf_dir: str, work: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self.work = work
        self.store_dir = ""
        self.outputs: dict[str, Any] = {}  # op name -> output, set before the checks run

    def prepare(self) -> dict[str, float]:
        """Work done once per set-up; returns the timed store builds."""
        return {}

    def pass_ops(self, rng: random.Random, seconds: float) -> list[Op]:
        raise NotImplementedError

    def end_pass(self) -> None:
        pass

    @staticmethod
    def ingest_check(path: str) -> str | None:
        if store_files(path)[0] == 0:
            return f"store {path} holds no data files"
        return None


class CorpusBuild(Workload):
    """The write path: cold store builds, the queries that read them, and
    the self-contained corpus operators."""

    BUILDS = (
        "ensure_bm25_index_store",
        "ensure_minhash_band_store",
        "ensure_simhash_store",
        "ensure_neardup_cluster_store",
    )
    READS = (
        "near_dup_pairs_minhash_from_store",
        "simhash_near_dup_pairs_from_store",
        "near_dup_sampling_weights_from_store",
        "bm25_batch_search_from_store",
    )
    OPERATORS = (
        "minhash_signatures",
        "near_dup_pairs_minhash",
        "quality_filter_pipeline",
        "dsir_importance_weights",
        "perplexity_tercile_mix",
        "token_budget_selection",
        "kneser_ney_doc_scores",
    )

    # The MinHash oracles re-tokenize a text once per shingle, so their cost
    # grows with the square of its length: on the full corpus they would
    # take minutes. These queries give each row from that row's own
    # documents, so their oracles run on a seeded sample of documents and
    # are compared with the query's rows inside the sample.
    SAMPLED = {
        "minhash_signatures": ("doc_id",),
        "near_dup_pairs_minhash": ("id_a", "id_b"),
        "near_dup_pairs_minhash_from_store": ("id_a", "id_b"),
    }
    SAMPLE_PAIRS = 20  # near-duplicate pairs in the sample
    SAMPLE_OTHERS = 60  # and documents drawn from the rest

    def __init__(self, spark, sf_dir: str, work: str):
        super().__init__(spark, sf_dir, work)
        from code_challenge___data_engineer___machinemax_spark import plans

        self.queries = plans.all_queries()
        self.oracles = plans.all_oracles()
        self.path = os.path.join(sf_dir, "documents.parquet")
        self.duck = duckdb.connect()
        self.duck.sql(f"CREATE VIEW documents AS SELECT * FROM '{self.path}'")
        self.duck_sample = duckdb.connect()
        self.sample: set[int] = set()
        self._oracle_tables: dict[tuple[str, bool], str] = {}

    def draw_sample(self, rng: random.Random) -> set[int]:
        """Seeded doc ids: both ends of SAMPLE_PAIRS generated near-duplicate
        pairs (a text and that text plus `` dup``), so the pair queries have
        pairs to find inside the sample, and SAMPLE_OTHERS other documents."""
        docs = pq.read_table(self.path, columns=["doc_id", "text"]).to_pydict()
        by_text = {t: d for d, t in zip(docs["doc_id"], docs["text"])}
        pairs = sorted(
            (by_text[t[: -len(" dup")]], d)
            for d, t in zip(docs["doc_id"], docs["text"])
            if t.endswith(" dup") and t[: -len(" dup")] in by_text
        )
        picked = {d for pair in rng.sample(pairs, min(self.SAMPLE_PAIRS, len(pairs))) for d in pair}
        rest = sorted(set(docs["doc_id"]) - picked)
        return picked | set(rng.sample(rest, min(self.SAMPLE_OTHERS, len(rest))))

    def pass_ops(self, rng: random.Random, seconds: float) -> list[Op]:
        from code_challenge___data_engineer___machinemax_spark import stores

        self.sample = self.draw_sample(rng)
        ids = ", ".join(map(str, sorted(self.sample)))
        self.duck_sample.sql(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{self.path}' WHERE doc_id IN ({ids})"
        )
        # the pass builds its stores in an empty directory
        self.store_dir = os.path.join(self.work, "stores", "pass")
        os.environ["SPARK_GRAFT_STORE_DIR"] = self.store_dir
        ops = []
        for fn in rng.sample(self.BUILDS, len(self.BUILDS)):
            build = getattr(stores, fn)
            ops.append(
                Op(fn, "ingest", lambda b=build: b(self.spark, self.sf_dir), self.ingest_check)
            )
        for group in (self.READS, self.OPERATORS):
            for name in rng.sample(group, len(group)):
                check = self.weights_check if name == "near_dup_sampling_weights_from_store" else (
                    lambda out, n=name: self.oracle_check(n, out)
                )
                ops.append(
                    Op(name, "query", lambda n=name: self.queries[n](self.spark, self.sf_dir), check)
                )
        return ops

    def end_pass(self) -> None:
        shutil.rmtree(self.store_dir, ignore_errors=True)

    def oracle_check(self, name: str, out: tuple) -> str | None:
        """The tests' oracle comparison (tests/oracle_harness.compare) on
        the rows the timed collect returned, inside the sample for the
        SAMPLED queries. Twin queries share one oracle text, so each
        distinct oracle runs once, into a DuckDB table."""
        from tests.oracle_harness import compare

        schema, rows = out
        keys = self.SAMPLED.get(name)
        con = self.duck_sample if keys else self.duck
        if keys:
            rows = [r for r in rows if all(r[k] in self.sample for k in keys)]
        sql = self.oracles[name]
        if (sql, bool(keys)) not in self._oracle_tables:
            table = f"oracle_{len(self._oracle_tables)}"
            con.sql(f"CREATE TABLE {table} AS {sql}")
            self._oracle_tables[sql, bool(keys)] = table
        table = self._oracle_tables[sql, bool(keys)]
        ok, msg = compare(self.spark.createDataFrame(rows, schema), con, f"SELECT * FROM {table}")
        return None if ok else f"{name}: {msg}"

    def weights_check(self, out: tuple) -> str | None:
        """The sampling weights must be the oracle's last step applied to
        the pairs `near_dup_pairs_minhash_from_store` returned in this pass
        (checked against the pairs oracle above): every document gets the
        smallest doc id of its connected component, the component's size,
        and 1000000 // size ppm. The full oracle would recompute the pairs
        on the whole corpus once per step of its recursive query."""
        _, pairs = self.outputs["near_dup_pairs_minhash_from_store"]
        want = weights_from_pairs(self.duck.sql("SELECT doc_id FROM documents").fetchall(), pairs)
        got = sorted(
            (r["doc_id"], r["cluster_id"], r["cluster_size"], r["weight_ppm"]) for r in out[1]
        )
        if got != want:
            diff = sorted(set(got) ^ set(want))[:3]
            return f"near_dup_sampling_weights_from_store: {len(got)} rows, expected {len(want)}; {diff}"
        return None


def weights_from_pairs(doc_ids: list[tuple[int]], pairs: list) -> list[tuple[int, int, int, int]]:
    """(doc_id, cluster_id, cluster_size, weight_ppm) for each document: the
    connected components of ``pairs`` (rows with id_a and id_b), each
    labelled with its smallest doc id; a document in no pair is its own
    cluster of one."""
    parent: dict[int, int] = {}

    def root(d: int) -> int:
        while parent.setdefault(d, d) != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d

    for p in pairs:
        a, b = root(p["id_a"]), root(p["id_b"])
        parent[max(a, b)] = min(a, b)
    sizes: dict[int, int] = {}
    for (d,) in doc_ids:
        sizes[root(d)] = sizes.get(root(d), 0) + 1
    return sorted((d, root(d), sizes[root(d)], 1000000 // sizes[root(d)]) for (d,) in doc_ids)


ENTRIES = ("article_store", "keyword_search", "materialized_index", "bm25_from_index")
MISS_EVERY = 6  # one request in six uses only tokens that match nothing


class SearchServing(Workload):
    """The reference system's search API: one request per call, four
    entry points, served from stores and an article store built at set-up."""

    ingest_at_setup = True
    requests_per_second = 10 / 3  # requests in a pass per second of --seconds: 100 at 30 s

    def __init__(self, spark, sf_dir: str, work: str):
        super().__init__(spark, sf_dir, work)
        docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
        self.doc_tokens = {
            d: _tokens(t or "") for d, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())
        }
        self.vocab = sorted(set().union(*self.doc_tokens.values()))

    def prepare(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from code_challenge___data_engineer___machinemax_spark import stores, tables
        from code_challenge___data_engineer___machinemax_spark.crawl.ingest import ArticleStore

        self.store_dir = os.path.join(self.work, "stores")
        os.environ["SPARK_GRAFT_STORE_DIR"] = self.store_dir
        timings = {}
        t = time.perf_counter()
        self.index_path = stores.ensure_inverted_index_store(self.spark, self.sf_dir)
        timings["ensure_inverted_index_store"] = time.perf_counter() - t
        t = time.perf_counter()
        self.bm25_path = stores.ensure_bm25_index_store(self.spark, self.sf_dir)
        timings["ensure_bm25_index_store"] = time.perf_counter() - t
        t = time.perf_counter()
        # three versions, so latest() has versions to resolve: a stale text
        # for every article, the real text, then a third of the articles
        # again; a read that resolved the wrong version fails the id check
        docs = tables.load_table(self.spark, self.sf_dir, "documents")
        articles = docs.select(
            F.format_string("https://news.example/%d", "doc_id").alias("url"),
            F.concat(F.lit("Doc "), F.col("doc_id").cast("string")).alias("title"),
            F.lit(None).cast("string").alias("description"),
            F.col("source").alias("author"),
            F.col("lang").alias("section"),
            F.lit(None).cast("string").alias("keywords"),
            "text",
        )
        self.articles = ArticleStore(self.spark, os.path.join(self.store_dir, "articles"))
        self.articles.append(articles.withColumn("text", F.lit("stale draft")), version=1)
        self.articles.append(articles, version=2)
        self.articles.append(articles.filter(F.col("doc_id") % 3 == 0), version=3)
        timings["article_store_append"] = time.perf_counter() - t
        for path in (self.index_path, self.bm25_path, self.articles.path):
            reason = self.ingest_check(path)
            if reason:
                raise RuntimeError(reason)
        return timings

    def pass_ops(self, rng: random.Random, seconds: float) -> list[Op]:
        """Requests for one pass, the same number per entry point. Every
        seed gives the same mix of 1-, 2- and 3-token requests and of
        misses; it picks the tokens, which requests miss, and the order."""
        per_entry = max(1, round(seconds * self.requests_per_second / len(ENTRIES)))
        ops = []
        for entry in ENTRIES:
            misses = set(rng.sample(range(per_entry), max(1, per_entry // MISS_EVERY)))
            for i in range(per_entry):
                n = 1 + i % 3
                if i in misses:
                    toks = [f"nohit{rng.randrange(10**6)}" for _ in range(n)]
                else:
                    toks = rng.sample(self.vocab, n)
                ops.append(self._request(entry, " ".join(toks)))
        rng.shuffle(ops)
        self.bm25_keywords = sorted({op.keywords for op in ops if op.entry == "bm25_from_index"})
        self._bm25: dict[str, list] = {}
        return ops

    def _request(self, entry: str, kw: str) -> Op:
        from code_challenge___data_engineer___machinemax_spark import tables
        from code_challenge___data_engineer___machinemax_spark.operators import search

        spark, sf = self.spark, self.sf_dir
        if entry == "article_store":
            build = lambda: self.articles.search(kw)  # noqa: E731
        elif entry == "keyword_search":
            build = lambda: search.keyword_search(tables.load_table(spark, sf, "documents"), kw)  # noqa: E731
        elif entry == "materialized_index":
            build = lambda: search.search_with_materialized_index(  # noqa: E731
                spark, tables.load_table(spark, sf, "documents"), self.index_path, "doc_id", kw
            )
        else:
            build = lambda: search.bm25_rank_from_index(spark, self.bm25_path, kw)  # noqa: E731
        return Op(f"{entry}:{kw}", "request", build, lambda out: self.check(entry, kw, out), entry, kw)

    def expected_ids(self, kw: str) -> list[int]:
        q = _tokens(kw)
        return sorted(d for d, toks in self.doc_tokens.items() if toks & q)

    def check(self, entry: str, kw: str, out: tuple) -> str | None:
        _, rows = out
        if entry == "bm25_from_index":
            got = [(r["doc_id"], r["bm25"]) for r in rows]
            want = self.bm25_expected(kw)
        else:
            if entry == "article_store":
                got = sorted(int(r["url"].rsplit("/", 1)[1]) for r in rows)
            else:
                got = sorted(r["doc_id"] for r in rows)
            want = self.expected_ids(kw)
        if got != want:
            return f"{entry}({kw!r}): {len(got)} results, expected {len(want)}"
        return None

    def bm25_expected(self, kw: str) -> list:
        """Top-k of the self-contained ``bm25_rank`` on the same corpus. The
        first call computes it for every BM25 request of the pass, four
        queries at a time: each is a few small jobs, so one at a time the
        checks took longer than the pass."""
        from code_challenge___data_engineer___machinemax_spark import tables
        from code_challenge___data_engineer___machinemax_spark.operators import search

        docs = tables.load_table(self.spark, self.sf_dir, "documents")

        def rank(q: str) -> list:
            return [(r["doc_id"], r["bm25"]) for r in search.bm25_rank(docs, "doc_id", q).collect()]

        if not self._bm25:
            with ThreadPoolExecutor(4) as pool:
                self._bm25 = dict(zip(self.bm25_keywords, pool.map(rank, self.bm25_keywords)))
        return self._bm25[kw]


WORKLOADS = {"corpus_build": CorpusBuild, "search_serving": SearchServing}
