"""Materialized inverted index: same results as brute force, pruned scan."""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from code_challenge___data_engineer___machinemax_spark.operators.search import (
    keyword_search,
    materialize_bm25_index,
    search_with_materialized_index,
)
from code_challenge___data_engineer___machinemax_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    label_centroids_df,
)
from code_challenge___data_engineer___machinemax_spark.tables import load_table


def _postings_layout(d, path: str) -> str:
    """The L2 layout of ``d`` built at ``path``; returns ``path``, the
    layout the keyword probe and the BM25 rankers read."""
    materialize_bm25_index(d, "doc_id", path)
    return path


def test_materialized_index_matches_bruteforce(spark, sf_dir, tmp_path):
    d = load_table(spark, sf_dir, "documents")
    path = _postings_layout(d, str(tmp_path / "inv_index"))
    for kw in ["spark window", "merge", "zzznotatoken"]:
        brute = {r.doc_id for r in keyword_search(d, kw).collect()}
        indexed = {
            r.doc_id
            for r in search_with_materialized_index(spark, d, path, "doc_id", kw).collect()
        }
        assert brute == indexed, kw


def test_index_probe_prunes_partitions(spark, sf_dir, tmp_path):
    d = load_table(spark, sf_dir, "documents")
    path = _postings_layout(d, str(tmp_path / "inv_index"))
    df = search_with_materialized_index(spark, d, path, "doc_id", "spark")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    # partition filter on bucket + data filter on token both reach the scan
    assert "PartitionFilters" in txt
    assert "bucket" in txt.split("PartitionFilters", 1)[1][:200]


def test_materialized_index_non_ascii_tokens(spark, tmp_path):
    # non-ASCII first chars bucket under '_' on the column side; the
    # driver-side probe-prefix rule must match exactly (a Unicode-aware
    # isalnum() probed bucket 'u-umlaut' and silently returned zero hits)
    rows = [
        (1, "über alles"),
        (2, "日本 tokyo travel"),
        (3, "plain ascii words"),
        (4, "mixed über 日本 doc"),
    ]
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        bm25_batch_rank_from_index,
        bm25_rank_from_index,
    )

    d = spark.createDataFrame(rows, "doc_id long, text string")
    # the keyword probe and the BM25 rankers read one layout
    bm25_path = str(tmp_path / "bm25_index_unicode")
    path = _postings_layout(d, bm25_path)
    cases = [("über", {1, 4}), ("日本", {2, 4}), ("plain", {3})]
    for kw, want in cases:
        brute = {r.doc_id for r in keyword_search(d, kw).collect()}
        indexed = {
            r.doc_id
            for r in search_with_materialized_index(spark, d, path, "doc_id", kw).collect()
        }
        ranked = {r.doc_id for r in bm25_rank_from_index(spark, bm25_path, kw).collect()}
        assert brute == want, kw
        assert indexed == want, kw
        assert ranked == want, kw
    batch = bm25_batch_rank_from_index(spark, bm25_path, [kw for kw, _ in cases]).collect()
    for qid, (kw, want) in enumerate(cases):
        assert {r.doc_id for r in batch if r.qid == qid} == want, kw


def test_query_tokens_underscore_is_separator(spark):
    # data-side tokenize splits on [^\p{L}\p{N}]+ (underscore separates);
    # the query side must do the same or 'foo_bar' never matches anything
    from code_challenge___data_engineer___machinemax_spark.operators.search import query_tokens

    assert query_tokens("foo_bar") == ["foo", "bar"]
    d = spark.createDataFrame([(1, "foo bar baz"), (2, "nothing here")],
                              "doc_id long, text string")
    hits = {r.doc_id for r in keyword_search(d, "foo_bar").collect()}
    assert hits == {1}


def test_incremental_index_append(spark, sf_dir, tmp_path):
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        append_to_inverted_index,
    )

    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") < 250)
    new = d.filter(F.col("doc_id") >= 250)
    path = _postings_layout(old, str(tmp_path / "inv_index"))
    append_to_inverted_index(new, "doc_id", path)
    brute = {r.doc_id for r in keyword_search(d, "spark").collect()}
    indexed = {
        r.doc_id
        for r in search_with_materialized_index(spark, d, path, "doc_id", "spark").collect()
    }
    assert brute == indexed
    assert any(i >= 250 for i in indexed)  # appended docs are searchable


def test_ivf_topk_recall(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") != 0)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("__qvec"))
    centroids = label_centroids_df(e, "embedding", "label")
    exact = {r.vec_id for r in cosine_topk(corpus, q, "vec_id", "embedding", k=10).collect()}
    approx = {
        r.vec_id
        for r in ivf_topk(corpus, q, centroids, "vec_id", "embedding", k=10, nprobe=3).collect()
    }
    assert len(approx) == 10
    assert len(exact & approx) >= 5  # nprobe=3 of 10 lists recovers most


def test_keyword_index_is_the_bm25_layout(spark, sf_dir, tmp_path, monkeypatch):
    """One persisted posting layout per corpus: the keyword probe's store
    is the BM25 store, and no second layout is built."""
    from code_challenge___data_engineer___machinemax_spark import stores

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "stores"))
    keyword = stores.ensure_inverted_index_store(spark, sf_dir)
    bm25 = stores.ensure_bm25_index_store(spark, sf_dir)
    names = os.listdir(os.path.dirname(bm25))
    assert [n for n in names if n.startswith("l2_")] == [os.path.basename(bm25)]
    assert os.path.basename(bm25).startswith("l2_text_")
    assert keyword == bm25


def _oracle_rows(tmp_path, rows, name):
    """The registered oracle ``name`` run in DuckDB over ``rows`` as the
    ``documents`` table."""
    import duckdb
    import pandas as pd

    from code_challenge___data_engineer___machinemax_spark import plans

    path = str(tmp_path / "documents.parquet")
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(path)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    return con.sql(plans.all_oracles()[name]).fetchall()


def test_rankers_skip_tokenless_documents_like_the_oracles(spark, tmp_path):
    """Documents without a token (an empty text, punctuation only, NULL)
    are not in the corpus the oracles count: every ranker, in memory or
    over the layout, scores as the registered oracle does on the same
    rows."""
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        bm25_batch_rank_from_index,
        bm25_rank,
        bm25_rank_from_index,
        tfidf_rank,
    )

    rows = [
        (1, "merge vector merge"),
        (2, "vector hash batch plan"),
        (3, "merge join plan scan hash"),
        (4, "batch window scan"),
        (5, ""),
        (6, "!!! ..."),
        (7, None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    path = _postings_layout(d, str(tmp_path / "bm25"))
    bm25 = _oracle_rows(tmp_path, rows, "bm25_keyword_ranking")
    tfidf = _oracle_rows(tmp_path, rows, "tfidf_keyword_ranking")
    assert [r[0] for r in bm25] == [1, 2, 3] and [r[0] for r in tfidf] == [2, 4, 3]
    got = {
        "bm25": bm25_rank(d, "doc_id", "merge vector").collect(),
        "bm25_from_index": bm25_rank_from_index(spark, path, "merge vector").collect(),
        "bm25_batch": bm25_batch_rank_from_index(spark, path, ["merge vector"]).collect(),
    }
    for name, ranked in got.items():
        assert [(r.doc_id, r.bm25) for r in ranked] == bm25, name
    ranked = tfidf_rank(d, "doc_id", "hash batch").collect()
    assert [(r.doc_id, r.tfidf) for r in ranked] == tfidf


def test_bm25_from_index_ranks_appended_documents(spark, tmp_path):
    """An append to the layout changes the corpus BM25 scores against:
    the scalars are derived from the layout's rows again, so the index
    ranks as the in-memory ranker does over every document."""
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        append_to_inverted_index,
        bm25_rank,
        bm25_rank_from_index,
    )

    schema = "doc_id long, text string"
    old = spark.createDataFrame([(1, "merge vector"), (2, "merge join")], schema)
    new = spark.createDataFrame([(3, "merge plan scan"), (4, "vector window merge")], schema)
    path = _postings_layout(old, str(tmp_path / "bm25"))
    assert bm25_rank_from_index(spark, path, "merge vector").collect()
    append_to_inverted_index(new, "doc_id", path)
    got = [(r.doc_id, r.bm25) for r in bm25_rank_from_index(spark, path, "merge vector").collect()]
    want = [(r.doc_id, r.bm25) for r in bm25_rank(old.union(new), "doc_id", "merge vector").collect()]
    assert len(want) == 4 and got == want


def test_bm25_batch_matches_per_query_probes(spark, sf_dir, tmp_path, monkeypatch):
    """Each qid's batch rows must be bit-identical to a separate
    single-query probe of the same layout — the batch is an
    amortization, never a semantic change."""
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        bm25_batch_rank_from_index,
        bm25_rank_from_index,
    )
    from code_challenge___data_engineer___machinemax_spark.plans.ranking_queries import (
        _BATCH_QUERIES,
    )
    from code_challenge___data_engineer___machinemax_spark.stores import (
        ensure_bm25_index_store,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "stores"))
    path = ensure_bm25_index_store(spark, sf_dir)
    batch = bm25_batch_rank_from_index(spark, path, _BATCH_QUERIES, k=10).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.qid, set()).add((r.doc_id, r.bm25, r.rk))
    assert set(by_q) == set(range(len(_BATCH_QUERIES)))
    for qid, kw in enumerate(_BATCH_QUERIES):
        single = bm25_rank_from_index(spark, path, kw, k=10).collect()
        ranked = {
            (r.doc_id, r.bm25, i + 1)
            for i, r in enumerate(
                sorted(single, key=lambda r: (-r.bm25, r.doc_id))
            )
        }
        assert by_q[qid] == ranked, kw


def test_bm25_batch_dedupes_repeated_query_tokens(spark, sf_dir, tmp_path, monkeypatch):
    """ADVICE r8: a keyword repeating a token ('merge merge') must score
    like the single-query path, which counts each posting row once
    regardless of token multiplicity — undeduplicated (qid, token) rows
    would join the same posting twice and double-count term_score."""
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        bm25_batch_rank_from_index,
        bm25_rank_from_index,
    )
    from code_challenge___data_engineer___machinemax_spark.stores import (
        ensure_bm25_index_store,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "stores"))
    path = ensure_bm25_index_store(spark, sf_dir)
    kw = "merge merge"
    single = {
        (r.doc_id, r.bm25)
        for r in bm25_rank_from_index(spark, path, "merge", k=10).collect()
    }
    batch = bm25_batch_rank_from_index(spark, path, [kw], k=10).collect()
    assert {(r.doc_id, r.bm25) for r in batch} == single


def _request(spark, sf_dir, tmp_path, monkeypatch, entry):
    """The perfbench ``search_serving`` request of ``entry`` over stores
    built in ``tmp_path``: ``keyword -> DataFrame``."""
    from code_challenge___data_engineer___machinemax_spark import stores
    from code_challenge___data_engineer___machinemax_spark.crawl.ingest import ArticleStore
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        bm25_rank_from_index,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "stores"))
    if entry == "article_store":
        docs = load_table(spark, sf_dir, "documents")
        articles = docs.selectExpr(
            "format_string('https://a.test/%d', doc_id) AS url", "'t' AS title",
            "CAST(NULL AS STRING) AS description", "source AS author", "lang AS section",
            "CAST(NULL AS STRING) AS keywords", "text",
        )
        store = ArticleStore(spark, str(tmp_path / "articles"))
        store.append(articles.withColumn("text", F.lit("stale draft")), version=1)
        store.append(articles, version=2)
        return store.search
    if entry == "keyword_search":
        return lambda kw: keyword_search(load_table(spark, sf_dir, "documents"), kw)
    if entry == "materialized_index":
        path = stores.ensure_inverted_index_store(spark, sf_dir)
        return lambda kw: search_with_materialized_index(
            spark, load_table(spark, sf_dir, "documents"), path, "doc_id", kw
        )
    path = stores.ensure_bm25_index_store(spark, sf_dir)
    return lambda kw: bm25_rank_from_index(spark, path, kw)


@pytest.mark.parametrize(
    "entry, max_jobs",
    [("article_store", 1), ("keyword_search", 1), ("materialized_index", 2), ("bm25_from_index", 1)],
)
def test_search_request_job_budget(spark, sf_dir, tmp_path, monkeypatch, entry, max_jobs):
    """Once one request has run (snapshot published, schemas inferred,
    BM25 stats read), a request builds its DataFrame without a Spark job
    and runs in at most ``max_jobs``. BM25 ranks its probed postings in
    one job."""
    from tests.test_stores import _jobs

    request = _request(spark, sf_dir, tmp_path, monkeypatch, entry)
    request("merge vector").collect()
    df, build_jobs = _jobs(spark, f"{tmp_path.name}-build", lambda: request("scan window"))
    rows, exec_jobs = _jobs(spark, f"{tmp_path.name}-exec", df.collect)
    assert rows
    assert build_jobs == 0
    assert 1 <= exec_jobs <= max_jobs


def _bm25_reference(rows, keyword, k1, b):
    """BM25 in plain Python over ``(doc_id, text)`` rows: the top 10 of
    ``(doc_id, score)``, score descending, doc_id ascending."""
    import math

    from code_challenge___data_engineer___machinemax_spark.operators.search import query_tokens

    docs = {doc_id: query_tokens(text) for doc_id, text in rows}
    n_docs, avgdl = len(docs), sum(map(len, docs.values())) / len(docs)
    scores = {}
    for t in set(query_tokens(keyword)):
        df = sum(t in toks for toks in docs.values())
        idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        for doc_id, toks in docs.items():
            tf = toks.count(t)
            if tf:
                norm = tf + k1 * (1 - b + b * len(toks) / avgdl)
                scores[doc_id] = scores.get(doc_id, 0.0) + idf * tf * (k1 + 1) / norm
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]


def test_bm25_scores_are_exact_doubles(spark, tmp_path):
    """Off-default k1/b, a repeated query token and a non-ASCII token: the
    index paths equal the in-memory ranking as exact doubles, all three
    agree with a plain-Python BM25 to the rounding, and no plan does
    DECIMAL arithmetic (a float literal without its ``D`` suffix)."""
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        bm25_batch_rank_from_index,
        bm25_rank,
        bm25_rank_from_index,
        materialize_bm25_index,
    )

    from tests.test_plans import explain_text

    rows = [
        (1, "merge merge vector über"),
        (2, "vector über straße vector"),
        (3, "merge join plan"),
        (4, "über alles merge vector vector vector"),
        (5, "nothing to see"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "bm25")
    materialize_bm25_index(d, "doc_id", path)
    keywords = ["merge merge vector", "über straße"]
    batch = bm25_batch_rank_from_index(spark, path, keywords, k=10, k1=1.5, b=0.3)
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(r.qid, []).append((r.doc_id, r.bm25))
    for qid, kw in enumerate(keywords):
        want_df = bm25_rank(d, "doc_id", kw, k=10, k1=1.5, b=0.3)
        got_df = bm25_rank_from_index(spark, path, kw, k=10, k1=1.5, b=0.3)
        want = [(r.doc_id, r.bm25) for r in want_df.collect()]
        assert want and [(r.doc_id, r.bm25) for r in got_df.collect()] == want, kw
        ref = _bm25_reference(rows, kw, k1=1.5, b=0.3)
        assert [d for d, _ in want] == [d for d, _ in ref], kw
        assert all(abs(s - r) <= 1e-6 for (_, s), (_, r) in zip(want, ref)), kw
        assert sorted(by_q[qid], key=lambda t: (-t[1], t[0])) == want, kw
        for df in (want_df, got_df):
            assert "decimal" not in explain_text(df).lower(), kw
    assert "decimal" not in explain_text(batch).lower()


def test_rankers_run_one_job_without_exchange(spark, tmp_path):
    """Every ranker runs as one Spark job whose executed plan has no
    exchange (shuffle or broadcast) and no join: the posting rows are
    coalesced to one partition, where df is a count over the token and the
    per-key sum, the per-query fan-out and the top-k need no shuffle. The
    posting rows carry their document's length, in memory as in the
    layout, so nothing is joined back."""
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        bm25_batch_rank_from_index,
        bm25_rank,
        bm25_rank_from_index,
        materialize_bm25_index,
        tfidf_rank,
    )

    from tests.test_stores import _jobs

    d = spark.createDataFrame(
        [(1, "merge vector"), (2, "merge join"), (3, "vector plan vector")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bm25")
    materialize_bm25_index(d, "doc_id", path)
    rankers = {
        "bm25_from_index": lambda: bm25_rank_from_index(spark, path, "merge vector"),
        "bm25_batch": lambda: bm25_batch_rank_from_index(spark, path, ["merge vector", "plan"]),
        "bm25": lambda: bm25_rank(d, "doc_id", "merge vector"),
        "tfidf": lambda: tfidf_rank(d, "doc_id", "merge vector"),
    }
    for name, rank in rankers.items():
        df = rank()
        rows, jobs = _jobs(spark, f"{tmp_path.name}-{name}", df.collect)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert rows and jobs == 1, (name, jobs)
        assert "Exchange" not in plan and "Join" not in plan, (name, plan)


def test_one_bm25_formula():
    """The engine spells the BM25 idf (``ln``/``F.log`` over ``n_docs -
    df``) once, in ``operators.search._bm25_term``; the DuckDB oracles,
    which spell their doubles ``::DOUBLE``, are its independent twin."""
    import os
    import re

    from code_challenge___data_engineer___machinemax_spark import operators

    pkg = os.path.dirname(os.path.dirname(operators.__file__))
    pattern = re.compile(r"(\bln\(|F\.log\().*n_docs.*-\s*(F\.col\(\"df\"\)|df\b)")
    found = []
    for root, _, names in os.walk(pkg):
        for name in sorted(n for n in names if n.endswith(".py")):
            path = os.path.join(root, name)
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if pattern.search(line) and "::DOUBLE" not in line:
                        found.append(f"{os.path.relpath(path, pkg)}:{i}")
    assert len(found) == 1 and found[0].startswith(os.path.join("operators", "search.py")), found
