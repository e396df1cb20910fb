"""The persisted L3/L4 layouts wired into query paths (stores.py): the
store-backed queries must return EXACTLY what their self-contained twins
return (the store is a cache of deterministic ingest work, never a
semantic change), the probe plans must carry the pruning evidence, and a
regenerated source table must never serve a stale store."""

from __future__ import annotations

import ast
import os
import re
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from code_challenge___data_engineer___machinemax_spark import plans, stores, tables
from code_challenge___data_engineer___machinemax_spark.crawl.ingest import ArticleStore
from code_challenge___data_engineer___machinemax_spark.schemas import ARTICLE
from code_challenge___data_engineer___machinemax_spark.stores import (
    _source_signature,
    ensure_simhash_store,
    ensure_srp_store,
    srp_query_buckets,
    srp_store_candidates,
)
from code_challenge___data_engineer___machinemax_spark.tables import load_table, read_parquet

from tests.test_plans import explain_text


@pytest.fixture()
def store_env(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "stores"))
    return str(tmp_path / "stores")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_simhash_store_pairs_equal_self_contained(spark, sf_dir, store_env):
    qs = plans.all_queries()
    stored = qs["simhash_near_dup_pairs_from_store"](spark, sf_dir)
    fresh = qs["simhash_near_dup_pairs"](spark, sf_dir)
    assert _rows(stored) == _rows(fresh)


def test_ann_store_topk_equals_self_contained(spark, sf_dir, store_env):
    qs = plans.all_queries()
    stored = qs["ann_topk_lsh_from_store"](spark, sf_dir)
    fresh = qs["ann_topk_lsh"](spark, sf_dir)
    assert _rows(stored) == _rows(fresh)


def test_copurchase_store_item_item_equals_self_contained(spark, sf_dir, store_env):
    qs = plans.all_queries()
    stored = qs["item_item_similarity_from_store"](spark, sf_dir)
    fresh = qs["item_item_similarity"](spark, sf_dir)
    assert _rows(stored) == _rows(fresh)


def test_copurchase_store_hitrate_equals_self_contained(spark, sf_dir, store_env):
    qs = plans.all_queries()
    stored = qs["recsys_hitrate_eval_from_store"](spark, sf_dir)
    fresh = qs["recsys_hitrate_eval"](spark, sf_dir)
    assert _rows(stored) == _rows(fresh)


def test_copurchase_store_graph_twins_equal_self_contained(spark, sf_dir, store_env):
    qs = plans.all_queries()
    for base in (
        "triangle_participation",
        "adamic_adar_links",
        "label_propagation_seeded",
    ):
        assert _rows(qs[f"{base}_from_store"](spark, sf_dir)) == _rows(
            qs[base](spark, sf_dir)
        ), base


def test_signature_tracks_source_files(tmp_path):
    """The store path is keyed by (name, size, mtime) of the source parquet
    — regenerating testdata changes the signature, so a stale layout can
    never be read (a fresh one is written beside it)."""
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1-bytes")
    sig1 = _source_signature(str(tmp_path), "documents")
    os.utime(src, ns=(1, 1))
    sig2 = _source_signature(str(tmp_path), "documents")
    assert sig1 != sig2


def test_srp_probe_plan_prunes_and_has_no_python(spark, sf_dir, store_env):
    """The probe is the production read path: bucket equalities pushed to
    the parquet scan (row-group min/max skip over the sorted bucket
    column), partition filters on the table id, and NO Python evaluation
    anywhere — the corpus-side matmul ran at ingest, the query-side
    bucketing runs on the driver."""
    path = ensure_srp_store(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    qvec = list(e.filter(F.col("vec_id") == 0).head()["embedding"])
    probes = srp_query_buckets(qvec)
    assert len(probes) == 8
    cand = srp_store_candidates(spark, path, probes)
    txt = explain_text(cand)
    assert "PushedFilters" in txt
    assert "EqualTo(bucket" in txt.split("PushedFilters", 1)[1][:400]
    assert "PartitionFilters" in txt
    assert "ArrowEvalPython" not in txt
    assert "BatchEvalPython" not in txt


def test_bm25_indexed_equals_self_contained(spark, sf_dir, store_env):
    qs = plans.all_queries()
    stored = qs["bm25_keyword_indexed"](spark, sf_dir)
    fresh = qs["bm25_keyword_ranking"](spark, sf_dir)
    assert _rows(stored) == _rows(fresh)


def test_bm25_index_probe_prunes(spark, sf_dir, store_env):
    """The BM25 probe is the pruned index scan: bucket partition filter +
    token pushed filter, and the plan never reads the documents table."""
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        bm25_rank_from_index,
    )
    from code_challenge___data_engineer___machinemax_spark.stores import (
        ensure_bm25_index_store,
    )

    path = ensure_bm25_index_store(spark, sf_dir)
    df = bm25_rank_from_index(spark, path, "merge vector")
    txt = explain_text(df)
    assert "PartitionFilters" in txt and "bucket" in txt.split("PartitionFilters", 1)[1][:120]
    assert "In(token, [merge,vector]" in txt
    assert "documents.parquet" not in txt


def test_ivf_store_equals_self_contained_and_prunes(spark, sf_dir, store_env):
    import os as _os

    from code_challenge___data_engineer___machinemax_spark.stores import ensure_ivf_store

    qs = plans.all_queries()
    stored = qs["ivf_topk_from_store"](spark, sf_dir)
    fresh = qs["ivf_topk"](spark, sf_dir)
    assert _rows(stored) == _rows(fresh)
    # the probe scan is partition-pruned on centroid_id
    store = ensure_ivf_store(spark, sf_dir)
    probe = spark.read.parquet(_os.path.join(store, "assigned")).filter(
        F.col("centroid_id").isin([0, 1])
    )
    txt = explain_text(probe.select("vec_id"))
    assert "PartitionFilters" in txt
    assert "centroid_id" in txt.split("PartitionFilters", 1)[1][:200]


def test_stored_keyword_index_equals_in_plan_index(spark, sf_dir, store_env):
    qs = plans.all_queries()
    stored = qs["keyword_search_stored_index"](spark, sf_dir)
    fresh = qs["keyword_search_indexed"](spark, sf_dir)
    assert _rows(stored) == _rows(fresh)


def test_incremental_admission_consistent_with_full_pairs(spark, sf_dir, store_env):
    """A batch doc is refused iff the FULL pair query (self-contained, over
    all documents) contains a pair linking it to a non-batch doc — the
    incremental path must agree with the ground truth exactly."""
    qs = plans.all_queries()
    admitted = {
        r.doc_id: r.admitted for r in qs["simhash_incremental_admission"](spark, sf_dir).collect()
    }
    pairs = qs["simhash_near_dup_pairs"](spark, sf_dir).collect()
    linked = set()
    for p in pairs:
        a_batch, b_batch = p.id_a % 10 == 7, p.id_b % 10 == 7
        if a_batch and not b_batch:
            linked.add(p.id_a)
        if b_batch and not a_batch:
            linked.add(p.id_b)
    for doc_id, ok in admitted.items():
        assert ok == (doc_id not in linked), doc_id


def test_driver_side_buckets_match_udf_buckets(spark, sf_dir, store_env):
    """srp_query_buckets (driver numpy) and the store's _srp_buckets_udf
    (Arrow batch numpy) are the same arithmetic — the probe keys must hit
    the buckets the store was written with, for every vector not just the
    query."""
    path = ensure_srp_store(spark, sf_dir)
    store = spark.read.parquet(path)
    sample = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").limit(5).collect()
    for row in sample:
        expect = sorted(srp_query_buckets(list(row["embedding"])))
        got = sorted(
            (r["t"], r["bucket"])
            for r in store.filter(F.col("vec_id") == row["vec_id"]).collect()
        )
        assert got == expect


def test_pq_store_adc_equals_self_contained_and_scans_codes_only(
    spark, sf_dir, store_env
):
    """The stored-codes ADC top-k must equal the self-contained twin, and
    its plan must read the codes relation (+ tiny codebook), never the
    embeddings vectors."""
    qs = plans.all_queries()
    stored_df = qs["pq_adc_topk_from_store"](spark, sf_dir)
    stored = _rows(stored_df)
    fresh = _rows(qs["pq_adc_topk"](spark, sf_dir))
    assert stored == fresh

    txt = explain_text(stored_df)
    # the only embeddings access is the single query row (vec_id = 0);
    # the corpus side comes from the parquet codes store
    assert "l3_pq" in txt
    assert txt.count("embeddings.parquet") <= 1


def test_semantic_kmeans_store_pairs_equal_self_contained(spark, sf_dir, store_env):
    qs = plans.all_queries()
    stored = qs["semantic_dedup_pairs_from_store"](spark, sf_dir)
    fresh = qs["semantic_dedup_pairs"](spark, sf_dir)
    assert _rows(stored) == _rows(fresh)


def test_semantic_kmeans_store_reads_assignment_not_vectors(spark, sf_dir, store_env):
    """The stored-assignment pairing plan must read the L10 relation, never
    re-scan the embeddings vectors (the k-means rounds ran at ingest)."""
    qs = plans.all_queries()
    df = qs["semantic_dedup_pairs_from_store"](spark, sf_dir)
    txt = explain_text(df)
    assert "l10_semantic_kmeans" in txt
    assert "embeddings.parquet" not in txt


def test_pq_residual_store_topk_equals_self_contained_and_prunes(
    spark, sf_dir, store_env
):
    """The L7 residual-layout probe must equal the self-contained residual
    IVF-PQ twin, read only the probed lists' partitions of the stored
    codes (PartitionFilters on list_id), and touch embeddings only for
    the single query row."""
    qs = plans.all_queries()
    stored_df = qs["ivf_pq_residual_topk_from_store"](spark, sf_dir)
    stored = _rows(stored_df)
    fresh = _rows(qs["ivf_pq_residual_topk"](spark, sf_dir))
    assert stored == fresh

    txt = explain_text(stored_df)
    assert "l7_pq_residual" in txt
    # the full-corpus component explode / coarse assign / residual encode
    # ran at ingest — the probe's only embeddings access is the query row
    assert txt.count("embeddings.parquet") <= 1
    assert "list_id IN" in txt or "list_id#" in txt  # partition-pruned scan


def test_hybrid_rrf_store_equals_self_contained(spark, sf_dir, store_env):
    """The L2-backed hybrid fusion must return EXACTLY the self-contained
    result (bit-identical BM25 scores off the layout), and its sparse arm
    must probe the posting layout instead of re-tokenizing documents."""
    qs = plans.all_queries()
    stored_df = qs["hybrid_search_rrf_from_store"](spark, sf_dir)
    stored = _rows(stored_df)
    fresh = _rows(qs["hybrid_search_rrf"](spark, sf_dir))
    assert stored == fresh

    txt = explain_text(stored_df)
    assert "l2_text" in txt
    assert "documents.parquet" not in txt  # sparse arm never scans the corpus


def test_minhash_band_store_pairs_equal_self_contained_and_prune(
    spark, sf_dir, store_env
):
    """The L4-band-backed pair query must equal the self-contained twin,
    and its plan must do NO signature work — no shingle/md5-min stage,
    documents touched only for the candidate-pruned verify tokenize."""
    qs = plans.all_queries()
    stored_df = qs["near_dup_pairs_minhash_from_store"](spark, sf_dir)
    stored = _rows(stored_df)
    fresh = _rows(qs["near_dup_pairs_minhash"](spark, sf_dir))
    assert stored == fresh

    txt = explain_text(stored_df)
    # the candidate build (the store scan) sits before a localCheckpoint
    # pin, so the linted tail shows only the verify: documents appears at
    # most once per candidate-pruned tokenize arm, and — the actual claim
    # of the layout — NO md5 signature/banding work runs in-plan
    assert txt.count("documents.parquet") <= 2
    assert "md5" not in txt.lower()


def test_winnowing_store_overlap_equals_self_contained(spark, sf_dir, store_env):
    """The L4-winnowing-backed overlap query must equal the self-contained
    twin, and its plan must do NO fingerprint selection — documents is
    absent entirely (parquet is the pin)."""
    qs = plans.all_queries()
    stored_df = qs["doc_overlap_winnowing_from_store"](spark, sf_dir)
    stored = _rows(stored_df)
    fresh = _rows(qs["doc_overlap_winnowing"](spark, sf_dir))
    assert stored == fresh

    txt = explain_text(stored_df)
    assert "l4_winnow" in txt
    assert "documents.parquet" not in txt


def test_neardup_cluster_store_weights_equal_self_contained(spark, sf_dir, store_env):
    """The L4-cluster-backed SoftDeDup weights must equal the
    self-contained twin, and the plan must contain NO signature work —
    no shingle/md5 banding, no closure joins; documents appears once
    (the corpus doc_id spine of the left join)."""
    qs = plans.all_queries()
    stored_df = qs["near_dup_sampling_weights_from_store"](spark, sf_dir)
    stored = _rows(stored_df)
    fresh = _rows(qs["near_dup_sampling_weights"](spark, sf_dir))
    assert stored == fresh

    txt = explain_text(stored_df)
    assert "l4_ndclusters" in txt
    assert txt.count("documents.parquet") <= 1
    assert "md5" not in txt.lower()


def test_neardup_cluster_store_split_equals_self_contained(spark, sf_dir, store_env):
    """The L4-cluster-backed split must equal the self-contained twin.
    The ONLY md5 in its plan is the per-document split-bucket hash —
    exactly one md5 call site, never the 8-hash signature family."""
    qs = plans.all_queries()
    stored_df = qs["cluster_aware_split_from_store"](spark, sf_dir)
    stored = _rows(stored_df)
    fresh = _rows(qs["cluster_aware_split"](spark, sf_dir))
    assert stored == fresh

    txt = explain_text(stored_df)
    assert "l4_ndclusters" in txt
    import re

    # one distinct md5 expression (the split bucket), not the signature family
    assert len(set(re.findall(r"md5\(cast\([a-z_]+", txt.lower()))) <= 1


def test_containment_postings_store_pairs_equal_self_contained(spark, sf_dir, store_env):
    """The L4-postings-backed containment pairs must equal the
    self-contained twin (the pruning is lossless and the layout caches
    deterministic stages), and the read plan must do NO corpus
    preparation: no tokenizer regex, no token-df window — documents is
    never scanned; only the three layout relations are."""
    qs = plans.all_queries()
    stored_df = qs["doc_containment_pairs_from_store"](spark, sf_dir)
    stored = _rows(stored_df)
    fresh = _rows(qs["doc_containment_pairs"](spark, sf_dir))
    assert stored == fresh and len(stored) > 0

    txt = explain_text(stored_df)
    assert "l4_containment" in txt
    assert "documents.parquet" not in txt
    low = txt.lower()
    assert "regexp" not in low and "split(" not in low  # no re-tokenize
    assert "row_number" not in low  # the prefix window ran at ingest


def test_binary_sig_store_scan_reads_signatures_not_vectors(spark, sf_dir, store_env):
    """The from_store Hamming pass must scan the persisted signature
    relation — the embeddings table appears ONLY for the 50-row rerank
    join and the two 1-row query-row broadcasts, never for corpus-wide
    packing (that scan is the l3_binsig store): exactly one embeddings
    scan fewer than the self-contained twin, whose extra scan IS the
    inline packing pass."""
    from code_challenge___data_engineer___machinemax_spark.stores import (
        ensure_binary_sig_store,
    )

    ensure_binary_sig_store(spark, sf_dir)
    qs = plans.all_queries()
    txt = explain_text(qs["binary_quant_hamming_topk_from_store"](spark, sf_dir))
    assert "l3_binsig" in txt
    n_store = txt.count("embeddings.parquet")
    self_txt = explain_text(qs["binary_quant_hamming_topk"](spark, sf_dir))
    n_self = self_txt.count("embeddings.parquet")
    assert n_store == n_self - 1, (
        f"from_store must drop exactly the corpus packing scan "
        f"(store plan: {n_store}, self-contained: {n_self})"
    )


def test_compacted_ivf_store_probe_equals_tombstone_serving(spark, sf_dir, store_env):
    """The compaction contract: a plain probe of the REWRITTEN store (no
    per-query anti-join) must return exactly what the tombstone-serving
    anti-join plan returns over the old version — deletes retired into
    the layout, results unchanged. Also pins physical absence: no
    tombstoned id survives in the compacted assigned/ relation, and the
    report's n_after sums to the compacted row count."""
    import os as _os

    from pyspark.sql import functions as F

    from code_challenge___data_engineer___machinemax_spark.operators.similarity import (
        cosine,
    )
    from code_challenge___data_engineer___machinemax_spark.plans.similarity_queries import (
        _query_df,
        ivf_topk_serving_with_tombstones,
    )
    from code_challenge___data_engineer___machinemax_spark.stores import (
        ensure_compacted_ivf_store,
    )

    e = load_table(spark, sf_dir, "embeddings")
    tombstones = e.select("vec_id").filter(F.col("vec_id") % 7 == 0)
    served = ivf_topk_serving_with_tombstones(spark, sf_dir, tombstones).collect()

    compacted = ensure_compacted_ivf_store(spark, sf_dir, modulus=7)
    assigned = spark.read.parquet(_os.path.join(compacted, "assigned"))
    assert assigned.filter(F.col("vec_id") % 7 == 0).count() == 0

    centroids = spark.read.parquet(_os.path.join(compacted, "centroids"))
    q = _query_df(spark, sf_dir)
    probes = [
        r.centroid_id
        for r in q.crossJoin(F.broadcast(centroids))
        .withColumn("__d", cosine(F.col("__qvec"), F.col("cvec")))
        .orderBy(F.desc("__d"), F.asc("centroid_id"))
        .limit(3)
        .select("centroid_id")
        .collect()
    ]
    plain_probe = (
        assigned.filter(F.col("centroid_id").isin(probes))
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("cosine", F.round(cosine(F.col("embedding"), F.col("__qvec")), 6))
        .select("vec_id", "cosine")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
        .collect()
    )
    assert [tuple(r) for r in plain_probe] == [tuple(r) for r in served]

    report = plans.all_queries()["ivf_tombstone_compaction_report"](spark, sf_dir)
    total_after = report.agg(F.sum("n_after")).collect()[0][0]
    assert total_after == assigned.count()


def test_prune_stale_stores_removes_only_orphans(spark, tmp_path, monkeypatch):
    """Regenerating a source table orphans its old signature-keyed layout;
    the GC pass removes exactly the orphans — the live layout, and any
    directory whose name carries no signature suffix, survive."""
    from code_challenge___data_engineer___machinemax_spark.stores import (
        ensure_simhash_store,
        prune_stale_stores,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "stores"))
    sf = tmp_path / "sf"
    sf.mkdir()
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", "en", "s", 16)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(str(sf / "documents.parquet"))
    old = ensure_simhash_store(spark, str(sf))
    # regenerate the source -> new signature -> new layout beside the old
    docs.write.mode("overwrite").parquet(str(sf / "documents.parquet"))
    new = ensure_simhash_store(spark, str(sf))
    assert old != new and os.path.isdir(old) and os.path.isdir(new)
    keep = os.path.join(os.path.dirname(new), "not-a-layout")
    os.makedirs(keep)

    listed = prune_stale_stores(str(sf), dry_run=True)
    assert listed == [old] and os.path.isdir(old)
    pruned = prune_stale_stores(str(sf))
    assert pruned == [old]
    assert not os.path.exists(old)
    assert os.path.isdir(new) and os.path.isdir(keep)


# -- tables.read_parquet: the one parquet read ------------------------------


def _jobs(spark, group: str, build):
    """``build()``'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_parquet_repeat_read_starts_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    first, n_first = _jobs(spark, f"{tmp_path.name}-first", lambda: read_parquet(spark, path))
    again, n_again = _jobs(spark, f"{tmp_path.name}-again", lambda: read_parquet(spark, path))
    assert n_first >= 1  # the inferring read: the counter does see jobs
    assert n_again == 0
    assert again.schema == first.schema
    assert _rows(again) == _rows(first) == [(i,) for i in range(5)]


def test_read_parquet_overwrite_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s").write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert _rows(df) == [(0, "0"), (1, "1"), (2, "2")]


def test_article_store_append_is_seen_by_next_search(spark, tmp_path):
    store = ArticleStore(spark, str(tmp_path / "articles"))

    def article(text):
        return spark.createDataFrame([("https://a.test/1", "t", None, None, None, None, text)], ARTICLE)

    for version, text in enumerate(["alpha", "beta", "gamma"], 1):
        store.append(article(text), version=version)
    assert [r.text for r in store.search("gamma").collect()] == ["gamma"]
    store.append(article("delta"), version=4)
    assert store.search("gamma").collect() == []
    assert [r.text for r in store.search("delta").collect()] == ["delta"]


def _article(spark, url, text, section=None):
    return spark.createDataFrame([(url, "t", None, None, section, None, text)], ARTICLE)


def _snapshots(store):
    return sorted(os.listdir(os.path.join(store.path, "_latest")))


def test_article_store_snapshot_follows_append_and_update(spark, tmp_path):
    """search() reads latest() from a snapshot of the log state: an append
    or an update is seen by the next search, and time travel still reads
    the log as it stood."""
    store = ArticleStore(spark, str(tmp_path / "articles"))
    store.append(_article(spark, "https://a.test/1", "alpha"), version=1)
    store.append(_article(spark, "https://a.test/2", "beta"), version=2)
    assert [r.url for r in store.search("alpha").collect()] == ["https://a.test/1"]
    store.append(_article(spark, "https://a.test/1", "gamma"), version=3)
    assert store.search("alpha").collect() == []
    assert [r.text for r in store.search("gamma").collect()] == ["gamma"]
    store.update("https://a.test/2", text="delta")
    assert store.search("beta").collect() == []
    assert [r.url for r in store.search("delta").collect()] == ["https://a.test/2"]
    assert sorted((r.url, r.text) for r in store.latest(as_of_version=1).collect()) == [
        ("https://a.test/1", "alpha")
    ]
    assert sorted((r.url, r.text) for r in store.latest(as_of_version=2).collect()) == [
        ("https://a.test/1", "alpha"), ("https://a.test/2", "beta")
    ]
    assert store.versions()[:3] == [1, 2, 3] and len(store.versions()) == 4


def test_article_store_snapshot_prunes_on_partition(spark, tmp_path):
    store = ArticleStore(spark, str(tmp_path / "articles"), partition_by="section")
    for i, section in enumerate(["news", "sport", None], 1):
        store.append(_article(spark, f"https://a.test/{i}", "alpha", section), version=i)
    q = store.latest().filter(F.col("section") == "news")
    txt = explain_text(q)
    assert "_latest" in txt
    assert "section" in txt.split("PartitionFilters", 1)[1][:200]
    assert [r.url for r in q.collect()] == ["https://a.test/1"]
    assert {r.section for r in store.search("alpha").collect()} == {"news", "sport", None}


def test_article_store_snapshot_read_infers_no_schema(spark, tmp_path):
    """The first search of a new log state resolves the log and writes its
    snapshot, then reads it with the declared ``ARTICLE`` schema: three
    jobs while the DataFrame is built (an inferring read of the snapshot
    made it four), one to collect it."""
    store = ArticleStore(spark, str(tmp_path / "articles"))
    store.append(_article(spark, "https://a.test/1", "alpha"), version=1)
    store.search("alpha").collect()
    store.append(_article(spark, "https://a.test/2", "alpha beta"), version=2)
    df, build_jobs = _jobs(spark, f"{tmp_path.name}-build", lambda: store.search("alpha"))
    rows, exec_jobs = _jobs(spark, f"{tmp_path.name}-exec", df.collect)
    assert len(_snapshots(store)) == 2
    assert build_jobs <= 3 and exec_jobs == 1
    assert sorted(r.url for r in rows) == ["https://a.test/1", "https://a.test/2"]


def test_article_store_partition_column_reads_as_string(spark, tmp_path):
    """Section values that look like integers still read back as strings
    from a partitioned snapshot, and a section filter still prunes."""
    store = ArticleStore(spark, str(tmp_path / "articles"), partition_by="section")
    for i, section in enumerate(["1", "2", None], 1):
        store.append(_article(spark, f"https://a.test/{i}", "alpha", section), version=i)
    latest = store.latest()
    assert latest.schema["section"].dataType == T.StringType()
    q = latest.filter(F.col("section") == "1")
    assert "section" in explain_text(q).split("PartitionFilters", 1)[1][:200]
    assert [(r.url, r.section) for r in q.collect()] == [("https://a.test/1", "1")]
    hits = store.search("alpha")
    assert hits.schema["section"].dataType == T.StringType()
    assert {r.section for r in hits.collect()} == {"1", "2", None}


def test_article_store_snapshot_is_invisible_to_log_readers(spark, tmp_path):
    """The snapshot lives under ``_latest/``, which the file signature,
    Spark's file index and the streaming file source all skip."""
    from code_challenge___data_engineer___machinemax_spark.streaming.replay import run_to_memory
    from code_challenge___data_engineer___machinemax_spark.streaming.search import (
        stream_article_matches,
    )

    store = ArticleStore(spark, str(tmp_path / "articles"))
    store.append(_article(spark, "https://a.test/1", "alpha"), version=1)
    store.append(_article(spark, "https://a.test/1", "alpha again"), version=2)
    before = tables.file_signature(store.path)
    assert len(store.search("alpha").collect()) == 1
    assert len(_snapshots(store)) == 1
    assert tables.file_signature(store.path) == before
    assert store._raw().count() == 2
    streamed = run_to_memory(stream_article_matches(spark, store.path, "alpha"), "snap_hits", "append")
    assert sorted(r.text for r in streamed.collect()) == ["alpha", "alpha again"]


def test_article_store_snapshots_keep_the_previous_log_state(spark, tmp_path):
    """A new log state's first read publishes its snapshot beside the
    previous state's and removes the older ones; a reader that listed an
    older state removes no newer snapshot."""
    from code_challenge___data_engineer___machinemax_spark.crawl.ingest import _prune_snapshots

    store = ArticleStore(spark, str(tmp_path / "articles"))
    store.append(_article(spark, "https://a.test/1", "alpha"), version=1)
    store.search("alpha").collect()
    first = _snapshots(store)
    store.append(_article(spark, "https://a.test/2", "beta"), version=2)
    assert _snapshots(store) == first  # append builds nothing
    store.search("beta").collect()
    second = _snapshots(store)
    assert len(first) == 1 and len(second) == 2 and first[0] == second[0]
    store.append(_article(spark, "https://a.test/3", "gamma"), version=3)
    store.search("gamma").collect()
    third = _snapshots(store)
    assert len(third) == 2 and third[0] == second[1] and first[0] not in third
    _prune_snapshots(os.path.join(store.path, "_latest"), third[0])
    assert _snapshots(store) == third


def test_article_store_held_search_survives_next_log_state(spark, tmp_path):
    """A search DataFrame built before an append still runs after the next
    log state's first read has published a new snapshot."""
    store = ArticleStore(spark, str(tmp_path / "articles"))
    store.append(_article(spark, "https://a.test/1", "alpha"), version=1)
    held = store.search("alpha")
    store.append(_article(spark, "https://a.test/2", "alpha beta"), version=2)
    assert sorted(r.url for r in store.search("alpha").collect()) == [
        "https://a.test/1", "https://a.test/2"
    ]
    assert [r.url for r in held.collect()] == ["https://a.test/1"]


def test_article_store_concurrent_first_reads_publish_one_snapshot(spark, tmp_path):
    store = ArticleStore(spark, str(tmp_path / "articles"))
    store.append(_article(spark, "https://a.test/1", "alpha"), version=1)
    with ThreadPoolExecutor(2) as pool:
        hits = list(pool.map(lambda _: store.search("alpha").collect(), range(2)))
    assert [len(h) for h in hits] == [1, 1]
    assert len(_snapshots(store)) == 1  # no second copy, no temp sibling


@pytest.mark.parametrize(
    "name", ["keyword_search_stored_index", "bm25_keyword_indexed", "bm25_batch_search_from_store"]
)
def test_search_stores_built_from_no_documents(spark, sf_dir, tmp_path, store_env, name):
    """A store built from a 0-row source holds no data files; its search
    returns the oracle's answer, no rows, under a non-empty store's types."""
    from tests.oracle_harness import compare, duck_connection
    from tests.test_replay import _empty_tables

    empty = _empty_tables(sf_dir, tmp_path / "empty")
    query = plans.all_queries()[name]
    df = query(spark, empty)
    assert df.collect() == []
    assert [f.dataType for f in df.schema] == [f.dataType for f in query(spark, sf_dir).schema]
    con = duck_connection(empty)
    try:
        ok, msg = compare(df, con, plans.all_oracles()[name])
    finally:
        con.close()
    assert ok, f"{name}: {msg}"


def _schema_or_condition(read):
    try:
        return read().schema
    except AnalysisException as e:
        return e.getCondition()


def test_read_parquet_reinfers_when_nanos_as_long_flips(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_000_000_001], pa.timestamp("ns"))}), path)
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        spark.conf.set(conf, "true")
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, T.LongType)
        spark.conf.set(conf, "false")
        plain = _schema_or_condition(lambda: spark.read.parquet(path))
        assert plain == "PARQUET_TYPE_ILLEGAL"  # TIMESTAMP(NANOS) without the conf
        assert _schema_or_condition(lambda: read_parquet(spark, path)) == plain
        spark.conf.set(conf, "true")
        assert read_parquet(spark, path).collect()[0].ts == 1_000_000_001
    finally:
        spark.conf.set(conf, "true")


def test_read_parquet_missing_path_raises_spark_error(spark, tmp_path):
    path = str(tmp_path / "missing")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as ours:
        read_parquet(spark, path)
    assert ours.value.getCondition() == plain.value.getCondition() == "PATH_NOT_FOUND"
    assert ours.value.getMessageParameters() == plain.value.getMessageParameters()


def test_one_parquet_read_primitive():
    """Every parquet read in the package goes through tables.read_parquet,
    so none pays a schema-inference job per call. The one exception is the
    multi-directory snapshot read in txn.py; the mergeSchema read in
    plans/layout_queries.py is ``.read.option(...)`` and the declared-schema
    article snapshot read in crawl/ingest.py is ``.read.schema(...)``, which
    infers nothing; neither is matched."""
    pkg = os.path.dirname(tables.__file__)
    allowed = {("txn.py", "return spark.read.parquet(*dirs)")}
    found = []
    for root, _, names in os.walk(pkg):
        for name in sorted(n for n in names if n.endswith(".py")):
            rel = os.path.relpath(os.path.join(root, name), pkg)
            if rel == "tables.py":
                continue
            with open(os.path.join(root, name)) as f:
                src = f.read()
            lines = src.splitlines()
            for m in re.finditer(r"\.read\s*\.\s*parquet\(", src):
                line = src.count("\n", 0, m.start()) + 1
                if (rel, lines[line - 1].strip()) not in allowed:
                    found.append(f"{rel}:{line}: {lines[line - 1].strip()}")
    assert not found, "use tables.read_parquet:\n" + "\n".join(found)


@pytest.mark.parametrize("name", sorted(n for n in vars(stores) if n.startswith("ensure_")))
def test_ensure_is_idempotent(spark, sf_dir, store_env, name):
    """Every store publishes once: the second call returns the same path
    without rebuilding (the root marker keeps its mtime), and no temp
    sibling is left beside it."""
    ensure = getattr(stores, name)
    p1 = ensure(spark, sf_dir)
    assert stores._ready(p1)
    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    p2 = ensure(spark, sf_dir)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_SUCCESS")) == mtime
    assert not [n for n in os.listdir(os.path.dirname(p1)) if ".tmp-" in n]


def test_failed_build_leaves_nothing_and_next_call_builds(spark, tmp_path):
    root = tmp_path / "stores"
    path = str(root / "l0_probe_000000000000")

    def failing(out):
        spark.range(3).write.parquet(os.path.join(out, "a"))
        raise RuntimeError("build failed after one relation")

    with pytest.raises(RuntimeError):
        stores._publish(path, failing)
    assert os.listdir(root) == []

    built = stores._publish(path, lambda out: spark.range(3).write.parquet(os.path.join(out, "a")))
    assert built == path and stores._ready(path)
    assert read_parquet(spark, os.path.join(path, "a")).count() == 3
    assert os.listdir(root) == [os.path.basename(path)]


def test_concurrent_builds_publish_one_store(spark, sf_dir, store_env):
    with ThreadPoolExecutor(2) as pool:
        paths = list(pool.map(lambda _: ensure_simhash_store(spark, sf_dir), range(2)))
    assert paths[0] == paths[1] and stores._ready(paths[0])
    assert os.listdir(os.path.dirname(paths[0])) == [os.path.basename(paths[0])]
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert read_parquet(spark, paths[0]).count() == n_docs


def test_one_publish_rule():
    """Store readiness is decided in one place: the success marker and
    ``_ready(`` appear in the package only inside ``stores._publish`` and
    ``stores._ready`` (the Python data-source writer in sources/pyds.py
    commits its own output and is exempt). The SRP plane set is built in
    one place too."""
    pkg = os.path.dirname(tables.__file__)
    with open(stores.__file__) as f:
        tree = ast.parse(f.read())
    owners = [
        (n.lineno, n.end_lineno)
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name in ("_publish", "_ready")
    ]
    assert len(owners) == 2
    found, planes = [], 0
    for root, _, names in os.walk(pkg):
        for name in sorted(n for n in names if n.endswith(".py")):
            rel = os.path.relpath(os.path.join(root, name), pkg)
            with open(os.path.join(root, name)) as f:
                src = f.read()
            planes += src.count("hyperplane(t * 1009")
            if rel == os.path.join("sources", "pyds.py"):
                continue
            for i, line in enumerate(src.splitlines(), 1):
                if "_SUCCESS" not in line and "_ready(" not in line:
                    continue
                if rel == "stores.py" and any(a <= i <= b for a, b in owners):
                    continue
                found.append(f"{rel}:{i}: {line.strip()}")
    assert not found, "decide readiness through stores._publish:\n" + "\n".join(found)
    assert planes == 1


def test_store_twins_share_their_base_oracle():
    """A ``X_from_store`` twin reads a cache of ``X``'s deterministic work,
    so its oracle is ``X``'s, byte for byte."""
    queries, oracles = plans.all_queries(), plans.all_oracles()
    twins = [n for n in queries if n.endswith("_from_store") and n[: -len("_from_store")] in queries]
    assert twins
    for name in twins:
        assert oracles.get(name) == oracles.get(name[: -len("_from_store")]), name
