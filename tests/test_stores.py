"""The persisted L3/L4 layouts wired into query paths (stores.py): the
store-backed queries must return EXACTLY what their self-contained twins
return (the store is a cache of deterministic ingest work, never a
semantic change), the probe plans must carry the pruning evidence, and a
regenerated source table must never serve a stale store."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from code_challenge___data_engineer___machinemax_spark import plans, tables
from code_challenge___data_engineer___machinemax_spark.crawl.ingest import ArticleStore
from code_challenge___data_engineer___machinemax_spark.schemas import ARTICLE
from code_challenge___data_engineer___machinemax_spark.stores import (
    _source_signature,
    ensure_copurchase_store,
    ensure_semantic_kmeans_store,
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


def test_copurchase_ensure_is_idempotent(spark, sf_dir, store_env):
    p1 = ensure_copurchase_store(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    p2 = ensure_copurchase_store(spark, sf_dir)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_SUCCESS")) == mtime


def test_ensure_is_idempotent(spark, sf_dir, store_env):
    p1 = ensure_simhash_store(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    p2 = ensure_simhash_store(spark, sf_dir)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_SUCCESS")) == mtime


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


def test_semantic_kmeans_ensure_is_idempotent(spark, sf_dir, store_env):
    p1 = ensure_semantic_kmeans_store(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    p2 = ensure_semantic_kmeans_store(spark, sf_dir)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_SUCCESS")) == mtime


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


def test_pq_residual_ensure_is_idempotent(spark, sf_dir, store_env):
    from code_challenge___data_engineer___machinemax_spark.stores import (
        ensure_pq_residual_store,
    )

    p1 = ensure_pq_residual_store(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    p2 = ensure_pq_residual_store(spark, sf_dir)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_SUCCESS")) == mtime


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
    assert "l2_bm25" in txt
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


def test_minhash_band_ensure_is_idempotent(spark, sf_dir, store_env):
    from code_challenge___data_engineer___machinemax_spark.stores import (
        ensure_minhash_band_store,
    )

    p1 = ensure_minhash_band_store(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    p2 = ensure_minhash_band_store(spark, sf_dir)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_SUCCESS")) == mtime


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


def test_winnowing_ensure_is_idempotent(spark, sf_dir, store_env):
    from code_challenge___data_engineer___machinemax_spark.stores import (
        ensure_winnowing_store,
    )

    p1 = ensure_winnowing_store(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    p2 = ensure_winnowing_store(spark, sf_dir)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_SUCCESS")) == mtime


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


def test_neardup_cluster_ensure_is_idempotent(spark, sf_dir, store_env):
    from code_challenge___data_engineer___machinemax_spark.stores import (
        ensure_neardup_cluster_store,
    )

    p1 = ensure_neardup_cluster_store(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    p2 = ensure_neardup_cluster_store(spark, sf_dir)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_SUCCESS")) == mtime


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


def test_containment_postings_ensure_is_idempotent(spark, sf_dir, store_env):
    from code_challenge___data_engineer___machinemax_spark.stores import (
        ensure_containment_postings_store,
    )

    p1 = ensure_containment_postings_store(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    p2 = ensure_containment_postings_store(spark, sf_dir)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_SUCCESS")) == mtime


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
    plans/layout_queries.py is ``.read.option(...)`` and not matched."""
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
