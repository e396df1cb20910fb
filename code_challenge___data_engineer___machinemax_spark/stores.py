"""Persisted-layout materialization (DEPLOY.md L2-L10) wired into queries.

A production deployment computes at ingest what the self-contained
queries recompute per call (shingle banding, SimHash votes, SRP buckets,
IVF/PQ encodes, cluster closures, the co-purchase graph) and then serves
reads from the result. Each ``ensure_*`` function here is one such layout:
its signed path plus the build that fills it. The build itself is the
same function the self-contained twin query calls, so a store can never
drift from the query it replaces.

Paths. Stores live under ``$SPARK_GRAFT_STORE_DIR`` (default
``<repo>/spark-warehouse/stores``), one directory per layout, named by
the source table's file signature (names, sizes and mtimes of its parquet
files). A regenerated testdata directory therefore gets a fresh layout
beside the stale one, never a stale read; :func:`prune_stale_stores`
reclaims the orphans.

Readiness. One rule, owned by :func:`_publish` and :func:`_ready`: a
store exists iff its directory holds a root success marker. The build
runs into a fresh temp sibling, the marker is written last, and one
``os.replace`` makes the finished directory visible at its path. So a
build that raises or is killed leaves no directory a reader would
accept, two concurrent builds of one store publish one complete copy
(the later one discards its own), and ``ensure_*`` is idempotent: once
published, a call returns the path without starting a Spark job. That is how bench and perfbench prime
the layouts once and then time only the read path.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import file_signature, load_table, read_parquet

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _source_signature(sf_dir: str, table: str) -> str:
    """Short content signature of a source table: its data files' names,
    sizes and mtimes (:func:`tables.file_signature`). Cheap (os.stat only)
    and changes whenever the driver regenerates testdata, invalidating any
    store built from the old data."""
    files = file_signature(os.path.join(sf_dir, f"{table}.parquet"))
    return hashlib.sha256(repr(files).encode()).hexdigest()[:12]


def store_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_STORE_DIR", os.path.join(_REPO_ROOT, "spark-warehouse", "stores")
    )


def _store_path(sf_dir: str, table: str, layout: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(
        store_root(), tag, f"{layout}_{_source_signature(sf_dir, table)}"
    )


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _publish(path: str, build: Callable[[str], None]) -> str:
    """Return ``path`` once it holds a complete store: unless it is already
    published, run ``build(tmp)`` into a fresh temp sibling, write the root
    marker and move the directory into place with one ``os.replace``. A
    leftover unready directory at ``path`` (a build from before this rule)
    is removed first; if another build published while this one ran, its
    copy wins and this one is discarded. The temp sibling is removed on
    every exit, so a build that raises leaves nothing behind."""
    if _ready(path):
        return path
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        build(tmp)
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass
        if os.path.isdir(path) and not _ready(path):
            shutil.rmtree(path, ignore_errors=True)
        try:
            os.replace(tmp, path)
        except OSError:
            if not _ready(path):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def prune_stale_stores(sf_dir: str, dry_run: bool = False) -> list[str]:
    """Garbage-collect persisted layouts whose SOURCE SIGNATURE no longer
    matches any current source table — the cleanup pass that pairs with
    the signature-keyed naming scheme: regenerated testdata gets fresh
    layouts written BESIDE the stale ones (a stale layout is never read),
    and this pass reclaims the orphans. A layout is stale iff the 12-hex
    signature suffix of its directory name matches no current table's
    signature for this sf_dir. Returns the pruned (or, with ``dry_run``,
    prunable) paths; unparseable directory names are left alone."""
    import re

    from .tables import TABLES

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(store_root(), tag)
    if not os.path.isdir(root):
        return []
    live = set()
    for t in TABLES:
        try:
            live.add(_source_signature(sf_dir, t))
        except OSError:
            continue
    pruned: list[str] = []
    for name in sorted(os.listdir(root)):
        m = re.fullmatch(r".+_([0-9a-f]{12})", name)
        if not m or m.group(1) in live:
            continue
        path = os.path.join(root, name)
        pruned.append(path)
        if not dry_run:
            shutil.rmtree(path, ignore_errors=True)
    return pruned


def ensure_simhash_store(spark: SparkSession, sf_dir: str, bits: int = 60) -> str:
    """The L4 SimHash fingerprint table ``(doc_id, simhash int64)`` for
    ``documents`` (DEPLOY.md L4); pair generation against it is pure
    int-key work (``operators.dedup.simhash_pairs_from_fingerprints``)."""
    from .operators.dedup import simhash

    def build(out: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        simhash(d, "doc_id", "text", bits).write.parquet(out)

    return _publish(_store_path(sf_dir, "documents", f"l4_simhash_b{bits}"), build)


def ensure_srp_store(
    spark: SparkSession,
    sf_dir: str,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
) -> str:
    """The L3 SRP bucket table for ``embeddings``: one ``(vec_id, t,
    bucket)`` row per (vector, hash table), partitioned by ``t`` and sorted
    by ``bucket`` within partitions, so a probe's ``(t, bucket) IN (...)``
    disjunction reaches the scan as partition filters plus row-group
    min/max pruning. The T*P-projection matmul over every corpus vector
    (``operators.similarity.srp_band_rows``) runs once, here."""
    from .operators.similarity import srp_band_rows

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "embeddings")
        (
            srp_band_rows(e, "embedding", "vec_id", n_planes=n_planes,
                          n_tables=n_tables, dim=dim, names=("t", "bucket"))
            .repartition("t")
            .sortWithinPartitions("bucket")
            .write.partitionBy("t")
            .parquet(out)
        )

    return _publish(
        _store_path(sf_dir, "embeddings", f"l3_srp_t{n_tables}_p{n_planes}"), build
    )


def ensure_ivf_store(spark: SparkSession, sf_dir: str) -> str:
    """The L3 IVF layout for ``embeddings``: the label-centroid codebook
    (``centroids/``, tiny) and the assigned vectors PARTITIONED BY
    ``centroid_id`` (``assigned/``). An nprobe-list probe is then a
    partition-pruned scan of ~nprobe/C of the store; the assignment argmin
    (the full-corpus work) runs once, here."""
    from .operators.similarity import ivf_assign, label_centroids_df

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "embeddings")
        label_centroids_df(e, "embedding", "label").write.parquet(
            os.path.join(out, "centroids")
        )
        centroids = read_parquet(spark, os.path.join(out, "centroids"))
        ivf_assign(e, centroids, "embedding", id_col="vec_id").write.partitionBy(
            "centroid_id"
        ).parquet(os.path.join(out, "assigned"))

    return _publish(_store_path(sf_dir, "embeddings", "l3_ivf"), build)


def ensure_compacted_ivf_store(
    spark: SparkSession, sf_dir: str, modulus: int = 7
) -> str:
    """Tombstone COMPACTION of the L3 IVF layout — the rebuild that
    retires a delete list (FAISS remove_ids made physical; Iceberg
    rewrite-data-files semantics): the surviving rows of ``assigned/``
    are rewritten into a NEW store with the tombstoned ids physically
    absent, the codebook copied unchanged (deletes don't move centroids),
    and the base store left untouched for readers mid-query. After the
    swap, probes drop their per-query anti-join — the tombstone set's cost
    is paid once here instead of on every read. The tombstone set is the
    ``vec_id % modulus == 0`` instance the serving query certifies."""

    def build(out: str) -> None:
        base = ensure_ivf_store(spark, sf_dir)
        read_parquet(spark, os.path.join(base, "centroids")).write.parquet(
            os.path.join(out, "centroids")
        )
        (
            read_parquet(spark, os.path.join(base, "assigned"))
            .filter((F.col("vec_id") % modulus) != 0)
            .write.partitionBy("centroid_id")
            .parquet(os.path.join(out, "assigned"))
        )

    return _publish(
        _store_path(sf_dir, "embeddings", f"l3_ivf_compact_m{modulus}"), build
    )


def ensure_bm25_index_store(spark: SparkSession, sf_dir: str) -> str:
    """The L2 posting layout for ``documents``: one relation of
    ``(doc_id, dl, token, tf)`` rows (``operators.search.materialize_bm25_index``),
    from which BM25 derives its corpus scalars."""
    from .operators.search import materialize_bm25_index

    return _publish(
        _store_path(sf_dir, "documents", "l2_text"),
        lambda out: materialize_bm25_index(
            load_table(spark, sf_dir, "documents"), "doc_id", out
        ),
    )


def ensure_inverted_index_store(spark: SparkSession, sf_dir: str) -> str:
    """The token-bucketed posting layout the keyword probe reads (DEPLOY.md
    L2) — the replacement for the reference's per-request index build
    (api.py:22): the same path as :func:`ensure_bm25_index_store`, so
    keyword search and BM25 share one layout and one build."""
    return ensure_bm25_index_store(spark, sf_dir)


def srp_query_buckets(qvec: list[float], n_planes: int = 8, n_tables: int = 8) -> list[tuple[int, int]]:
    """Driver-side SRP bucketing of ONE query vector: the same
    (emb @ planes) >= 0 bit-pack as ``_srp_buckets_udf``, on the 1-row
    query — planning work, like tokenizing a keyword query, so the probe
    plan contains no Python UDF at all. Returns [(t, bucket)] pairs."""
    import numpy as np

    from .operators.similarity import srp_planes

    dim = len(qvec)
    mat = np.asarray(srp_planes(n_planes, n_tables, dim), dtype=np.float64)  # (T, P, D)
    t_n, p_n, _ = mat.shape
    flat = mat.reshape(t_n * p_n, dim).T  # (D, T*P)
    emb = np.asarray([qvec], dtype=np.float64)  # (1, D)
    bits = (emb @ flat >= 0).astype(np.int64).reshape(t_n, p_n)
    weights = 1 << np.arange(p_n, dtype=np.int64)
    vals = (bits * weights).sum(axis=1)  # (T,)
    return [(t, int(vals[t])) for t in range(t_n)]


def srp_store_candidates(
    spark: SparkSession, store_path: str, probes: list[tuple[int, int]]
) -> DataFrame:
    """Probe the L3 bucket table: a literal ``(t, bucket)`` disjunction the
    scan can prune on (partition filter on ``t``, min/max row-group skip on
    the sorted ``bucket``), then distinct candidate ids."""
    store = read_parquet(spark, store_path)
    cond = None
    for t, b in probes:
        leg = (F.col("t") == F.lit(t)) & (F.col("bucket") == F.lit(b))
        cond = leg if cond is None else (cond | leg)
    return store.filter(cond).select("vec_id").distinct()


def ensure_pq_store(spark: SparkSession, sf_dir: str) -> str:
    """The PQ index for ``embeddings`` (DEPLOY.md L3 family): ``codebook/``
    (M x K x sub_dim fixed-point codeword components — KB) and ``codes/``
    (vec_id, m, code_id — the M-byte-per-vector compressed corpus, 32x
    smaller than the float vectors). The per-(vector, subspace) argmin over
    every corpus vector (``plans.similarity_queries._pq_index``, the same
    encode ``pq_adc_topk`` runs) happens once, here; an ADC query then
    reads ONLY the codes relation plus the broadcast codebook."""
    from .plans.similarity_queries import _pq_index

    def build(out: str) -> None:
        _, codebook, codes = _pq_index(spark, sf_dir)
        codebook.coalesce(1).write.parquet(os.path.join(out, "codebook"))
        codes.write.parquet(os.path.join(out, "codes"))

    return _publish(_store_path(sf_dir, "embeddings", "l3_pq_m8_k16"), build)


def ensure_minhash_band_store(
    spark: SparkSession, sf_dir: str, num_hashes: int = 8, bands: int = 4
) -> str:
    """The MinHash-LSH banding table for ``documents`` (DEPLOY.md L4): one
    ``(doc_id, band, band_key)`` row per (document, band), PARTITIONED BY
    ``band`` and sorted by ``band_key`` within partitions so bucket probes
    (streaming admission, cross-set decontamination) prune at the scan.
    The shingle explode + per-band md5-min signature aggregation (the cost
    center of every MinHash query) runs once, here; batch pair generation
    against the layout is a (band, band_key) self-equi-join on 3-column
    rows."""
    from .operators.dedup import band_rows

    def build(out: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        (
            band_rows(d, "doc_id", "text", num_hashes, bands)
            .repartition("band")
            .sortWithinPartitions("band_key")
            .write.partitionBy("band")
            .parquet(out)
        )

    return _publish(
        _store_path(sf_dir, "documents", f"l4_minhash_h{num_hashes}b{bands}"), build
    )


def ensure_winnowing_store(spark: SparkSession, sf_dir: str) -> str:
    """The winnowing fingerprint table for ``documents`` (DEPLOY.md L4):
    one ``(doc_id, fp)`` row per selected k-gram window minimum. The linear
    rows-form selection (posexplode + lead + frame-min, SCALE.md round 3)
    runs once, here; overlap detection against the layout is the fp-keyed
    self-equi-join ``plans.text_pipeline._shared_fp_pairs``."""
    from .functions.text import winnowing_fingerprint_rows

    return _publish(
        _store_path(sf_dir, "documents", "l4_winnow"),
        lambda out: winnowing_fingerprint_rows(
            load_table(spark, sf_dir, "documents"), "doc_id", "text"
        ).write.parquet(out),
    )


def ensure_binary_sig_store(spark: SparkSession, sf_dir: str) -> str:
    """The L3 binary-quantization signature relation for ``embeddings``:
    one ``(vec_id, __sig array<bigint>)`` row per vector — 1 bit per
    dimension, 32x smaller than the float32 column. The corpus-wide packing
    pass runs once, here; a Hamming-filtered ANN query then scans ONLY this
    relation and consults the full-precision vectors for just the
    ``rerank`` survivors by id."""
    from .operators.similarity import binary_signature

    return _publish(
        _store_path(sf_dir, "embeddings", "l3_binsig"),
        lambda out: load_table(spark, sf_dir, "embeddings")
        .select("vec_id", binary_signature("embedding").alias("__sig"))
        .write.parquet(out),
    )


def ensure_neardup_cluster_store(spark: SparkSession, sf_dir: str) -> str:
    """The verified near-dup CLUSTER MEMBERSHIP for ``documents`` — the
    terminal artifact of the L4 fingerprint family: one ``(doc_id,
    cluster_id, cluster_size)`` row per document appearing in ANY verified
    MinHash pair (``plans.dedup_queries._closure_membership``: banding,
    exact-Jaccard verify and the components closure run to convergence;
    the ``cc`` in the layout key marks the converged closure, ADVICE r9).
    Every closure readout the engine serves (sampling weights, the
    cluster-aware split) is then a membership join against 3-column rows.
    Membership size is dup-rate-dependent (a corpus fraction, NOT
    structurally small — VERDICT r8), which is why it is persisted instead
    of recomputed per query."""
    from .plans.dedup_queries import _closure_membership

    return _publish(
        _store_path(sf_dir, "documents", "l4_ndclusters_h8b4t50cc"),
        lambda out: _closure_membership(
            load_table(spark, sf_dir, "documents")
        ).write.parquet(out),
    )


def ensure_containment_postings_store(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> str:
    """The L4 containment-join postings for ``documents`` — the ingest-time
    artifacts of the asymmetric set-containment join
    (operators/dedup.py::containment_prefix_pairs), threshold-keyed
    because the probe prefix length depends on it:

    - ``toks/``   (doc_id, __toks, __sz) — distinct token arrays, the
      verify-stage input.
    - ``occ/``    (doc_id, __sz, __tok) — the full occurrence stream,
      the INDEX side (a container can't be prefix-pruned).
    - ``prefix/`` (doc_id, __sz, __tok) — the probe-side rarest-first
      prefix rows with positions ALREADY applied (the corpus-wide
      tokenize + explode + df aggregation + per-document window runs once,
      here, via the same containment_probe_prefix the in-plan operator
      uses).

    Query-time pair generation against the layout is a pure
    prefix x occ token equi-join + array verify."""
    from .operators.dedup import _containment_tokens, containment_probe_prefix

    def build(out: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        toks = _containment_tokens(d, "doc_id", "text").localCheckpoint()
        toks.write.parquet(os.path.join(out, "toks"))
        occ = toks.select("doc_id", "__sz", F.explode("__toks").alias("__tok"))
        occ.write.parquet(os.path.join(out, "occ"))
        occ_stored = read_parquet(spark, os.path.join(out, "occ"))
        containment_probe_prefix(occ_stored, "doc_id", threshold).write.parquet(
            os.path.join(out, "prefix")
        )

    return _publish(
        _store_path(sf_dir, "documents", f"l4_containment_t{int(round(threshold * 100))}"),
        build,
    )


def ensure_pq_residual_store(spark: SparkSession, sf_dir: str) -> str:
    """The residual IVF-PQ layout for ``embeddings`` (DEPLOY.md L7):

    - ``coarse/``    (list_id, m, pos, lv) — coarse codebook components
      (the quantized components of vectors 1-8) — KB, broadcast at query
      time.
    - ``rcodebook/`` (code_id, m, pos, cv) — RESIDUAL codeword components
      (the residuals of vectors 1-16 under their own assigned coarse
      lists) — KB, broadcast at query time.
    - ``rcodes/``    (vec_id, m, code_id) PARTITIONED BY list_id — each
      corpus vector's residual PQ code co-located with its coarse list,
      so an nprobe-list query scans ~nprobe/C of the codes relation via
      partition pruning.

    The component explode, the coarse assignment argmin and the residual
    encode over every corpus vector run once, here, through
    ``plans.similarity_queries._pq_residual_index`` — the same derivation
    the self-contained ``ivf_pq_residual_topk`` runs, so the stored encode
    is bit-identical and the twin query shares its oracle verbatim."""
    from .plans.similarity_queries import _pq_parts, _pq_residual_index

    def build(out: str) -> None:
        parts = _pq_parts(load_table(spark, sf_dir, "embeddings")).localCheckpoint()
        coarse, _, rcode, rcodes = _pq_residual_index(parts)
        coarse.coalesce(1).write.parquet(os.path.join(out, "coarse"))
        rcode.coalesce(1).write.parquet(os.path.join(out, "rcodebook"))
        rcodes.write.partitionBy("list_id").parquet(os.path.join(out, "rcodes"))

    return _publish(
        _store_path(sf_dir, "embeddings", "l7_pq_residual_m8_k16_c8"), build
    )


def ensure_copurchase_store(spark: SparkSession, sf_dir: str) -> str:
    """The L9 co-purchase graph for the recsys/graph family — the
    ingest-time artifact the graphrec queries were rebuilding per query
    (the lineitem ⋈ orders join, the (u, i) dedup, and the customer-keyed
    co-occurrence self-join). Relations under one root, signed by BOTH
    source tables, since the graph joins them:

    - ``counts/``  (i, n)                 — item user-count dimension
    - ``edges/``   (item_a, item_b, co)   — full-history co-purchase
      graph, support >= 2, canonical item_a < item_b
    - ``eval_lastpick/`` (u, held)        — leave-last-out held items
    - ``eval_train/``    (u, i)           — leakage-free training matrix
      (``plans.recsys_queries._train_matrix``, as in
      ``recsys_hitrate_eval``)
    - ``eval_edges/``    (item_a, item_b, co) — train-only co graph
    - ``basket_edges/``  (x, y)           — the BASKET-keyed (per-order)
      mutual-top-16 graph the graph-analytics family rides
      (``graph_queries._edges``)

    Written stage-by-stage with parquet read-backs between stages, so the
    fact-sized prefix executes exactly once per stage (no recompute tree);
    eval artifacts depend on earlier ones through their on-disk copies.
    The layout version participates in the signature, so extending the
    relation set can never serve a store written by older code."""
    from .plans.graph_queries import _edges
    from .plans.recsys_queries import (
        _cooccurrence,
        _last_pick,
        _order_lines,
        _train_matrix,
    )

    def build(out: str) -> None:
        ol = _order_lines(spark, sf_dir)
        ui = ol.select("u", "i").distinct().localCheckpoint()
        ui.groupBy("i").agg(F.count("*").cast("bigint").alias("n")).write.parquet(
            os.path.join(out, "counts")
        )
        _cooccurrence(ui).write.parquet(os.path.join(out, "edges"))
        _last_pick(ol).write.parquet(os.path.join(out, "eval_lastpick"))
        lastpick = read_parquet(spark, os.path.join(out, "eval_lastpick"))
        _train_matrix(ol, lastpick).write.parquet(os.path.join(out, "eval_train"))
        train = read_parquet(spark, os.path.join(out, "eval_train"))
        _cooccurrence(train).write.parquet(os.path.join(out, "eval_edges"))
        _edges(spark, sf_dir).write.parquet(os.path.join(out, "basket_edges"))

    sig = hashlib.sha256(
        (
            "v2;"
            + _source_signature(sf_dir, "lineitem")
            + _source_signature(sf_dir, "orders")
        ).encode()
    ).hexdigest()[:12]
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return _publish(os.path.join(store_root(), tag, f"l9_copurchase_{sig}"), build)


def ensure_semantic_kmeans_store(spark: SparkSession, sf_dir: str) -> str:
    """The L10 semantic-cluster assignment for ``embeddings``:
    ``assigned/`` = (vec_id, qv, centroid_id) after the fixed-point
    k-means (k=8, 2 assign+update rounds + final assignment) — the
    iterative broadcast-score / argmin / posexplode-mean loop that
    dominates ``semantic_dedup_pairs``' wall. SemDeDup clusters once per
    corpus snapshot and serves every dedup threshold from the stored
    assignment; the pairing tail
    (operators.clustering.semantic_pairs_from_assigned) reads ONLY this
    relation. Partitioned by centroid_id so a per-cluster consumer prunes
    to its own list, like the L3 IVF layout."""
    from .operators.clustering import _kmeans_assign_with_vectors, _kmeans_quantized

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "embeddings")
        q = _kmeans_quantized(e, "vec_id", "embedding", 1_000_000)
        aq = _kmeans_assign_with_vectors(q, "vec_id", k=8, iters=2).select(
            "vec_id", "centroid_id", "qv"
        )
        aq.write.partitionBy("centroid_id").parquet(os.path.join(out, "assigned"))

    return _publish(
        _store_path(sf_dir, "embeddings", "l10_semantic_kmeans_k8_i2"), build
    )


def ensure_evolution_store(spark: SparkSession, sf_dir: str) -> str:
    """A two-snapshot orders layout whose SCHEMA EVOLVED between writes —
    the ingest reality a long-lived 100 TB table faces: ``v1/`` holds the
    even orderkeys with the original 3 columns; ``v2/`` holds the odd
    orderkeys written later with an ADDED ``o_channel`` column. Both land
    under one root so a mergeSchema read sees one table."""

    def build(out: str) -> None:
        o = load_table(spark, sf_dir, "orders")
        base = o.select("o_orderkey", "o_custkey", "o_totalprice")
        base.filter(F.col("o_orderkey") % 2 == 0).write.parquet(os.path.join(out, "v1"))
        base.filter(F.col("o_orderkey") % 2 == 1).withColumn(
            "o_channel",
            F.element_at(
                F.array(F.lit("app"), F.lit("store"), F.lit("web")),
                (F.col("o_orderkey") % 3 + 1).cast("int"),
            ),
        ).write.parquet(os.path.join(out, "v2"))

    return _publish(_store_path(sf_dir, "orders", "evolution_v2"), build)
