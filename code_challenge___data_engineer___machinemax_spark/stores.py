"""Persisted-layout materialization (DEPLOY.md L2/L3/L4/L9) wired into
queries.

The headline near-dup / ANN queries previously recomputed at query time
what a production deployment materializes at ingest (VERDICT r4
perf_weak): SimHash refingerprinted the corpus per query (the 61-sum
explode vote is the measured cost center), and SRP-LSH re-bucketed every
vector per probe. This module owns those ingest-time artifacts:

- **L4 SimHash fingerprint table** ``(doc_id, simhash int64)`` — 16-byte
  rows; pair generation against it is pure int-key work
  (``operators.dedup.simhash_pairs_from_fingerprints``).
- **L3 SRP bucket table** ``(vec_id, t, bucket)`` partitioned by table id
  ``t`` and sorted by ``bucket`` within partitions, so a probe's
  ``(t, bucket) IN (...)`` disjunction reaches the scan as partition
  filters + row-group min/max pruning — the Spark analogue of walking a
  hash-table index instead of re-hashing the corpus.

Stores live under ``$SPARK_GRAFT_STORE_DIR`` (default
``<repo>/spark-warehouse/stores``), keyed by the source table's file
signature (name/size/mtime of the parquet files), so a regenerated
testdata directory can never serve a stale store — the signature changes
and a fresh layout is written. ``ensure_*`` is idempotent: it returns the
existing path when the signed layout is already on disk (checked via
Spark's ``_SUCCESS`` marker), which is how the bench warm-up primes the
layouts once and the timed probe measures only the production read path.
"""

from __future__ import annotations

import hashlib
import os

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
    import shutil

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


def ensure_simhash_store(
    spark: SparkSession, sf_dir: str, bits: int = 60, spread: bool = True
) -> str:
    """Materialize the L4 SimHash fingerprint table for ``documents`` (the
    ingest-time artifact; DEPLOY.md L4). Returns the parquet path."""
    from .operators.dedup import simhash

    path = _store_path(sf_dir, "documents", f"l4_simhash_b{bits}")
    if not _ready(path):
        d = load_table(spark, sf_dir, "documents")
        simhash(d, "doc_id", "text", bits, spread=spread).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def ensure_srp_store(
    spark: SparkSession,
    sf_dir: str,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
) -> str:
    """Materialize the L3 SRP bucket table for ``embeddings``: one
    ``(vec_id, t, bucket)`` row per (vector, hash table), partitioned by
    ``t`` and sorted by ``bucket`` within partitions so probe filters prune
    at the scan. The expensive step — the T*P-projection matmul over every
    corpus vector — runs exactly once, here."""
    from .operators.similarity import _srp_buckets_udf, hyperplane

    path = _store_path(sf_dir, "embeddings", f"l3_srp_t{n_tables}_p{n_planes}")
    if not _ready(path):
        tables = [
            [hyperplane(t * 1009 + i, dim) for i in range(n_planes)]
            for t in range(n_tables)
        ]
        buckets_udf = _srp_buckets_udf(tables)
        e = load_table(spark, sf_dir, "embeddings")
        (
            e.select(
                "vec_id",
                F.posexplode(buckets_udf(F.col("embedding"))).alias("t", "bucket"),
            )
            .repartition("t")
            .sortWithinPartitions("bucket")
            .write.mode("overwrite")
            .partitionBy("t")
            .parquet(path)
        )
    return path


def ensure_ivf_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the L3 IVF layout for ``embeddings``: the label-centroid
    codebook (``centroids/``, tiny) and the assigned vectors written
    PARTITIONED BY ``centroid_id`` (``assigned/``) — DEPLOY.md L3 verbatim.
    An nprobe-list probe is then a partition-pruned scan of ~nprobe/C of
    the store; the assignment argmin (the full-corpus work) ran once,
    here."""
    from .operators.similarity import ivf_assign, label_centroids_df

    path = _store_path(sf_dir, "embeddings", "l3_ivf")
    if not _ready(os.path.join(path, "assigned")):
        e = load_table(spark, sf_dir, "embeddings")
        centroids = label_centroids_df(e, "embedding", "label")
        centroids.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
        assigned = ivf_assign(e, read_parquet(spark, os.path.join(path, "centroids")),
                              "embedding", id_col="vec_id")
        assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
            os.path.join(path, "assigned")
        )
    return path


def ensure_compacted_ivf_store(
    spark: SparkSession, sf_dir: str, modulus: int = 7
) -> str:
    """Tombstone COMPACTION of the L3 IVF layout — the rebuild that
    retires a delete list (FAISS remove_ids made physical; Iceberg
    rewrite-data-files semantics): the surviving rows of ``assigned/``
    are rewritten into a NEW store version with the tombstoned ids
    physically absent, the codebook copied unchanged (deletes don't move
    centroids), and the old version left untouched for readers mid-query
    (immutable-version discipline, same as txn.py). After the swap,
    probes drop their per-query anti-join — the tombstone set's cost is
    paid once here instead of on every read. The tombstone set is the
    ``vec_id % modulus == 0`` instance the serving query certifies."""
    base = ensure_ivf_store(spark, sf_dir)
    path = _store_path(sf_dir, "embeddings", f"l3_ivf_compact_m{modulus}")
    if not _ready(path):
        read_parquet(spark, os.path.join(base, "centroids")).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "centroids"))
        (
            read_parquet(spark, os.path.join(base, "assigned"))
            .filter((F.col("vec_id") % modulus) != 0)
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(os.path.join(path, "assigned"))
        )
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
    return path


def ensure_bm25_index_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the BM25-scored posting layout for ``documents`` (L2 +
    per-doc lengths + corpus scalars; see
    ``operators.search.materialize_bm25_index``)."""
    from .operators.search import materialize_bm25_index

    path = _store_path(sf_dir, "documents", "l2_bm25")
    if not _ready(os.path.join(path, "stats")):
        d = load_table(spark, sf_dir, "documents")
        materialize_bm25_index(d, "doc_id", path)
    return path


def ensure_inverted_index_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the token-bucket-partitioned inverted index for
    ``documents`` (DEPLOY.md L2; ``operators.search
    .materialize_inverted_index``) — the replacement for the reference's
    per-request index build (api.py:22)."""
    from .operators.search import materialize_inverted_index

    path = _store_path(sf_dir, "documents", "l2_postings")
    if not _ready(path):
        d = load_table(spark, sf_dir, "documents")
        materialize_inverted_index(d, "doc_id", path)
    return path


def srp_query_buckets(qvec: list[float], n_planes: int = 8, n_tables: int = 8) -> list[tuple[int, int]]:
    """Driver-side SRP bucketing of ONE query vector: the same
    (emb @ planes) >= 0 bit-pack as ``_srp_buckets_udf``, on the 1-row
    query — planning work, like tokenizing a keyword query, so the probe
    plan contains no Python UDF at all. Returns [(t, bucket)] pairs."""
    import numpy as np

    from .operators.similarity import hyperplane

    dim = len(qvec)
    mat = np.asarray(
        [
            [hyperplane(t * 1009 + i, dim) for i in range(n_planes)]
            for t in range(n_tables)
        ],
        dtype=np.float64,
    )  # (T, P, D)
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
    """Materialize the PQ index for ``embeddings`` (DEPLOY.md L3 family):
    ``codebook/`` (M x K x sub_dim fixed-point codeword components — KB)
    and ``codes/`` (vec_id, m, code_id — the M-byte-per-vector compressed
    corpus, 32x smaller than the float vectors). The expensive step — the
    per-(vector, subspace) argmin over every corpus vector — runs exactly
    once, here; an ADC query then reads ONLY the codes relation plus the
    broadcast codebook, never the vectors."""
    from .operators.similarity import pq_assign, pq_components

    path = _store_path(sf_dir, "embeddings", "l3_pq_m8_k16")
    if not _ready(path):
        e = load_table(spark, sf_dir, "embeddings")
        parts = pq_components(e, "embedding", "vec_id", sub_dim=8, scale=10000)
        codebook = parts.filter(F.col("vec_id").between(1, 16)).select(
            F.col("vec_id").alias("code_id"), "m", "pos", F.col("qv").alias("cv")
        )
        codebook.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "codebook")
        )
        codes = pq_assign(parts.filter(F.col("vec_id") != 0), codebook, "vec_id")
        codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
    return path


def ensure_minhash_band_store(
    spark: SparkSession, sf_dir: str, num_hashes: int = 8, bands: int = 4
) -> str:
    """Materialize the MinHash-LSH banding table for ``documents`` — the
    'MinHash bands' entry of the DEPLOY.md L4 fingerprint family, now a
    real layout like its SimHash sibling: one ``(doc_id, band, band_key)``
    row per (document, band), PARTITIONED BY ``band`` and sorted by
    ``band_key`` within partitions so bucket probes (streaming admission,
    cross-set decontamination) prune at the scan. The expensive step —
    the shingle explode + per-band md5-min signature aggregation (the
    measured cost center of every MinHash query) — runs exactly once,
    here; batch pair generation against the layout is a pure
    (band, band_key) self-equi-join on 3-column rows."""
    from .operators.dedup import band_rows

    path = _store_path(sf_dir, "documents", f"l4_minhash_h{num_hashes}b{bands}")
    if not _ready(path):
        d = load_table(spark, sf_dir, "documents")
        (
            band_rows(d, "doc_id", "text", num_hashes, bands)
            .repartition("band")
            .sortWithinPartitions("band_key")
            .write.mode("overwrite")
            .partitionBy("band")
            .parquet(path)
        )
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
    return path


def ensure_winnowing_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the winnowing fingerprint table for ``documents`` —
    the third and last member of the DEPLOY.md L4 fingerprint family
    (SimHash int64, MinHash bands, winnowing fps): one ``(doc_id, fp)``
    row per selected k-gram window minimum. The linear rows-form
    selection (posexplode + lead + frame-min — the 763 s -> 5.5 s fix of
    SCALE.md round 3) runs exactly once, here; overlap detection against
    the layout is a pure fp-keyed self-equi-join."""
    from .functions.text import winnowing_fingerprint_rows

    path = _store_path(sf_dir, "documents", "l4_winnow")
    if not _ready(path):
        d = load_table(spark, sf_dir, "documents")
        winnowing_fingerprint_rows(d, "doc_id", "text").write.mode(
            "overwrite"
        ).parquet(path)
    return path


def ensure_binary_sig_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the L3 binary-quantization signature relation for
    ``embeddings``: one ``(vec_id, __sig array<bigint>)`` row per vector —
    1 bit per dimension, 32x smaller than the float32 column (8 bytes of
    signature per 64 dims). The corpus-wide packing pass runs exactly
    once, here; a Hamming-filtered ANN query then scans ONLY this
    relation for the distance pass and consults the full-precision
    vectors for just the ``rerank`` survivors by id."""
    from .operators.similarity import binary_signature

    path = _store_path(sf_dir, "embeddings", "l3_binsig")
    if not _ready(path):
        e = load_table(spark, sf_dir, "embeddings")
        e.select("vec_id", binary_signature("embedding").alias("__sig")).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def ensure_neardup_cluster_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the verified near-dup CLUSTER MEMBERSHIP for
    ``documents`` — the terminal artifact of the whole L4 fingerprint
    family: one ``(doc_id, cluster_id, cluster_size)`` row per document
    appearing in ANY verified MinHash pair. Every closure readout the
    engine serves (keep-one / keep-best canonicalization ledgers,
    SoftDeDup sampling weights, leakage-free cluster-aware splits)
    re-derived this at query time: shingle banding + exact-Jaccard
    verify + the components closure (run to CONVERGENCE — pointer-jumping
    label propagation; the round-9 store's fixed 4-round hash-min could
    leave a >4-hop chain-shaped component under several labels, ADVICE
    r9, hence the `cc` layout-key bump below). A deployment runs that
    pipeline once when data lands — here — and every downstream consumer
    is a membership join against 3-column rows. Membership size is
    dup-rate-dependent (a corpus fraction, NOT structurally small —
    VERDICT r8), which is exactly why it deserves a persisted layout
    instead of a per-query recompute."""
    path = _store_path(sf_dir, "documents", "l4_ndclusters_h8b4t50cc")
    if not _ready(path):
        from .plans.dedup_queries import _closure_labels

        d = load_table(spark, sf_dir, "documents")
        labels = _closure_labels(d)
        sizes = labels.groupBy("lbl").agg(
            F.count("*").cast("bigint").alias("cluster_size")
        )
        (
            labels.join(sizes, "lbl")
            .select(
                F.col("node").alias("doc_id"),
                F.col("lbl").alias("cluster_id"),
                "cluster_size",
            )
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


def ensure_containment_postings_store(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> str:
    """Materialize the L4 containment-join postings for ``documents`` —
    the ingest-time artifacts of the asymmetric set-containment join
    (operators/dedup.py::containment_prefix_pairs), threshold-keyed
    because the probe prefix length depends on it:

    - ``toks/``   (doc_id, __toks, __sz) — distinct token arrays, the
      verify-stage input.
    - ``occ/``    (doc_id, __sz, __tok) — the full occurrence stream,
      the INDEX side (a container can't be prefix-pruned).
    - ``prefix/`` (doc_id, __sz, __tok) — the probe-side rarest-first
      prefix rows with positions ALREADY applied (the corpus-wide
      tokenize + explode + df aggregation + per-document window — the
      measured cost of the self-contained join — runs exactly once,
      here, via the same containment_probe_prefix the in-plan operator
      uses).

    Query-time pair generation against the layout is a pure
    prefix x occ token equi-join + array verify."""
    from .operators.dedup import _containment_tokens, containment_probe_prefix

    path = _store_path(
        sf_dir, "documents", f"l4_containment_t{int(round(threshold * 100))}"
    )
    if not _ready(path):
        d = load_table(spark, sf_dir, "documents")
        toks = _containment_tokens(d, "doc_id", "text").localCheckpoint()
        toks.write.mode("overwrite").parquet(os.path.join(path, "toks"))
        occ = toks.select("doc_id", "__sz", F.explode("__toks").alias("__tok"))
        occ.write.mode("overwrite").parquet(os.path.join(path, "occ"))
        occ_stored = read_parquet(spark, os.path.join(path, "occ"))
        containment_probe_prefix(occ_stored, "doc_id", threshold).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "prefix"))
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
    return path


def ensure_pq_residual_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the residual IVF-PQ layout for ``embeddings`` (DEPLOY.md
    L7; VERDICT r7 #4 — the deployment claim in
    ``ivf_pq_residual_topk``'s docstring, now a measured artifact):

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

    The expensive steps — the component explode, the coarse assignment
    argmin, and the per-(vector, subspace) residual encode over every
    corpus vector (the second linear pass behind the self-contained
    query's 2.7x replica scaling, SCALE.md round 7) — run exactly once,
    here. Parameters mirror ``ivf_pq_residual_topk`` (sub_dim=8,
    scale=10000, 8 coarse lists, 16 residual codewords), so the stored
    encode is bit-identical to the self-contained derivation and the twin
    query shares its oracle verbatim."""
    from pyspark.sql.window import Window as W

    from .operators.similarity import pq_components

    path = _store_path(sf_dir, "embeddings", "l7_pq_residual_m8_k16_c8")
    if not _ready(path):
        e = load_table(spark, sf_dir, "embeddings")
        parts = pq_components(
            e, "embedding", "vec_id", sub_dim=8, scale=10000
        ).localCheckpoint()
        coarse = parts.filter(F.col("vec_id").between(1, 8)).select(
            F.col("vec_id").alias("list_id"), "m", "pos", F.col("qv").alias("lv")
        )
        coarse.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "coarse")
        )
        coarse_r = read_parquet(spark, os.path.join(path, "coarse"))
        cdiff = F.col("qv") - F.col("lv")
        cdist = (
            parts.filter(F.col("vec_id") != 0)
            .join(F.broadcast(coarse_r), ["m", "pos"])
            .groupBy("vec_id", "list_id")
            .agg(F.sum(cdiff * cdiff).alias("d"))
        )
        w = W.partitionBy("vec_id").orderBy("d", "list_id")
        cassign = (
            cdist.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("vec_id", "list_id")
        )
        rparts = (
            parts.join(cassign, "vec_id")
            .join(F.broadcast(coarse_r), ["list_id", "m", "pos"])
            .select(
                "vec_id", "list_id", "m", "pos",
                (F.col("qv") - F.col("lv")).alias("rv"),
            )
            .localCheckpoint()
        )
        rcode = rparts.filter(F.col("vec_id").between(1, 16)).select(
            F.col("vec_id").alias("code_id"), "m", "pos", F.col("rv").alias("cv")
        )
        rcode.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "rcodebook")
        )
        rcode_r = read_parquet(spark, os.path.join(path, "rcodebook"))
        rdiff = F.col("rv") - F.col("cv")
        rdists = (
            rparts.join(F.broadcast(rcode_r), ["m", "pos"])
            .groupBy("vec_id", "list_id", "m", "code_id")
            .agg(F.sum(rdiff * rdiff).alias("d"))
        )
        w2 = W.partitionBy("vec_id", "m").orderBy("d", "code_id")
        (
            rdists.withColumn("__rn", F.row_number().over(w2))
            .filter(F.col("__rn") == 1)
            .select("vec_id", "m", "code_id", "list_id")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(os.path.join(path, "rcodes"))
        )
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
    return path


def ensure_copurchase_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the L9 co-purchase graph for the recsys/graph family —
    the ingest-time artifact the graphrec queries were rebuilding per
    query (the lineitem ⋈ orders join, the (u, i) dedup, and the
    customer-keyed co-occurrence self-join were 5 of the family's 8
    members' shared prefix). Five relations under one signature-keyed
    root (signed by BOTH source tables, since the graph joins them):

    - ``counts/``  (i, n)                 — item user-count dimension
    - ``edges/``   (item_a, item_b, co)   — full-history co-purchase
      graph, support >= 2, canonical item_a < item_b
    - ``eval_lastpick/`` (u, held)        — leave-last-out held items
    - ``eval_train/``    (u, i)           — leakage-free training matrix
    - ``eval_edges/``    (item_a, item_b, co) — train-only co graph
    - ``basket_edges/``  (x, y)           — the BASKET-keyed (per-order)
      mutual-top-16 graph the graph-analytics family rides
      (``graph_queries._edges``): wedge/superstep consumers read this

    Written stage-by-stage with parquet read-backs between stages, so the
    fact-sized prefix executes exactly once per stage (no recompute tree);
    eval artifacts depend on earlier ones through their on-disk copies.
    The layout version participates in the signature, so extending the
    relation set can never serve a store written by older code."""
    from .plans.graph_queries import _edges
    from .plans.recsys_queries import _cooccurrence, _last_pick, _order_lines

    sig = hashlib.sha256(
        (
            "v2;"
            + _source_signature(sf_dir, "lineitem")
            + _source_signature(sf_dir, "orders")
        ).encode()
    ).hexdigest()[:12]
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(store_root(), tag, f"l9_copurchase_{sig}")
    if not _ready(path):
        ol = _order_lines(spark, sf_dir)
        ui = ol.select("u", "i").distinct().localCheckpoint()
        ui.groupBy("i").agg(F.count("*").cast("bigint").alias("n")).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "counts"))
        _cooccurrence(ui).write.mode("overwrite").parquet(
            os.path.join(path, "edges")
        )
        _last_pick(ol).write.mode("overwrite").parquet(
            os.path.join(path, "eval_lastpick")
        )
        lastpick = read_parquet(spark, os.path.join(path, "eval_lastpick"))
        (
            ol.join(lastpick, "u")
            .filter(F.col("i") != F.col("held"))
            .select("u", "i")
            .distinct()
            .write.mode("overwrite")
            .parquet(os.path.join(path, "eval_train"))
        )
        train = read_parquet(spark, os.path.join(path, "eval_train"))
        _cooccurrence(train).write.mode("overwrite").parquet(
            os.path.join(path, "eval_edges")
        )
        _edges(spark, sf_dir).write.mode("overwrite").parquet(
            os.path.join(path, "basket_edges")
        )
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
    return path


def ensure_semantic_kmeans_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the L10 semantic-cluster assignment for ``embeddings``:
    ``assigned/`` = (vec_id, qv, centroid_id) after the fixed-point
    k-means (k=8, 2 assign+update rounds + final assignment) — the
    iterative broadcast-score / argmin / posexplode-mean loop that
    dominates ``semantic_dedup_pairs``' wall. SemDeDup clusters once per
    corpus snapshot and serves every dedup threshold from the stored
    assignment; the pairing tail
    (operators.clustering.semantic_pairs_from_assigned) reads ONLY this
    relation. Partitioned by centroid_id so a per-cluster consumer prunes
    to its own list, like the L3 IVF layout."""
    from .operators.clustering import kmeans_fixed_point

    path = _store_path(sf_dir, "embeddings", "l10_semantic_kmeans_k8_i2")
    if not _ready(path):
        e = load_table(spark, sf_dir, "embeddings")
        quant = F.expr(
            "transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1000000 AS BIGINT))"
        )
        assigned = kmeans_fixed_point(e, "vec_id", "embedding", k=8, iters=2).select(
            "vec_id", "centroid_id"
        )
        aq = assigned.join(e.select("vec_id", quant.alias("qv")), "vec_id")
        aq.write.mode("overwrite").partitionBy("centroid_id").parquet(
            os.path.join(path, "assigned")
        )
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
    return path


def ensure_evolution_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a two-snapshot orders layout whose SCHEMA EVOLVED
    between writes — the ingest reality a long-lived 100 TB table faces:
    ``v1/`` holds the even orderkeys with the original 3 columns;
    ``v2/`` holds the odd orderkeys written later with an ADDED
    ``o_channel`` column. Both land under one root so a mergeSchema read
    sees one table. Signature-keyed and idempotent like every store."""
    path = _store_path(sf_dir, "orders", "evolution_v2")
    if not _ready(os.path.join(path, "v2")):
        o = load_table(spark, sf_dir, "orders")
        base = o.select("o_orderkey", "o_custkey", "o_totalprice")
        base.filter(F.col("o_orderkey") % 2 == 0).write.mode("overwrite").parquet(
            os.path.join(path, "v1")
        )
        base.filter(F.col("o_orderkey") % 2 == 1).withColumn(
            "o_channel",
            F.element_at(
                F.array(F.lit("app"), F.lit("store"), F.lit("web")),
                (F.col("o_orderkey") % 3 + 1).cast("int"),
            ),
        ).write.mode("overwrite").parquet(os.path.join(path, "v2"))
    return path
