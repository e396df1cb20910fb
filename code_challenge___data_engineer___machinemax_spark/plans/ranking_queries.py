"""Ranking + clustering queries: BM25 relevance (oracle-checked), dedup
cluster resolution and k-means codebook (rows-only iterative ops)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import tokenize, tokenize_sql
from ..operators.clustering import dedup_clusters, kmeans_lite
from ..operators.dedup import near_dup_pairs
from ..operators.search import bm25_rank
from ..operators.similarity import cosine_topk
from ..tables import load_table, read_parquet
from .registry import query


def _bm25_oracle(limit: int = 10) -> str:
    """The BM25 formula SQL, parametrized on the result LIMIT so the
    hybrid-fusion oracle can reuse the identical scoring text at a wider
    candidate depth (one source of truth for the formula)."""
    return f"""
    WITH tokens AS (
        SELECT doc_id, unnest({tokenize_sql('text')}) AS token FROM documents
    ), doc_len AS (
        SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY doc_id
    ), corpus AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doc_len
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tokens
        WHERE token IN ('merge', 'vector') GROUP BY doc_id, token
    ), dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    )
    SELECT doc_id,
           ROUND(SUM(
               ln((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
               * (tf * 2.2::DOUBLE)
               / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                                      + 0.75::DOUBLE * dl / avgdl))
           ), 6) AS bm25
    FROM tf JOIN dfreq USING (token) JOIN doc_len USING (doc_id) CROSS JOIN corpus
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {limit}
    """


@query("bm25_keyword_ranking", oracle=_bm25_oracle())
def bm25_keyword_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked top-10 for a 2-token query (2-term score sums are
    commutative in IEEE double, so cross-engine value equality holds; the
    k1=1.2 / b=0.75 constants are forced to DOUBLE in the oracle to dodge
    DuckDB's decimal literals)."""
    d = load_table(spark, sf_dir, "documents")
    return bm25_rank(d, "doc_id", "merge vector", k=10)


from .registry import get as _get_registered


@query(
    "bm25_keyword_indexed",
    # the self-contained twin's oracle verbatim: the layout is a cache of
    # deterministic ingest work, so the result set is identical and the
    # formula SQL keeps one source of truth
    oracle=_get_registered("bm25_keyword_ranking").oracle,
)
def bm25_keyword_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 over the persisted L2 posting layout (VERDICT r4 #7):
    candidate generation is the pruned index probe — PartitionFilters on
    the token bucket, EqualTo(token, ...) pushed to the scan — and tf/dl/df
    all derive from the probed rows, with (n_docs, avgdl) derived from the
    layout's rows once per file set, so the query never touches the corpus. Same oracle as
    `bm25_keyword_ranking`: the layout is a cache of deterministic ingest
    work, the scores are bit-identical."""
    from ..operators.search import bm25_rank_from_index
    from ..stores import ensure_bm25_index_store

    path = ensure_bm25_index_store(spark, sf_dir)
    return bm25_rank_from_index(spark, path, "merge vector", key_col="doc_id", k=10)


# the 5-query batch: every token is established corpus vocabulary (the
# same 6 tokens the bm25/mrr/phrase evals use), so each query has hits
_BATCH_QUERIES: list[str] = [
    "merge vector",
    "scan filter",
    "table window",
    "merge table",
    "vector filter",
]


@query(
    "bm25_batch_search_from_store",
    oracle=f"""
    WITH tokens AS (
        SELECT doc_id, unnest({tokenize_sql('text')}) AS token FROM documents
    ), doc_len AS (
        SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY doc_id
    ), corpus AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doc_len
    ), qmap(qid, token) AS (VALUES
        {", ".join(f"({qid}, '{t}')" for qid, kw in enumerate(_BATCH_QUERIES) for t in kw.split())}
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tokens
        WHERE token IN (SELECT token FROM qmap) GROUP BY doc_id, token
    ), dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ), scored AS (
        SELECT q.qid, tf.doc_id,
               ROUND(SUM(
                   ln((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
                   * (tf * 2.2::DOUBLE)
                   / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                                          + 0.75::DOUBLE * dl / avgdl))
               ), 6) AS bm25
        FROM tf JOIN qmap q USING (token) JOIN dfreq USING (token)
        JOIN doc_len USING (doc_id) CROSS JOIN corpus
        GROUP BY q.qid, tf.doc_id
    )
    SELECT qid, doc_id, bm25, CAST(rk AS INT) AS rk FROM (
        SELECT qid, doc_id, bm25,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY bm25 DESC, doc_id) AS rk
        FROM scored
    ) WHERE rk <= 10
    """,
)
def bm25_batch_search_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25 serving off the persisted L2 posting layout: FIVE
    keyword queries share ONE pruned index probe (the union of their
    tokens — still PartitionFilters + token IN (...) at the scan),
    per-token df/idf and per-(doc, token) term scores compute once and
    fan out to queries via a literal token -> query-ids map, and each
    query's top-10 is a qid-partitioned window, all in the one partition
    the probe is coalesced to: one Spark job, no exchange, no join. The
    search-family counterpart of
    `ivf_batch_topk_from_store`: the layout amortizes across the query
    BATCH — per-query cost is probe/|batch|, which is how a search
    service (or an offline relevance-labeling sweep over thousands of
    queries) actually consumes the index. 2-token score sums stay
    commutative in IEEE double, so cross-engine value equality holds per
    the family convention; ranking is on the ROUNDED score with doc_id
    ties, identically in the oracle.

    Scale: probe volume is union-of-tokens bounded regardless of batch
    size; the fan-out multiplies only matched posting rows by the queries
    sharing each token; one task ranks the whole probe, so a batch whose
    probe holds most postings of a large corpus is bound by that task
    (operators/search.py::_rank_sql)."""
    from ..operators.search import bm25_batch_rank_from_index
    from ..stores import ensure_bm25_index_store

    path = ensure_bm25_index_store(spark, sf_dir)
    return bm25_batch_rank_from_index(
        spark, path, _BATCH_QUERIES, key_col="doc_id", k=10
    )


def _cluster_oracle_sql() -> str:
    """Recursive-CTE oracle for connected components: reuse the registered
    near-dup-pairs oracle as the edge list (identical parameters:
    threshold=0.5, 8 hashes, 4 bands), compute the transitive closure with
    WITH RECURSIVE, and take min(reachable) as the component label — the
    fixpoint the iterative Spark label propagation converges to."""
    pairs_sql = _get_registered("near_dup_pairs_minhash").oracle
    return f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({pairs_sql})),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
    SELECT d.doc_id,
           COALESCE(comp.component, d.doc_id) AS component,
           d.doc_id = COALESCE(comp.component, d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
    """


@query("dedup_cluster_resolution", oracle=_cluster_oracle_sql())
def dedup_cluster_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved to components with canonical keepers via
    iterative label propagation. Oracle-checked: DuckDB computes the same
    components with a recursive-CTE transitive closure (Spark has no
    recursion — the driver loop in operators/clustering.py is its
    equivalent; both converge to min-label-per-component)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs(d, "doc_id", "text", threshold=0.5)
    return dedup_clusters(pairs, d, "doc_id")


def _kmeans_cte_parts(
    k: int = 8, iters: int = 2, dim: int = 64, scale: int = 1_000_000
) -> list[str]:
    """CTE chain (quantize, init, ``iters`` assign+update rounds, final
    assignment ``afinal``) shared by the kmeans_fixed_point and
    semantic_dedup_pairs oracles."""
    sqdist = (
        f"CAST(list_sum(list_transform(range({dim}), "
        "i -> (q.qv[i+1] - c.cv[i+1]) * (q.qv[i+1] - c.cv[i+1]))) AS BIGINT)"
    )

    def assign_cte(name: str, cents: str) -> str:
        return f"""
    {name}_scored AS (
        SELECT q.vec_id, c.centroid_id, q.qv, {sqdist} AS dist,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {sqdist}, c.centroid_id) AS rn
        FROM q CROSS JOIN {cents} c
    ),
    {name} AS (SELECT vec_id, centroid_id, qv, dist FROM {name}_scored WHERE rn = 1)"""

    def update_cte(name: str, assigned: str) -> str:
        return f"""
    {name} AS (
        SELECT centroid_id, list(cval ORDER BY pos) AS cv
        FROM (
            SELECT centroid_id, d.i AS pos,
                   CAST(FLOOR(SUM(qv[d.i + 1]) * 1.0 / COUNT(*)) AS BIGINT) AS cval
            FROM {assigned} CROSS JOIN (SELECT unnest(range({dim})) AS i) d
            GROUP BY centroid_id, d.i
        ) GROUP BY centroid_id
    )"""

    parts = [
        f"""
    q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(trunc(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
        FROM embeddings
    ),
    c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) AS centroid_id, qv AS cv
        FROM q ORDER BY vec_id LIMIT {k}
    )"""
    ]
    cents = "c0"
    for it in range(1, iters + 1):
        parts.append(assign_cte(f"a{it}", cents))
        parts.append(update_cte(f"c{it}", f"a{it}"))
        cents = f"c{it}"
    parts.append(assign_cte("afinal", cents))
    return parts


def _kmeans_fp_oracle_sql(k: int = 8, iters: int = 2, dim: int = 64, scale: int = 1_000_000) -> str:
    """Generated DuckDB twin of operators.clustering.kmeans_fixed_point:
    same trunc-quantization, same exact-int distances, same floor(sum/n)
    centroid update, ``iters`` assign+update rounds unrolled as CTEs plus
    the final assignment. Every value is integer arithmetic, so the whole
    iterative algorithm is bit-reproducible cross-engine."""
    parts = _kmeans_cte_parts(k, iters, dim, scale)
    return (
        "WITH " + ",".join(parts)
        + "\n    SELECT vec_id, centroid_id, dist FROM afinal"
    )


def _semantic_dedup_oracle_sql(
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    scale: int = 1_000_000,
    max_sqdist: int = 1_200_000_000_000,
) -> str:
    """Generated DuckDB twin of operators.clustering.semantic_dedup_pairs:
    the kmeans_fixed_point CTE chain, then within-cluster pairs (id_a <
    id_b) verified with the same exact-int sqdist over the quantized
    vectors carried through ``afinal``."""
    parts = _kmeans_cte_parts(k, iters, dim, scale)
    pair_sqdist = (
        f"CAST(list_sum(list_transform(range({dim}), "
        "i -> (a.qv[i+1] - b.qv[i+1]) * (a.qv[i+1] - b.qv[i+1]))) AS BIGINT)"
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT id_a, id_b, centroid_id, sqdist FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.centroid_id AS centroid_id,
               {pair_sqdist} AS sqdist
        FROM afinal a JOIN afinal b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    ) WHERE sqdist <= {max_sqdist}"""
    )


@query("kmeans_fixed_point", oracle=_kmeans_fp_oracle_sql())
def kmeans_fixed_point_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 2 assign+update rounds + final assignment) in
    exact fixed-point arithmetic — the iterative-algorithm capability class
    under the full value-check gate (float k-means can't be: distance sums
    and means re-associate per partitioning; trunc-to-int64 makes every
    round bit-reproducible). Spark side is the same broadcast-score +
    argmin + posexplode-mean rounds as kmeans_codebook."""
    from ..operators.clustering import kmeans_fixed_point

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_fixed_point(e, "vec_id", "embedding", k=8, iters=2)


@query("semantic_dedup_pairs", oracle=_semantic_dedup_oracle_sql())
def semantic_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup: fixed-point k-means buckets, then
    exact int64 sqdist pairs within a cluster only — the cluster-bucketed
    twin of the SRP embedding near-dup path, with the ENTIRE pipeline
    (iterative clustering + pair verify) under the value gate. The
    threshold here (sqdist <= 1.2e12 = cosine >= ~0.4 on unit vectors)
    mines similar pairs on this synthetic corpus, which plants no true
    embedding dups; a production dedup run would use ~0.1*scale^2
    (cosine >= 0.95) — the operator is threshold-parametric."""
    from ..operators.clustering import semantic_dedup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(e, "vec_id", "embedding", k=8, iters=2)


@query(
    "semantic_dedup_pairs_from_store",
    # the self-contained twin's oracle verbatim: the store caches the
    # deterministic fixed-point cluster assignment, so results are identical
    oracle=_semantic_dedup_oracle_sql(),
)
def semantic_dedup_pairs_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`semantic_dedup_pairs` over the persisted L10 cluster assignment
    (stores.py:ensure_semantic_kmeans_store): the iterative k-means —
    three broadcast-score + argmin + posexplode-mean passes over the full
    corpus, the query's measured cost center — ran once at ingest; the
    timed path reads the (vec_id, qv, centroid_id) relation and runs only
    the within-cluster pairing tail. This is how SemDeDup deploys at
    100 TB: cluster once per corpus snapshot, then serve every dedup
    threshold from the stored assignment. Same oracle as
    `semantic_dedup_pairs`; the self-contained twin stays as the
    ingest-cost regression guard."""
    import os as _os

    from ..operators.clustering import semantic_pairs_from_assigned
    from ..stores import ensure_semantic_kmeans_store

    store = ensure_semantic_kmeans_store(spark, sf_dir)
    aq = read_parquet(spark, _os.path.join(store, "assigned"))
    return semantic_pairs_from_assigned(aq, "vec_id")


def _semantic_resolution_oracle_sql() -> str:
    """Recursive-CTE closure over the semantic_dedup_pairs oracle edges —
    the embedding-family twin of _cluster_oracle_sql: min(reachable) is the
    fixpoint the Spark pointer-jumping label propagation converges to."""
    pairs_sql = _get_registered("semantic_dedup_pairs").oracle
    return f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({pairs_sql})),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
    SELECT emb.vec_id,
           COALESCE(comp.component, emb.vec_id) AS component,
           emb.vec_id = COALESCE(comp.component, emb.vec_id) AS is_canonical
    FROM embeddings emb LEFT JOIN comp ON comp.id = emb.vec_id
    """


@query("semantic_dedup_resolution", oracle=_semantic_resolution_oracle_sql())
def semantic_dedup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SemDeDup act step for the embedding family: cluster-bucketed
    pairs (semantic_dedup_pairs, itself value-gated through the fixed-point
    k-means) resolved to components with min-id canonical keepers — the
    keep-list a training pipeline consumes. Same pointer-jumping label
    propagation / recursive-CTE-closure twin as dedup_cluster_resolution."""
    from ..operators.clustering import dedup_clusters, semantic_dedup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    pairs = semantic_dedup_pairs(e, "vec_id", "embedding", k=8, iters=2)
    return dedup_clusters(pairs, e, "vec_id")


def _pr_unrolled_sql(
    graph_cte: str,
    iters: int,
    scale: int,
    damping_pct: int,
    final_select: str = "SELECT node, pr FROM {last}",
) -> str:
    """Unrolled-CTE DuckDB twin of operators.clustering.pagerank_fixed_point
    over ANY edge set: ``graph_cte`` must define an ``edges(src, dst)``
    CTE body; the integer recurrence (floor divisions, positive values so
    trunc == floor) is appended one CTE per iteration. `//` (DuckDB) ==
    `div` (Spark) on positive BIGINTs."""
    base = f"((({100 - damping_pct}) * ({scale} // p.n)) // 100)"
    parts = [
        graph_cte
        + f""",
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    params AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    pr0 AS (SELECT node, CAST({scale} // p.n AS BIGINT) AS pr FROM nodes, params p)"""
    ]
    prev = "pr0"
    for it in range(1, iters + 1):
        parts.append(f"""
    it{it} AS (
        SELECT nodes.node,
               CAST({base} + ({damping_pct} * COALESCE(f.inflow, 0)) // 100 AS BIGINT) AS pr
        FROM nodes CROSS JOIN params p
        LEFT JOIN (
            SELECT dst, SUM(pr // outdeg) AS inflow
            FROM edges JOIN {prev} ON {prev}.node = edges.src
            JOIN outdeg USING (src)
            GROUP BY dst
        ) f ON f.dst = nodes.node
    )""")
        prev = f"it{it}"
    return "WITH " + ",".join(parts) + "\n    " + final_select.format(last=prev)


def _pagerank_oracle_sql(iters: int = 2, scale: int = 10**12, damping_pct: int = 85) -> str:
    """Generated DuckDB twin of pagerank_fixed_point over the
    customer<->supplier co-order graph (see _pr_unrolled_sql)."""
    return _pr_unrolled_sql(
        """
    pairs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
        UNION
        SELECT s * 2 + 1, c * 2 FROM pairs
    )""",
        iters,
        scale,
        damping_pct,
    )


@query("pagerank_customer_supplier", oracle=_pagerank_oracle_sql())
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the bipartite customer<->supplier co-order
    graph (both directions, so mass actually circulates), 2 power
    iterations in exact fixed-point arithmetic — graph centrality as a
    value-checked capability class next to connected components. Node
    encoding: customer = 2*custkey, supplier = 2*suppkey + 1 (disjoint id
    spaces)."""
    from ..operators.clustering import pagerank_fixed_point

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    cust = (F.col("o_custkey") * 2).cast("bigint")
    supp = (F.col("l_suppkey") * 2 + 1).cast("bigint")
    edges = pairs.select(cust.alias("src"), supp.alias("dst")).unionByName(
        pairs.select(supp.alias("src"), cust.alias("dst"))
    )
    return pagerank_fixed_point(edges, iters=2)


@query(
    "bfs_hops_from_customer",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
        UNION
        SELECT s * 2 + 1, c * 2 FROM pairs
    ),
    walk(node, hop) AS (
        SELECT CAST(2 AS BIGINT), 0
        UNION
        SELECT e.dst, w.hop + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.hop < 3
    )
    SELECT node, CAST(MIN(hop) AS INT) AS hop FROM walk GROUP BY node
    """,
)
def bfs_hops_from_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest hop distance (BFS, <= 3 hops) from customer 1 over the same
    bipartite customer<->supplier co-order graph pagerank uses — graph
    traversal as a value-checked capability next to centrality and
    components. The oracle is a recursive CTE whose UNION-dedup'd (node,
    hop) state space makes MIN(hop) the BFS distance.

    Scale: the Spark side expands only the CURRENT frontier per level
    (join + anti-join on int node keys), never re-walks settled nodes, and
    runs a constant number of rounds — per-round cost is proportional to
    the frontier's edge boundary, the shape that survives a billion-edge
    graph where a recursive CTE (the oracle's form) would not."""
    from ..operators.clustering import bfs_hop_distances

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    cust = (F.col("o_custkey") * 2).cast("bigint")
    supp = (F.col("l_suppkey") * 2 + 1).cast("bigint")
    edges = pairs.select(cust.alias("src"), supp.alias("dst")).unionByName(
        pairs.select(supp.alias("src"), cust.alias("dst"))
    )
    sources = spark.range(1).select(F.lit(2).cast("bigint").alias("node"))
    return bfs_hop_distances(edges, sources, max_hops=3)


@query("kmeans_codebook", oracle=None)
def kmeans_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means assignments (k=8, 2 rounds) — the IVF
    codebook trainer (rows-only iterative op; convergence + determinism
    pinned by tests/test_clustering.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_lite(e, "vec_id", "embedding", k=8, iters=2)
    return assigned.select("vec_id", "centroid_id")


def _cluster_keywords_oracle_sql(
    k: int = 8, iters: int = 2, dim: int = 64, scale: int = 1_000_000
) -> str:
    """Generated twin of cluster_keywords: the kmeans_fixed_point CTE
    chain, then distinct-token presence counts per cluster vs corpus and
    an exact lift score (one IEEE division of int64 products, trunc-scaled
    — no libm dependence)."""
    parts = _kmeans_cte_parts(k, iters, dim, scale)
    return (
        "WITH " + ",".join(parts) + f""",
    assign AS (SELECT vec_id, centroid_id FROM afinal),
    occ AS (
        SELECT doc_id, unnest(list_distinct({tokenize_sql('text')})) AS tok
        FROM documents
    ),
    joined AS (
        SELECT a.centroid_id, o.doc_id, o.tok
        FROM occ o JOIN assign a ON a.vec_id = o.doc_id
    ),
    ctok AS (SELECT centroid_id, tok, COUNT(*) AS c FROM joined GROUP BY 1, 2),
    csize AS (SELECT centroid_id, COUNT(DISTINCT doc_id) AS n_docs FROM joined GROUP BY 1),
    gtok AS (SELECT tok, COUNT(*) AS g FROM joined GROUP BY 1),
    tot AS (SELECT COUNT(DISTINCT doc_id) AS n_total FROM joined),
    scored AS (
        SELECT ct.centroid_id, ct.tok, ct.c,
               CAST(trunc(CAST(ct.c * t.n_total AS DOUBLE)
                          / CAST(cs.n_docs * g.g AS DOUBLE) * 1e6) AS BIGINT) AS lift_e6
        FROM ctok ct
        JOIN csize cs USING (centroid_id)
        JOIN gtok g USING (tok)
        CROSS JOIN tot t
        WHERE ct.c >= 3
    )
    SELECT centroid_id, tok, CAST(c AS BIGINT) AS c, lift_e6
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY centroid_id
                                       ORDER BY lift_e6 DESC, tok) AS rk
          FROM scored)
    WHERE rk <= 3
    """
    )


@query("cluster_keywords", oracle=_cluster_keywords_oracle_sql())
def cluster_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling — the composition showcase: fixed-point k-means
    clusters the embeddings (bit-reproducible assignments), then each
    cluster is described by its 3 most DISTINCTIVE tokens from the joined
    documents — highest lift = P(token | cluster) / P(token | corpus),
    computed as one IEEE division of exact int64 products and
    trunc-scaled (deterministic with no libm dependence), presence
    counted over distinct tokens per doc, min support 3. This is the
    human-readable face of the clustering family (SemDeDup buckets, IVF
    lists): what IS cluster 4, in words.

    Scale: the k-means rounds broadcast k centroids; the token stage is
    one distinct-explode joined to the (id, centroid) assignment — int
    keys; per-cluster top-3 windows over the tiny (cluster, token)
    aggregate."""
    from ..operators.clustering import kmeans_fixed_point
    from ..functions.text import tokenize
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    assign = kmeans_fixed_point(e, "vec_id", "embedding", k=8, iters=2).select(
        "vec_id", "centroid_id"
    )
    occ = d.select(
        "doc_id", F.explode(F.array_distinct(tokenize("text"))).alias("tok")
    )
    joined = occ.join(assign, occ.doc_id == assign.vec_id).select(
        "centroid_id", "doc_id", "tok"
    )
    ctok = joined.groupBy("centroid_id", "tok").agg(F.count("*").alias("c"))
    csize = joined.groupBy("centroid_id").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    gtok = joined.groupBy("tok").agg(F.count("*").alias("g"))
    tot = joined.agg(F.countDistinct("doc_id").alias("n_total"))
    lift = (
        (F.col("c") * F.col("n_total")).cast("double")
        / (F.col("n_docs") * F.col("g")).cast("double") * 1e6
    ).cast("bigint")
    scored = (
        ctok.filter(F.col("c") >= 3)
        .join(F.broadcast(csize), "centroid_id")
        .join(gtok.hint("shuffle_hash"), "tok")
        .crossJoin(F.broadcast(tot))
        .select("centroid_id", "tok", "c", lift.alias("lift_e6"))
    )
    w = W.partitionBy("centroid_id").orderBy(F.desc("lift_e6"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("centroid_id", "tok", F.col("c").cast("bigint").alias("c"), "lift_e6")
    )


@query(
    "search_ndcg_eval",
    oracle=f"""
    WITH tokens AS (
        SELECT doc_id, unnest({tokenize_sql('text')}) AS token FROM documents
    ), doc_len AS (
        SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY doc_id
    ), corpus AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doc_len
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tokens
        WHERE token IN ('merge', 'vector') GROUP BY doc_id, token
    ), dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ), bm25 AS (
        SELECT doc_id,
               ROUND(SUM(
                   ln((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
                   * (tf * 2.2::DOUBLE)
                   / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                                          + 0.75::DOUBLE * dl / avgdl))
               ), 6) AS bm25
        FROM tf JOIN dfreq USING (token) JOIN doc_len USING (doc_id) CROSS JOIN corpus
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT 10
    ), rel AS (
        SELECT doc_id, LEAST(CAST(SUM(tf) AS BIGINT), 3) AS rel FROM tf GROUP BY doc_id
    ), ranked AS (
        SELECT b.doc_id,
               ROW_NUMBER() OVER (ORDER BY b.bm25 DESC, b.doc_id) AS pos,
               COALESCE(r.rel, 0) AS rel
        FROM bm25 b LEFT JOIN rel r USING (doc_id)
    ), dcg AS (
        SELECT CAST(SUM(CAST(trunc(
                   CAST((1 << rel) - 1 AS DOUBLE) * ln(2.0::DOUBLE)
                   / ln(CAST(pos + 1 AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS dcg_e6
        FROM ranked
    ), ideal AS (
        SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC) AS pos
        FROM (SELECT rel FROM rel ORDER BY rel DESC LIMIT 10)
    ), idcg AS (
        SELECT CAST(SUM(CAST(trunc(
                   CAST((1 << rel) - 1 AS DOUBLE) * ln(2.0::DOUBLE)
                   / ln(CAST(pos + 1 AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS idcg_e6
        FROM ideal
    )
    SELECT dcg_e6, idcg_e6,
           CAST(trunc(CAST(dcg_e6 AS DOUBLE) / idcg_e6 * 1e6) AS BIGINT) AS ndcg_e6
    FROM dcg CROSS JOIN idcg
    """,
)
def search_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the engine's own BM25 ranking ('merge vector' query) —
    the IR-evaluation surface next to the search operators: graded
    relevance = query-term frequency capped at 3, DCG with the standard
    (2^rel - 1)/log2(pos+1) gain, IDCG from the corpus-ideal top-10
    relevance sequence. Every DCG term is trunc-scaled to int64 BEFORE
    summation (10-term double sums re-associate; int sums don't), log2
    is spelled ln(2)/ln(pos+1) so both engines make the same libm calls
    in the same order (the shared-libm discipline), and the final NDCG is
    one division of two exact ints.

    Scale: BM25 is the match-bound plan from bm25_keyword_ranking; the
    position windows run over 10-row post-LIMIT frames (the documented
    bounded-domain exception, like the k-means init windows)."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    from ..functions.text import tokenize

    ranked10 = bm25_rank(d, "doc_id", "merge vector", k=10)
    toks = d.select("doc_id", F.explode(tokenize("text")).alias("token"))
    tf = (
        toks.filter(F.col("token").isin("merge", "vector"))
        .groupBy("doc_id")
        .agg(F.least(F.sum(F.lit(1)).cast("bigint"), F.lit(3)).alias("rel"))
    )
    wpos = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    ranked = (
        ranked10.withColumn("pos", F.row_number().over(wpos))
        .join(tf, "doc_id", "left")
        .withColumn("rel", F.coalesce(F.col("rel"), F.lit(0)))
    )
    gain = (  # (2^rel - 1) for rel in 0..3, as exact integers
        F.when(F.col("rel") == 0, 0)
        .when(F.col("rel") == 1, 1)
        .when(F.col("rel") == 2, 3)
        .otherwise(7)
    )
    term = (
        gain.cast("double")
        * F.log(F.lit(2.0))
        / F.log((F.col("pos") + 1).cast("double"))
        * 1e6
    ).cast("bigint")
    dcg = ranked.agg(F.sum(term).cast("bigint").alias("dcg_e6"))
    ideal = (
        tf.orderBy(F.desc("rel")).limit(10)
        .withColumn("pos", F.row_number().over(W.orderBy(F.desc("rel"))))
    )
    idcg = ideal.agg(F.sum(term).cast("bigint").alias("idcg_e6"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            "dcg_e6",
            "idcg_e6",
            (F.col("dcg_e6").cast("double") / F.col("idcg_e6") * 1e6)
            .cast("bigint").alias("ndcg_e6"),
        )
    )


def _kcenter_oracle_sql(k: int = 5, dim: int = 64, scale: int = 1_000_000) -> str:
    """Generated DuckDB twin of operators.clustering.kcenter_greedy: the
    quantize CTE, then k-1 unrolled (argmax, min-update) rounds — every
    value exact int64, so the whole greedy selection is bit-reproducible
    (the kmeans_fixed_point oracle pattern applied to a different
    iterative algorithm)."""

    def sq(a: str, b: str) -> str:
        return (
            f"CAST(list_sum(list_transform(range({dim}), "
            f"i -> ({a}.qv[i+1] - {b}.cv[i+1]) * ({a}.qv[i+1] - {b}.cv[i+1])))"
            " AS BIGINT)"
        )

    parts = [
        f"""q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   v -> CAST(trunc(CAST(v AS DOUBLE) * {scale}) AS BIGINT)) AS qv
        FROM embeddings
    )""",
        "c1 AS (SELECT vec_id AS cid, qv AS cv FROM q ORDER BY vec_id LIMIT 1)",
        f"d1 AS (SELECT q.vec_id, q.qv, {sq('q', 'c1')} AS md FROM q CROSS JOIN c1)",
    ]
    for s in range(2, k + 1):
        parts.append(
            f"c{s} AS (SELECT vec_id AS cid, qv AS cv, md FROM d{s-1} "
            f"ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if s < k:
            parts.append(
                f"d{s} AS (SELECT d.vec_id, d.qv, LEAST(d.md, {sq('d', f'c{s}')}) AS md "
                f"FROM d{s-1} d CROSS JOIN c{s})"
            )
    selects = [
        "SELECT 1 AS sel_order, cid AS center_id, CAST(NULL AS BIGINT) AS radius_sq FROM c1"
    ] + [
        f"SELECT {s}, cid, md FROM c{s}" for s in range(2, k + 1)
    ]
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


@query("kcenter_coreset", oracle=_kcenter_oracle_sql())
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-Center-Greedy coreset over the embeddings (k=5): the diversity-
    maximizing data-subset selection baseline — each pick is the vector
    farthest from everything already chosen, and the emitted radius
    sequence is the coverage guarantee (non-increasing; the classic
    2-approximation of the k-center optimum). Third member of the
    iterative-algorithm family under the exact-int value gate, next to
    fixed-point k-means and PageRank."""
    from ..operators.clustering import kcenter_greedy

    e = load_table(spark, sf_dir, "embeddings")
    return kcenter_greedy(e, "vec_id", "embedding", k=5)


_BM25_TOP10_CTES = f"""
    tokens AS (
        SELECT doc_id, unnest({tokenize_sql('text')}) AS token FROM documents
    ), doc_len AS (
        SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY doc_id
    ), corpus AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doc_len
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tokens
        WHERE token IN ('merge', 'vector') GROUP BY doc_id, token
    ), dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ), bm25top AS (
        SELECT doc_id,
               ROUND(SUM(
                   ln((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
                   * (tf * 2.2::DOUBLE)
                   / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                                          + 0.75::DOUBLE * dl / avgdl))
               ), 6) AS bm25
        FROM tf JOIN dfreq USING (token) JOIN doc_len USING (doc_id) CROSS JOIN corpus
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT 10
    )"""


def _mmr_oracle_sql(k: int = 5) -> str:
    """Generated twin of mmr_diverse_rerank: the BM25 top-10 CTE, the
    10x10 pairwise token-Jaccard (bounded by the candidate count), then
    k-1 unrolled greedy rounds. All scores integer: rel_e6 from the
    rounded bm25, sim_e6 trunc-scaled, MMR = 7*rel - 3*maxsim (lambda=0.7
    scaled by 10)."""
    sel_union = lambda n: " UNION ALL ".join(  # noqa: E731
        f"SELECT doc_id FROM s{j}" for j in range(1, n + 1)
    )
    parts = [
        _BM25_TOP10_CTES.strip(),
        f"""cand AS (
        SELECT b.doc_id, CAST(b.bm25 * 1e6 AS BIGINT) AS rel_e6,
               list_distinct({tokenize_sql('d.text')}) AS tk
        FROM bm25top b JOIN documents d ON d.doc_id = b.doc_id
    )""",
        """sim AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb,
               CAST(trunc(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.tk, b.tk))) * 1e6) AS BIGINT) AS sim_e6
        FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
    )""",
        """s1 AS (
        SELECT doc_id, CAST(7 * rel_e6 AS BIGINT) AS score
        FROM cand ORDER BY rel_e6 DESC, doc_id LIMIT 1
    )""",
    ]
    for j in range(2, k + 1):
        parts.append(f"""s{j} AS (
        SELECT c.doc_id,
               CAST(7 * c.rel_e6 - 3 * MAX(s.sim_e6) AS BIGINT) AS score
        FROM cand c JOIN sim s
          ON s.ida = c.doc_id AND s.idb IN ({sel_union(j - 1)})
        WHERE c.doc_id NOT IN ({sel_union(j - 1)})
        GROUP BY c.doc_id, c.rel_e6
        ORDER BY score DESC, c.doc_id LIMIT 1
    )""")
    selects = " UNION ALL ".join(
        f"SELECT {j} AS sel_order, doc_id, score FROM s{j}" for j in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + selects


@query("mmr_diverse_rerank", oracle=_mmr_oracle_sql())
def mmr_diverse_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein 1998)
    of the BM25 top-10: greedily pick the candidate maximizing
    lambda*relevance - (1-lambda)*max-similarity-to-selected (lambda=0.7,
    similarity = token-set Jaccard) — the retrieval-diversity operator
    that keeps a result page from being ten near-copies, sitting next to
    search_ndcg_eval on the IR-quality surface. All arithmetic integer
    (rel from the rounded bm25, sim trunc-scaled, MMR = 7*rel - 3*maxsim)
    so the greedy selections are bit-reproducible with an unrolled-CTE
    oracle.

    Scale: candidate generation is the match-bound BM25 plan; everything
    after operates on the k-bounded candidate frame (10 rows) — the
    pairwise sim join and per-round argmaxes are bounded by the REQUESTED
    page size, never the corpus (the kcenter_greedy loop shape on a
    parameter-sized frame)."""
    from pyspark.sql import Window as W  # noqa: F401

    from ..functions.text import tokenize
    from ..operators.dedup import jaccard_arrays

    d = load_table(spark, sf_dir, "documents")
    top = bm25_rank(d, "doc_id", "merge vector", k=10)
    cand = (
        top.join(d.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            (F.col("bm25") * 1e6).cast("bigint").alias("rel_e6"),
            F.array_distinct(tokenize("text")).alias("tk"),
        )
        .localCheckpoint()
    )
    a = cand.select(F.col("doc_id").alias("ida"), F.col("tk").alias("ta"))
    b = cand.select(F.col("doc_id").alias("idb"), F.col("tk").alias("tb"))
    sim = (
        a.join(b, F.col("ida") != F.col("idb"))
        .select(
            "ida", "idb",
            (jaccard_arrays(F.col("ta"), F.col("tb")) * 1e6)
            .cast("bigint").alias("sim_e6"),
        )
        .localCheckpoint()
    )
    first = (
        cand.orderBy(F.desc("rel_e6"), F.asc("doc_id")).limit(1)
        .select(
            F.lit(1).cast("int").alias("sel_order"),
            "doc_id",
            (F.lit(7) * F.col("rel_e6")).cast("bigint").alias("score"),
        )
        .localCheckpoint()
    )
    picked = [first]
    selected = first.select("doc_id")
    k = 5
    for step in range(2, k + 1):
        nxt = (
            cand.join(selected, "doc_id", "left_anti")
            .join(sim, cand.doc_id == sim.ida)
            .join(selected.withColumnRenamed("doc_id", "idb"), "idb")
            .groupBy(cand.doc_id, "rel_e6")
            .agg(F.max("sim_e6").alias("ms"))
            .select(
                "doc_id",
                (F.lit(7) * F.col("rel_e6") - F.lit(3) * F.col("ms"))
                .cast("bigint").alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(1)
            .select(F.lit(step).cast("int").alias("sel_order"), "doc_id", "score")
            .localCheckpoint()
        )
        picked.append(nxt)
        selected = selected.unionByName(nxt.select("doc_id")).localCheckpoint()
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out


@query(
    "phrase_search_positional",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts({tokenize_sql('text')}, 1) - 1 AS pos,
               unnest({tokenize_sql('text')}) AS token
        FROM documents
    )
    SELECT a.doc_id, COUNT(*) AS n_occurrences
    FROM toks a
    JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.token = 'merge' AND b.token = 'vector'
    GROUP BY a.doc_id
    """,
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase query "merge vector" (the bm25 query's terms, now
    order- and adjacency-sensitive): positional postings filtered per
    token, then an equi-join on (doc, pos+1) — the quoted-phrase semantic
    of Mongo $text (reference api.py:22-26) that plain token-overlap
    search cannot express. Returns each matching document with its match
    count (operators/search.py:phrase_search)."""
    from ..operators.search import phrase_search

    d = load_table(spark, sf_dir, "documents")
    return phrase_search(d, "doc_id", "merge vector")


from .similarity_queries import _DOT_SQL as _DENSE_DOT_SQL


@query(
    "hybrid_search_rrf",
    oracle=f"""
    WITH bm AS (SELECT * FROM ({_bm25_oracle(50)})),
    bm_rank AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
                   AS bm25_rank
        FROM bm
    ), q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    dn AS (
        SELECT vec_id,
               ROUND({_DENSE_DOT_SQL.format(a='embedding', b='qvec')}
                     / (sqrt({_DENSE_DOT_SQL.format(a='embedding', b='embedding')})
                        * sqrt({_DENSE_DOT_SQL.format(a='qvec', b='qvec')})), 6)
                   AS cosine
        FROM embeddings, q
        WHERE vec_id <> 0
        ORDER BY cosine DESC, vec_id
        LIMIT 50
    ), dn_rank AS (
        SELECT vec_id AS doc_id,
               CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT)
                   AS cos_rank
        FROM dn
    )
    SELECT COALESCE(b.doc_id, d.doc_id) AS doc_id,
           b.bm25_rank, d.cos_rank,
           COALESCE(CAST(FLOOR(1000000.0 / (60 + b.bm25_rank)) AS BIGINT), 0)
         + COALESCE(CAST(FLOOR(1000000.0 / (60 + d.cos_rank)) AS BIGINT), 0)
               AS rrf_e6
    FROM bm_rank b FULL OUTER JOIN dn_rank d ON d.doc_id = b.doc_id
    ORDER BY rrf_e6 DESC, doc_id
    LIMIT 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al., SIGIR
    2009; k=60) of the sparse BM25 arm (query "merge vector" over
    documents) and the dense cosine arm (query vec_id=0 over embeddings —
    doc_id and vec_id share the 0..N id domain, i.e. each document's
    embedding). RRF contribution floor(1e6/(60+rank)) is exact in int64,
    so fusion is bit-comparable; a doc missing from one arm's top-50
    contributes 0 from that arm (its rank column stays NULL — surfaced,
    not hidden).

    Scale: each arm is its existing top-k plan (BM25: filtered posting
    explode + broadcast stats; dense: broadcast query row +
    TakeOrderedAndProject — at scale the ANN store replaces it, cf.
    ann_topk_lsh_from_store). Fusion itself touches two <=50-row frames:
    the rank windows are post-LIMIT tiny frames (the audited-window
    convention) and the full-outer join is KB-sized regardless of corpus
    volume."""
    d = load_table(spark, sf_dir, "documents")
    sparse = bm25_rank(d, "doc_id", "merge vector", k=50)
    return _rrf_fuse_with_dense_arm(spark, sf_dir, sparse)


def _rrf_fuse_with_dense_arm(
    spark: SparkSession, sf_dir: str, sparse: DataFrame
) -> DataFrame:
    """Shared RRF fusion: rank the given sparse top-50 frame, run the
    dense cosine arm (query vec_id=0, exact top-50), and fuse with
    floor(1e6/(60+rank)) contributions — one body for both the
    self-contained and the L2-store-backed hybrid queries, so their
    shared oracle has one source of truth Spark-side too."""
    sparse_r = sparse.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("int")
        .alias("bm25_rank"),
    )
    e = load_table(spark, sf_dir, "embeddings")
    qdf = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("__qvec"))
    dense = cosine_topk(e.filter(F.col("vec_id") != 0), qdf, "vec_id", "embedding", k=50)
    dense_r = dense.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(W.orderBy(F.desc("cosine"), F.asc("vec_id")))
        .cast("int")
        .alias("cos_rank"),
    )
    fused = sparse_r.join(dense_r, "doc_id", "full_outer")
    contrib = lambda c: F.coalesce(  # noqa: E731
        F.floor(F.lit(1000000.0) / (60 + F.col(c))).cast("bigint"), F.lit(0).cast("bigint")
    )
    return (
        fused.select(
            "doc_id",
            "bm25_rank",
            "cos_rank",
            (contrib("bm25_rank") + contrib("cos_rank")).alias("rrf_e6"),
        )
        .orderBy(F.desc("rrf_e6"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "hybrid_search_rrf_from_store",
    # the self-contained twin's oracle verbatim: the L2 layout caches the
    # deterministic tokenize/tf/dl ingest work, so the result sets are
    # identical
    oracle=_get_registered("hybrid_search_rrf").oracle,
)
def hybrid_search_rrf_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`hybrid_search_rrf` with its sparse arm riding the persisted L2
    BM25 posting layout (stores.py:ensure_bm25_index_store; VERDICT r7
    #3): the self-contained twin's two scoring arms re-derive
    tokenize-dependent stats — 14 scans in the expanded plan — purely as
    an ingest regression guard, while this path is the deployment shape:
    candidate generation is the pruned index probe (`PartitionFilters` on
    the token bucket, `EqualTo(token, ...)` pushed to the scan), tf/dl
    ride the probed rows, and (n_docs, avgdl) derive from the layout's rows
    once per file set, so the sparse arm never touches the corpus. The dense arm stays the
    exact brute-force top-50 (at 100 TB the ANN store replaces it, cf.
    `ivf_topk_from_store`); fusion is the shared <=50-row full-outer
    join. Same oracle as `hybrid_search_rrf`: BM25 scores off the layout
    are bit-identical (same formula, same doubles —
    `bm25_keyword_indexed` pins this equivalence at k=10)."""
    from ..operators.search import bm25_rank_from_index
    from ..stores import ensure_bm25_index_store

    path = ensure_bm25_index_store(spark, sf_dir)
    sparse = bm25_rank_from_index(spark, path, "merge vector", key_col="doc_id", k=50)
    return _rrf_fuse_with_dense_arm(spark, sf_dir, sparse)


@query(
    "mrr_retrieval_eval",
    oracle=f"""
    WITH qterms AS (
        SELECT unnest(['merge', 'vector', 'scan', 'filter', 'window']) AS qterm
    ), toks AS (
        SELECT doc_id, unnest({tokenize_sql('text')}) AS token FROM documents
    ), tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, token
    ), marker AS (
        SELECT DISTINCT doc_id FROM toks WHERE token = 'table'
    ), ranked AS (
        SELECT q.qterm, t.doc_id,
               ROW_NUMBER() OVER (PARTITION BY q.qterm
                                  ORDER BY t.tf DESC, t.doc_id) AS pos,
               CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
        FROM qterms q
        JOIN tf t ON t.token = q.qterm
        LEFT JOIN marker m ON m.doc_id = t.doc_id
    )
    SELECT qterm,
           CAST(MIN(CASE WHEN rel = 1 THEN pos END) AS BIGINT) AS first_rel,
           CAST(COALESCE(1000000 // MIN(CASE WHEN rel = 1 THEN pos END), 0)
                AS BIGINT) AS rr_e6
    FROM ranked WHERE pos <= 10
    GROUP BY qterm ORDER BY qterm
    """,
)
def mrr_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank retrieval eval (the MRR companion to
    search_ndcg_eval's graded view): five single-term queries rank their
    matching docs by term frequency, relevance is possession of an
    independent marker term, and each query reports the rank of its
    first relevant hit in the top-10 plus the reciprocal-rank
    contribution 1e6 DIV rank (0 when no relevant doc surfaces) — sum
    over the per-query rows and divide by 5 for MRR, both exact ints.

    Scale: term frequencies aggregate once for the whole corpus (the
    same tf frame every retrieval eval here shares), the five query
    rankings are windows partitioned by query term over match-bound
    candidate lists, and relevance is a broadcast semi-join against the
    marker-doc set. Ranking by integer tf with doc_id ties makes every
    position exactly deterministic — no float scores anywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokenize("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    marker = (
        toks.filter(F.col("token") == "table").select("doc_id").distinct()
        .withColumn("rel", F.lit(1))
    )
    qterms = spark.createDataFrame(
        [("merge",), ("vector",), ("scan",), ("filter",), ("window",)],
        "qterm string",
    )
    ranked = (
        tf.join(F.broadcast(qterms), tf.token == F.col("qterm"))
        .join(F.broadcast(marker), "doc_id", "left")
        .withColumn(
            "pos",
            F.row_number().over(
                W.partitionBy("qterm").orderBy(F.desc("tf"), F.asc("doc_id"))
            ),
        )
        .filter(F.col("pos") <= 10)
    )
    return (
        ranked.groupBy("qterm")
        .agg(
            F.min(F.when(F.col("rel") == 1, F.col("pos")))
            .cast("bigint")
            .alias("first_rel"),
            F.expr(
                "CAST(COALESCE(1000000 DIV MIN(CASE WHEN rel = 1 THEN pos END),"
                " 0) AS BIGINT)"
            ).alias("rr_e6"),
        )
        .orderBy("qterm")
    )


def _textrank_oracle_sql(iters: int = 2, scale: int = 10**12, damping_pct: int = 85) -> str:
    """Generated DuckDB twin of textrank_keywords: the same unrolled
    pagerank recurrence (_pr_unrolled_sql) over the adjacent-token
    co-occurrence graph, top-25 by (pr DESC, keyword)."""
    from ..functions.text import tokenize_sql

    graph = f"""
    seqs AS (SELECT {tokenize_sql('text')} AS toks FROM documents),
    adj AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM seqs, unnest(range(1, greatest(len(toks), 1))) t(i)
        WHERE length(toks[i]) >= 4 AND length(toks[i + 1]) >= 4
          AND toks[i] <> toks[i + 1]
    ),
    edges AS (
        SELECT w1 AS src, w2 AS dst FROM adj
        UNION
        SELECT w2, w1 FROM adj
    )"""
    return _pr_unrolled_sql(
        graph,
        iters,
        scale,
        damping_pct,
        final_select=(
            "SELECT node AS keyword, pr FROM {last} "
            "ORDER BY pr DESC, keyword LIMIT 25"
        ),
    )


@query("textrank_keywords", oracle=_textrank_oracle_sql())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    the word co-occurrence graph — nodes are content words (length >= 4),
    undirected edges link adjacent tokens, and the stationary score ranks
    corpus keywords. The graph-centrality counterpart of the frequency-
    based term_frequencies and degree-based rake_keyphrases extractors:
    TextRank rewards words that co-occur with OTHER well-connected words,
    not merely frequent ones.

    Exactness: reuses pagerank_fixed_point's integer recurrence (scale
    10^12 mass, floor divisions) so the 2-iteration scores are
    bit-identical to the unrolled-CTE oracle; adjacency comes from
    zipping each token array with its tail (arrays_zip of two slices —
    pure codegen, no explode-self-join).

    Scale: the edge list is DISTINCT adjacent content-word pairs —
    vocabulary-bigram sized, sublinear in corpus volume; each iteration is
    one equi-join + hash agg on word keys exactly like the entity
    pagerank; top-25 is TakeOrderedAndProject."""
    from ..operators.clustering import pagerank_fixed_point

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokenize("text").alias("toks")).filter(F.size("toks") >= 2)
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, F.size("toks") - 1).alias("w1"),
                F.slice("toks", 2, F.size("toks") - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    adj = pairs.filter(
        (F.length("w1") >= 4) & (F.length("w2") >= 4) & (F.col("w1") != F.col("w2"))
    )
    # canonicalize BEFORE the distinct so the corpus-scale explode feeds ONE
    # partial-aggregated shuffle; the undirected mirror then runs over the
    # vocabulary-bigram-sized canonical frame, not the corpus (first sweep:
    # the union's two branches each recomputed the explode — 2x the scan)
    canon = adj.select(
        F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
    ).distinct()
    edges = canon.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    pr = pagerank_fixed_point(edges, iters=2)
    return (
        pr.select(F.col("node").alias("keyword"), "pr")
        .orderBy(F.desc("pr"), F.asc("keyword"))
        .limit(25)
    )


# RBO depth weights, precomputed ONCE in Python and embedded as literals in
# BOTH engines (no cross-engine float pow): w_e8 = round(1e8 * (1-p) *
# p^(d-1)) at p = 0.9, and m = lcm(1..10)/d = 2520/d so every agreement
# fraction overlap/d becomes the exact integer overlap * m.
_RBO_WEIGHTS = [
    (1, 10000000, 2520),
    (2, 9000000, 1260),
    (3, 8100000, 840),
    (4, 7290000, 630),
    (5, 6561000, 504),
    (6, 5904900, 420),
    (7, 5314410, 360),
    (8, 4782969, 315),
    (9, 4304672, 280),
    (10, 3874205, 252),
]

_RBO_VALUES_SQL = ", ".join(f"({d}, {w}, {m})" for d, w, m in _RBO_WEIGHTS)


@query(
    "rbo_rank_agreement",
    oracle=f"""
    WITH w(depth, w_e8, m) AS (VALUES {_RBO_VALUES_SQL}),
    tokens AS (
        SELECT doc_id, unnest({tokenize_sql('text')}) AS token FROM documents
    ), doc_len AS (
        SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY doc_id
    ), corpus AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doc_len
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tokens
        WHERE token IN ('merge', 'vector') GROUP BY doc_id, token
    ), dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ), bm AS (
        SELECT doc_id,
               ROUND(SUM(
                   ln((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
                   * (tf * 2.2::DOUBLE)
                   / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                                          + 0.75::DOUBLE * dl / avgdl))
               ), 6) AS s
        FROM tf JOIN dfreq USING (token) JOIN doc_len USING (doc_id) CROSS JOIN corpus
        GROUP BY doc_id ORDER BY s DESC, doc_id LIMIT 10
    ), ti AS (
        SELECT tf.doc_id AS doc_id,
               ROUND(SUM((CAST(tf.tf AS DOUBLE) / doc_len.dl)
                   * (ln((1.0::DOUBLE + corpus.n_docs) / (1 + dfreq.df))
                      + 1.0::DOUBLE)), 6) AS s
        FROM tf JOIN dfreq USING (token)
                JOIN doc_len ON tf.doc_id = doc_len.doc_id, corpus
        GROUP BY tf.doc_id ORDER BY s DESC, tf.doc_id LIMIT 10
    ), a AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r FROM bm
    ), b AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r FROM ti
    ), ov AS (
        SELECT w.depth, COUNT(b.doc_id) AS overlap
        FROM w LEFT JOIN a ON a.r <= w.depth
               LEFT JOIN b ON b.doc_id = a.doc_id AND b.r <= w.depth
        GROUP BY w.depth
    )
    SELECT CAST(w.depth AS BIGINT) AS depth,
           CAST(ov.overlap AS BIGINT) AS overlap,
           CAST(ov.overlap * w.m AS BIGINT) AS agreement_x2520,
           CAST(SUM(w.w_e8 * ov.overlap * w.m)
                OVER (ORDER BY w.depth) AS BIGINT) AS rbo_cum_e8x2520
    FROM w JOIN ov USING (depth)
    ORDER BY depth
    """,
)
def rbo_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al., TOIS 2010) between the BM25 and
    TF-IDF top-10 rankings of the SAME two-term query — the ranker-
    agreement meta-eval that complements the against-ground-truth metrics
    (search_ndcg_eval, mrr_retrieval_eval): per depth d, the prefix
    overlap |A_d ∩ B_d|, the agreement overlap/d, and the truncated
    top-weighted RBO partial sum Σ (1-p)·p^(d-1)·overlap/d at p=0.9.

    Exactness: the depth weights and the lcm(1..10)=2520 denominators are
    Python-precomputed integer literals embedded in BOTH engines, so every
    output column is pure int64 — no cross-engine pow()/division drift;
    both rankers order by their ROUND(score, 6) with doc_id tie-break (the
    same deterministic contract their own oracles certify).

    Scale: the two ranking arms are the match-bounded bm25_rank /
    tfidf_rank plans; everything after them operates on two 10-row frames
    joined against a 10-row literal spine (broadcast nested-loop on
    <=100 rows) — the post-LIMIT global windows are benign (10 rows, the
    documented search_ndcg_eval idiom)."""
    from ..operators.search import tfidf_rank

    d = load_table(spark, sf_dir, "documents")
    bm = bm25_rank(d, "doc_id", "merge vector", k=10)
    ti = tfidf_rank(d, "doc_id", "merge vector", k=10)
    a = bm.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("a_r"),
    )
    b = ti.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("tfidf"), F.asc("doc_id")))
        .alias("b_r"),
    )
    pairs = a.join(b, "doc_id")
    weights = spark.createDataFrame(_RBO_WEIGHTS, "depth long, w_e8 long, m long")
    ov = (
        weights.join(
            pairs,
            (F.col("a_r") <= F.col("depth")) & (F.col("b_r") <= F.col("depth")),
            "left",
        )
        .groupBy("depth", "w_e8", "m")
        .agg(F.count("doc_id").alias("overlap"))
    )
    return (
        ov.select(
            F.col("depth").cast("bigint").alias("depth"),
            F.col("overlap").cast("bigint").alias("overlap"),
            (F.col("overlap") * F.col("m")).cast("bigint").alias("agreement_x2520"),
            F.sum(F.col("w_e8") * F.col("overlap") * F.col("m"))
            .over(W.orderBy("depth"))
            .cast("bigint")
            .alias("rbo_cum_e8x2520"),
        )
        .orderBy("depth")
    )


def _dbscan_oracle_sql(
    eps: int = 15_000, min_pts: int = 4, scale: int = 1_000_000, shift: int = 2_000_000
) -> str:
    """All-pairs twin of the grid-bucketed DBSCAN: exact int64 neighbor
    pairs, core test, recursive-CTE min-label closure over the core-core
    graph, border attach by min cluster. The grid bucketing on the Spark
    side is a pure candidate-pruning device — any point within eps lies in
    the 3x3 cell neighborhood — so the two plans compute identical sets."""
    return f"""
    WITH RECURSIVE q AS (
        SELECT vec_id AS id,
               CAST(trunc(CAST(embedding[1] AS DOUBLE) * {scale}) AS BIGINT)
                   + {shift} AS x,
               CAST(trunc(CAST(embedding[2] AS DOUBLE) * {scale}) AS BIGINT)
                   + {shift} AS y
        FROM embeddings
    ),
    nbrs AS (
        SELECT a.id AS id, b.id AS b_id
        FROM q a JOIN q b
          ON a.id <> b.id
         AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             <= {eps * eps}
    ),
    cores AS (
        SELECT id FROM nbrs GROUP BY id HAVING COUNT(*) >= {min_pts - 1}
    ),
    core_edges AS (
        SELECT n.id AS src, n.b_id AS dst
        FROM nbrs n
        JOIN cores c1 ON c1.id = n.id
        JOIN cores c2 ON c2.id = n.b_id
    ),
    reach(id, r) AS (
        SELECT id, id FROM cores
        UNION
        SELECT e.dst, reach.r FROM core_edges e JOIN reach ON e.src = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
    SELECT c.id AS vec_id, comp.cluster, 'core' AS role
    FROM cores c JOIN comp ON comp.id = c.id
    UNION ALL
    SELECT n.id AS vec_id, MIN(comp.cluster) AS cluster, 'border' AS role
    FROM nbrs n
    JOIN cores cb ON cb.id = n.b_id
    JOIN comp ON comp.id = n.b_id
    WHERE n.id NOT IN (SELECT id FROM cores)
    GROUP BY n.id
    """


@query("dbscan_grid_clusters", oracle=_dbscan_oracle_sql())
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996) of the
    embedding table's first two dimensions: eps=0.015 (15,000 in the
    trunc-1e6 fixed-point frame), min_pts=4, clusters labelled by their
    min member id, border points attached to their smallest neighboring
    cluster, noise dropped. The density family the engine's k-means /
    k-center / SemDeDup ops don't cover — DBSCAN finds arbitrary-shape
    clusters and isolates outliers without fixing k, which is how a
    training-data pipeline segments an embedding space whose cluster
    count is unknown (topic discovery, outlier triage before sampling).

    Spark plan: grid-bucketed neighbor generation (each point probes its
    3x3 eps-cell neighborhood — an equi-join on the int cell key, never
    all-pairs), exact int64 distance verify, degree count, then the
    pointer-jumping connected-components loop over the core-core edges
    (log-diameter rounds of id-keyed joins). The DuckDB oracle replays the
    same integer semantics with an all-pairs theta join + recursive-CTE
    closure — tractable at oracle scale, which is exactly why the oracle
    side may be naive while the engine side must bucket."""
    from ..operators.clustering import dbscan_grid

    e = load_table(spark, sf_dir, "embeddings")
    return dbscan_grid(e, "vec_id", "embedding", eps=15_000, min_pts=4)


def _bt_oracle(rounds: int = 6) -> str:
    """Unrolled-CTE DuckDB twin of bradley_terry_strengths — the exact
    int64 fixed-point discipline (pca/kmeans/HITS): strengths live as
    e6-scaled int64, each MM denominator term is an integer division of a
    1e12-scaled count by the pair's strength sum, and each round
    renormalizes to mean 1e6 with integer arithmetic — both engines walk
    identical bits for any fixed round count."""
    parts = [
        f"""q AS MATERIALIZED (
        SELECT doc_id, source,
               (1000000 * len(list_distinct(toks))) // len(toks) AS qual
        FROM (SELECT doc_id, source, {tokenize_sql('text')} AS toks
              FROM documents)
        WHERE len(toks) > 0)""",
        """comp AS (
        SELECT CASE WHEN a.qual > b.qual THEN a.source ELSE b.source END AS win_s,
               CASE WHEN a.qual > b.qual THEN b.source ELSE a.source END AS lose_s
        FROM q a JOIN q b ON b.doc_id = a.doc_id + 1
        WHERE a.source <> b.source AND a.qual <> b.qual)""",
        """dirs AS (
        SELECT win_s AS i, lose_s AS j, CAST(COUNT(*) AS BIGINT) AS w
        FROM comp GROUP BY 1, 2)""",
        """sym AS MATERIALIZED (
        SELECT i, j, CAST(SUM(n) AS BIGINT) AS n FROM (
            SELECT i, j, w AS n FROM dirs
            UNION ALL SELECT j, i, w FROM dirs
        ) GROUP BY i, j)""",
        """wins AS MATERIALIZED (SELECT i, CAST(SUM(w) AS BIGINT) AS w FROM dirs GROUP BY i)""",
        """items AS (SELECT DISTINCT i FROM sym)""",
        """nitems AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM items)""",
        """s0 AS MATERIALIZED (SELECT i, CAST(1000000 AS BIGINT) AS s FROM items)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
        SELECT sym.i,
               CAST(SUM((sym.n * 1000000000000)
                        // greatest(si.s + sj.s, 1)) AS BIGINT) AS den
        FROM sym
        JOIN s{r - 1} si ON si.i = sym.i
        JOIN s{r - 1} sj ON sj.i = sym.j
        GROUP BY sym.i)"""
        )
        parts.append(
            f"""r{r} AS MATERIALIZED (
        SELECT d{r}.i,
               CAST((COALESCE(w.w, 0) * 1000000000000)
                    // greatest(d{r}.den, 1) AS BIGINT) AS s
        FROM d{r} LEFT JOIN wins w ON w.i = d{r}.i)"""
        )
        parts.append(
            f"""t{r} AS (SELECT CAST(SUM(s) AS BIGINT) AS tot FROM r{r})"""
        )
        parts.append(
            f"""s{r} AS MATERIALIZED (
        SELECT i, CAST((s * nn * 1000000) // greatest(tot, 1) AS BIGINT) AS s
        FROM r{r}, t{r}, nitems)"""
        )
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT s{rounds}.i AS source,
           s{rounds}.s AS strength_e6,
           COALESCE(w.w, 0) AS wins,
           nc.n AS n_comparisons
    FROM s{rounds}
    LEFT JOIN wins w ON w.i = s{rounds}.i
    JOIN (SELECT i, CAST(SUM(n) AS BIGINT) AS n FROM sym GROUP BY i) nc
      ON nc.i = s{rounds}.i
    """
    )


@query("bradley_terry_strengths", oracle=_bt_oracle())
def bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference strengths — the pairwise-comparison model
    behind RLHF reward-data curation and LLM-judged eval leaderboards
    (Chatbot-Arena-style): given head-to-head outcomes, fit one strength
    per item such that P(i beats j) = s_i / (s_i + s_j), via Hunter's MM
    update s_i <- w_i / sum_j n_ij / (s_i + s_j), 6 fixed rounds,
    renormalized to mean 1e6 each round. Items are SOURCES; comparisons
    are deterministic quality duels between adjacent-id documents of
    different sources (winner = higher exact type-token ratio, ties
    skipped) — the synthetic stand-in for human/judge preference pairs.
    One row per source: fitted strength (e6), raw wins, comparisons.

    Fixed-point discipline (pca/kmeans/HITS): strengths are e6 int64;
    each denominator term is (n_ij * 1e12) DIV max(s_i + s_j, 1); the
    update is (w_i * 1e12) DIV denom; renormalization is
    (s * N * 1e6) DIV total — all exact integer ops, so both engines
    walk identical bits at any fixed round count. Zero-win items fix at
    0 (the MM boundary solution), division guards make that safe.

    Scale: the corpus reduces ONCE to the (i, j, n) pair-count matrix
    (at most |sources|^2 rows — dimension-sized) plus per-item win
    totals; each MM round is a join + agg over that matrix,
    localCheckpoint'd like every fixed-point loop in the engine. Int64
    headroom: w * 1e12 needs w < 9.2e6 comparisons per item — a 100 TB
    run pre-normalizes n_ij by a corpus-level scale first (noted, not
    needed at any tested SF)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    q = (
        d.select(
            "doc_id",
            "source",
            F.size(toks).cast("bigint").alias("n_tok"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_types"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn("qual", F.expr("(1000000 * n_types) div n_tok"))
        .select("doc_id", "source", "qual")
    )
    a = q.select(
        F.col("doc_id").alias("__ida"),
        F.col("source").alias("__sa"),
        F.col("qual").alias("__qa"),
    )
    b = q.select(
        F.col("doc_id").alias("__idb"),
        F.col("source").alias("__sb"),
        F.col("qual").alias("__qb"),
    )
    comp = (
        a.join(b, F.col("__idb") == F.col("__ida") + 1)
        .filter((F.col("__sa") != F.col("__sb")) & (F.col("__qa") != F.col("__qb")))
        .select(
            F.when(F.col("__qa") > F.col("__qb"), F.col("__sa"))
            .otherwise(F.col("__sb"))
            .alias("i"),
            F.when(F.col("__qa") > F.col("__qb"), F.col("__sb"))
            .otherwise(F.col("__sa"))
            .alias("j"),
        )
    )
    dirs = comp.groupBy("i", "j").agg(F.count("*").cast("bigint").alias("w"))
    sym = (
        dirs.select("i", "j", F.col("w").alias("n"))
        .unionAll(dirs.select(F.col("j").alias("i"), F.col("i").alias("j"), F.col("w").alias("n")))
        .groupBy("i", "j")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .localCheckpoint()
    )
    wins = dirs.groupBy("i").agg(F.sum("w").cast("bigint").alias("w")).localCheckpoint()
    n_items = sym.select("i").distinct().count()
    s = sym.select("i").distinct().withColumn("s", F.lit(1_000_000).cast("bigint"))
    for _ in range(6):
        den = (
            sym.join(s.select(F.col("i"), F.col("s").alias("__si")), "i")
            .join(
                s.select(F.col("i").alias("j"), F.col("s").alias("__sj")), "j"
            )
            .withColumn(
                "__term",
                F.expr("(n * 1000000000000) div greatest(__si + __sj, 1)"),
            )
            .groupBy("i")
            .agg(F.sum("__term").cast("bigint").alias("den"))
        )
        raw = (
            den.join(wins, "i", "left")
            .withColumn(
                "s",
                F.expr(
                    "CAST((COALESCE(w, 0) * 1000000000000)"
                    " div greatest(den, 1) AS BIGINT)"
                ),
            )
            .select("i", "s")
        )
        tot = raw.agg(F.sum("s").cast("bigint").alias("__tot"))
        s = (
            raw.crossJoin(F.broadcast(tot))
            .select(
                "i",
                F.expr(
                    f"CAST((s * {n_items} * 1000000)"
                    " div greatest(__tot, 1) AS BIGINT)"
                ).alias("s"),
            )
            .localCheckpoint()
        )
    ncomp = sym.groupBy("i").agg(F.sum("n").cast("bigint").alias("n_comparisons"))
    return (
        s.join(wins, "i", "left")
        .join(ncomp, "i")
        .select(
            F.col("i").alias("source"),
            F.col("s").alias("strength_e6"),
            F.coalesce("w", F.lit(0)).cast("bigint").alias("wins"),
            "n_comparisons",
        )
    )


@query(
    "dpo_pair_construction",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, source, lang, n_chars,
               (1000000 * len(list_distinct(toks))) // len(toks) AS qual
        FROM (SELECT doc_id, source, lang, n_chars,
                     {tokenize_sql('text')} AS toks
              FROM documents)
        WHERE len(toks) > 0
    ), ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY source, lang
                                  ORDER BY qual DESC, doc_id ASC) AS rk_top,
               ROW_NUMBER() OVER (PARTITION BY source, lang
                                  ORDER BY qual ASC, doc_id DESC) AS rk_bot,
               COUNT(*) OVER (PARTITION BY source, lang) AS n_pool
        FROM q
    )
    SELECT t.source, t.lang, CAST(t.rk_top AS INT) AS pair_rank,
           t.doc_id AS chosen_doc_id, b.doc_id AS rejected_doc_id,
           CAST(t.qual - b.qual AS BIGINT) AS margin_e6,
           CAST(t.n_pool AS BIGINT) AS n_pool
    FROM (SELECT * FROM ranked WHERE rk_top <= 3) t
    JOIN (SELECT * FROM ranked WHERE rk_bot <= 3) b
      ON t.source = b.source AND t.lang = b.lang AND t.rk_top = b.rk_bot
    WHERE 2 * t.rk_top <= t.n_pool
      AND t.qual - b.qual >= 20000
      AND t.n_chars <= 4 * b.n_chars
      AND b.n_chars <= 4 * t.n_chars
    """,
)
def dpo_pair_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO / RLHF preference-PAIR construction — the data-prep step that
    turns scored candidate pools into (chosen, rejected) training rows
    (Rafailov et al. 2023; the pairing recipe behind UltraFeedback-style
    datasets). Candidate pools are (source, lang) cohorts (the synthetic
    stand-in for per-prompt completion sets, same cohorts the
    Bradley-Terry fit duels over); quality is the exact e6 type-token
    ratio. Within each pool the k-th best pairs with the k-th worst
    (k <= 3) — best-vs-worst pairing maximizes the preference margin —
    under the two standard admission guards: a minimum quality margin
    (>= 0.02 e6, drops noise-level preferences) and a 4x length-ratio
    cap in BOTH directions (the verbosity-bias control: a pair whose
    winner is mostly just longer teaches length, not quality). Emits one
    row per admitted pair with its margin and pool size.

    Scale: two windows and one self-join, all PARTITIONED/keyed by the
    (source, lang) pool — pools are bounded by the per-prompt candidate
    count (single digits in RLHF practice), so no skew; the join fans
    out at most 3 rows per pool side. Everything is exact integer
    arithmetic (e6 TTR, int margins), so the oracle walks identical
    bits."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    q = (
        d.select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            F.size(toks).cast("bigint").alias("n_tok"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_types"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn("qual", F.expr("(1000000 * n_types) div n_tok"))
        .select("doc_id", "source", "lang", "n_chars", "qual")
    )
    pool = W.partitionBy("source", "lang")
    ranked = q.select(
        "*",
        F.row_number()
        .over(pool.orderBy(F.desc("qual"), F.asc("doc_id")))
        .alias("rk_top"),
        F.row_number()
        .over(pool.orderBy(F.asc("qual"), F.desc("doc_id")))
        .alias("rk_bot"),
        F.count("*").over(pool).alias("n_pool"),
    )
    top = ranked.filter(F.col("rk_top") <= 3).select(
        "source",
        "lang",
        F.col("rk_top").alias("pair_rank"),
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("qual").alias("__cq"),
        F.col("n_chars").alias("__cn"),
        "n_pool",
    )
    bot = ranked.filter(F.col("rk_bot") <= 3).select(
        "source",
        "lang",
        F.col("rk_bot").alias("pair_rank"),
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("qual").alias("__rq"),
        F.col("n_chars").alias("__rn"),
    )
    return (
        top.join(bot, ["source", "lang", "pair_rank"])
        .filter(
            (2 * F.col("pair_rank") <= F.col("n_pool"))
            & (F.col("__cq") - F.col("__rq") >= 20000)
            & (F.col("__cn") <= 4 * F.col("__rn"))
            & (F.col("__rn") <= 4 * F.col("__cn"))
        )
        .select(
            "source",
            "lang",
            "pair_rank",
            "chosen_doc_id",
            "rejected_doc_id",
            (F.col("__cq") - F.col("__rq")).cast("bigint").alias("margin_e6"),
            F.col("n_pool").cast("bigint").alias("n_pool"),
        )
    )
