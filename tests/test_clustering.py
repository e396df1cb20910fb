"""Connected components, dedup clusters, k-means lite, BM25 ranking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from code_challenge___data_engineer___machinemax_spark.operators.clustering import (
    connected_components,
    dedup_clusters,
    inertia,
    kmeans_lite,
)
from code_challenge___data_engineer___machinemax_spark.operators.search import bm25_rank, tfidf_rank
from code_challenge___data_engineer___machinemax_spark.tables import load_table


def test_connected_components_chain_and_islands(spark):
    # 1-2-3 chained, 10-11 pair, 20-21-22 star on 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == 20


def test_connected_components_long_chain_converges(spark):
    # 200-link chain: plain label propagation needs 200 rounds; pointer
    # jumping must resolve it well inside max_iters=20 (2^20 reach)
    import warnings

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # unconverged would warn
        comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 201


def test_connected_components_string_ids(spark):
    """Round-11 (advisor finding r10): the decimal(38,0) SUM convergence
    probe crashed on string ids under ANSI mode and silently declared
    round-1 convergence (NULL == NULL) without it. The changed-count
    probe must handle any orderable id type exactly."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "id_a string, id_b string",
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_kmeans_fixed_point_empty_corpus_returns_empty(spark):
    """Round-11 (advisor finding r10): zero input rows previously built
    least() with no arguments (WRONG_NUM_ARGS) — the guard must return an
    empty frame with the contract schema instead of raising."""
    from code_challenge___data_engineer___machinemax_spark.operators.clustering import (
        kmeans_fixed_point,
        semantic_dedup_pairs,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = kmeans_fixed_point(empty, "vec_id", "embedding", k=4, iters=2)
    assert out.count() == 0
    assert out.columns == ["vec_id", "centroid_id", "dist"]
    pairs = semantic_dedup_pairs(empty, "vec_id", "embedding", k=4, iters=2)
    assert pairs.count() == 0


def test_connected_components_warns_when_unconverged(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    with pytest.warns(RuntimeWarning, match="not converged"):
        connected_components(pairs, max_iters=2)


def test_dedup_clusters_singletons_and_canonicals(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    corpus = spark.range(6).withColumnRenamed("id", "doc_id")
    rows = {r.doc_id: (r.component, r.is_canonical)
            for r in dedup_clusters(pairs, corpus, "doc_id").collect()}
    assert rows[1] == (1, True) and rows[2] == (1, False) and rows[3] == (1, False)
    for singleton in (0, 4, 5):
        assert rows[singleton] == (singleton, True)


def test_kmeans_converges_and_deterministic(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    a1, c1 = kmeans_lite(e, "vec_id", "embedding", k=5, iters=1)
    a3, c3 = kmeans_lite(e, "vec_id", "embedding", k=5, iters=3)
    i1 = inertia(a1, c1, "embedding")
    i3 = inertia(a3, c3, "embedding")
    assert i3 <= i1 + 1e-9  # Lloyd's never increases inertia
    # determinism: same call -> same assignment
    a3b, _ = kmeans_lite(e, "vec_id", "embedding", k=5, iters=3)
    assert {(r.vec_id, r.centroid_id) for r in a3.collect()} == {
        (r.vec_id, r.centroid_id) for r in a3b.collect()
    }


def test_bm25_ranks_higher_tf_and_rarer_terms(spark):
    rows = [
        (1, "spark spark spark engine"),  # high tf for 'spark'
        (2, "spark engine engine engine"),
        (3, "engine only text here"),
        (4, "unrelated words entirely different"),
        (5, "rareterm appears here once"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = bm25_rank(df, "doc_id", "spark", k=3).collect()
    assert top[0].doc_id == 1  # highest tf wins for single-term query
    assert {r.doc_id for r in top} == {1, 2}  # only matching docs scored
    # rarer term outranks common term at equal tf
    top2 = bm25_rank(df, "doc_id", "rareterm engine", k=5).collect()
    assert top2[0].doc_id == 5
    # a keyword no document holds ranks nothing (its posting pass is empty)
    assert bm25_rank(df, "doc_id", "nohit").collect() == []
    assert tfidf_rank(df, "doc_id", "nohit").collect() == []


def test_kmeans_fixed_point_separates_planted_clusters(spark):
    # two tight blobs far apart; k=2 must put each blob in one cluster and
    # the same call twice must be bit-identical (the determinism claim the
    # oracle relies on)
    from code_challenge___data_engineer___machinemax_spark.operators.clustering import (
        kmeans_fixed_point,
    )

    rows = [(i, [1.0 + 0.001 * i, 0.0]) for i in range(5)] + [
        (10 + i, [-1.0 - 0.001 * i, 0.2]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = kmeans_fixed_point(df, "vec_id", "embedding", k=2, iters=2)
    got = {r.vec_id: r.centroid_id for r in a.collect()}
    blob1 = {got[i] for i in range(5)}
    blob2 = {got[10 + i] for i in range(5)}
    assert len(blob1) == 1 and len(blob2) == 1 and blob1 != blob2
    b = kmeans_fixed_point(df, "vec_id", "embedding", k=2, iters=2)
    assert sorted((r.vec_id, r.centroid_id, r.dist) for r in a.collect()) == sorted(
        (r.vec_id, r.centroid_id, r.dist) for r in b.collect()
    )


def test_semantic_dedup_pairs_within_cluster_only(spark):
    # two far-apart blobs; ids 0/1 share an identical vector, ids 10/11 are
    # near-dups in the other blob. The cross-blob pairs are much closer in id
    # but must never be compared (cluster-bucketed), and the identical pair
    # must come out with sqdist == 0.
    from code_challenge___data_engineer___machinemax_spark.operators.clustering import (
        semantic_dedup_pairs,
    )

    # ids 0 and 1 are the k-means seeds (k lowest ids), one per blob
    rows = (
        [(0, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [1.2, 0.1])]
        + [(1, [-1.0, 0.5]), (11, [-1.0, 0.500001]), (12, [-1.3, 0.4])]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = semantic_dedup_pairs(
        df, "vec_id", "embedding", k=2, iters=2, max_sqdist=10_000
    ).collect()
    pairs = {(r.id_a, r.id_b): r.sqdist for r in got}
    assert pairs.get((0, 2)) == 0
    assert (1, 11) in pairs and pairs[(1, 11)] <= 10_000
    assert all(not ({a, b} & {0, 2, 3} and {a, b} & {1, 11, 12}) for a, b in pairs)

    # hot-cluster cap drops the over-populated cluster before pairing
    capped = semantic_dedup_pairs(
        df, "vec_id", "embedding", k=2, iters=2, max_sqdist=10_000, max_cluster_size=2
    ).collect()
    assert capped == []


def test_pagerank_fixed_point_ranks_hubs_and_is_deterministic(spark):
    # star graph: hub 0 <-> {2,4,6,8} (bidirectional). The hub must rank
    # strictly above every leaf, and two runs must be bit-identical.
    from code_challenge___data_engineer___machinemax_spark.operators.clustering import (
        pagerank_fixed_point,
    )

    leaves = [2, 4, 6, 8]
    rows = [(0, v) for v in leaves] + [(v, 0) for v in leaves]
    edges = spark.createDataFrame(rows, "src long, dst long")
    pr = {r.node: r.pr for r in pagerank_fixed_point(edges, iters=2).collect()}
    assert all(pr[0] > pr[v] for v in leaves)
    assert len({pr[v] for v in leaves}) == 1  # symmetric leaves tie exactly
    pr2 = {r.node: r.pr for r in pagerank_fixed_point(edges, iters=2).collect()}
    assert pr == pr2


def test_bfs_hop_distances_chain_and_unreachable(spark):
    from code_challenge___data_engineer___machinemax_spark.operators.clustering import (
        bfs_hop_distances,
    )

    # directed chain 1->2->3->4->5 plus an unreachable island 10->11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src long, dst long"
    )
    sources = spark.createDataFrame([(1,)], "node long")

    hops = {r.node: r.hop for r in bfs_hop_distances(edges, sources, max_hops=3).collect()}
    assert hops == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 is beyond the bound, 10/11 unreachable

    # early exit: bound far beyond the diameter still settles each node at
    # its first (shortest) visit, and visits nothing twice
    hops = {r.node: r.hop for r in bfs_hop_distances(edges, sources, max_hops=50).collect()}
    assert hops == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}

    # shortcut edge: shortest path wins over the longer route
    edges2 = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    hops = {r.node: r.hop for r in bfs_hop_distances(edges2, sources, max_hops=5).collect()}
    assert hops == {1: 0, 2: 1, 3: 1}


def test_kcenter_greedy_picks_farthest_and_radii_decrease(spark):
    """Greedy k-center on a crafted 1-D-ish layout: the seed is the lowest
    id, the first pick is the farthest point, radii never increase, and a
    tight near-twin of the seed is never selected before spread-out
    points."""
    from code_challenge___data_engineer___machinemax_spark.operators.clustering import (
        kcenter_greedy,
    )

    vecs = [
        (0, [0.0, 0.0]),       # seed
        (1, [0.001, 0.0]),     # near-twin of seed — must not be picked early
        (2, [10.0, 0.0]),      # farthest -> pick 2
        (3, [5.0, 0.0]),       # then the midpoint
        (4, [0.0, 3.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rows = sorted(
        kcenter_greedy(df, "vec_id", "embedding", k=4).collect(),
        key=lambda r: r.sel_order,
    )
    assert [r.center_id for r in rows] == [0, 2, 3, 4]
    radii = [r.radius_sq for r in rows[1:]]
    assert radii == sorted(radii, reverse=True)


def test_dbscan_grid_crafted_semantics(spark):
    # Hand-built plane, eps=10 (fixed-point units), min_pts=3:
    #  blob A: (0,0),(5,0),(0,5),(5,5) — all within eps of each other,
    #    every point has 3 neighbors + self  -> all core, one cluster
    #  bridge: (14,0) is within eps of (5,0)/(5,5) only -> 2 nbrs -> border
    #  pair:  (100,100),(105,100) — 1 neighbor each -> noise (not emitted)
    #  lone:  (200,200) -> noise
    from code_challenge___data_engineer___machinemax_spark.operators.clustering import (
        dbscan_grid,
    )

    pts = [
        (0, 0.0, 0.0),
        (1, 5.0, 0.0),
        (2, 0.0, 5.0),
        (3, 5.0, 5.0),
        (4, 14.0, 0.0),
        (10, 100.0, 100.0),
        (11, 105.0, 100.0),
        (20, 200.0, 200.0),
    ]
    df = spark.createDataFrame(
        [(i, [x, y]) for i, x, y in pts], "vec_id long, embedding array<double>"
    )
    # scale=1 keeps the crafted coordinates as-is; shift clears negatives
    out = {
        r.vec_id: (r.cluster, r.role)
        for r in dbscan_grid(
            df, "vec_id", "embedding", eps=10, min_pts=3, scale=1, shift=1000
        ).collect()
    }
    assert out[0] == (0, "core")
    assert out[1] == (0, "core")
    assert out[2] == (0, "core")
    assert out[3] == (0, "core")
    assert out[4] == (0, "border")
    assert 10 not in out and 11 not in out and 20 not in out


def test_dbscan_grid_cross_cell_neighbors_found(spark):
    # Two points eps-close but in DIFFERENT grid cells (9 and 11 with
    # eps=10 straddle the cell boundary): the 3x3 probe must pair them.
    # With min_pts=2 each is core via the other -> one 2-point cluster.
    from code_challenge___data_engineer___machinemax_spark.operators.clustering import (
        dbscan_grid,
    )

    df = spark.createDataFrame(
        [(1, [9.0, 0.0]), (2, [11.0, 0.0])], "vec_id long, embedding array<double>"
    )
    rows = dbscan_grid(
        df, "vec_id", "embedding", eps=10, min_pts=2, scale=1, shift=1000
    ).collect()
    assert {(r.vec_id, r.cluster, r.role) for r in rows} == {
        (1, 1, "core"),
        (2, 1, "core"),
    }


def test_power_iteration_finds_planted_direction(spark):
    # anisotropic corpus: a dominant planted direction u plus small noise.
    # 3 exact-int power-iteration steps must align with numpy's true top
    # eigenvector of the centered data (the convergence case the
    # registered query's near-isotropic corpus can't exercise).
    import numpy as np

    from code_challenge___data_engineer___machinemax_spark.operators.similarity import (
        power_iteration_top_component,
    )

    rng = np.random.RandomState(0)
    u = rng.randn(64)
    u /= np.linalg.norm(u)
    coeffs = rng.randn(200, 1) * 0.5
    noise = rng.randn(200, 64) * 0.02
    data = coeffs * u + noise
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    v = np.array(
        [r.v_e4 for r in power_iteration_top_component(df, "embedding").collect()],
        dtype=np.float64,
    )
    X = data - data.mean(0)
    evals, evecs = np.linalg.eigh(X.T @ X)
    top = evecs[:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.99, cos
    # determinism: a second run is bit-identical (exact int64 state)
    v2 = np.array(
        [r.v_e4 for r in power_iteration_top_component(df, "embedding").collect()]
    )
    assert (v == v2).all()
