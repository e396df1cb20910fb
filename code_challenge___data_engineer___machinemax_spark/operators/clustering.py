"""Iterative distributed algorithms: connected components (dedup-cluster
resolution) and a deterministic Lloyd's k-means (IVF codebook training).

Both are driver-side loops of DataFrame rounds (like the crawl, SURVEY.md
§4: iteration is orchestration, each step is relational), with
localCheckpoint per round to cap lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import cosine, label_centroids_df
from .skew import _drop_hot_keys


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iters: int = 20
) -> DataFrame:
    """Connected components over an undirected edge list -> (id, component)
    with component = min member id. This resolves near-dup *pairs* into
    dedup *groups* (keep one canonical doc per component).

    Label propagation + pointer jumping: each round every node adopts the
    min of (its label, its neighbors' labels, its label's label). The
    label-of-label arm halves chain depth every round — convergence in
    O(log diameter), so max_iters=20 covers ~2^20-long duplicate chains
    (plain propagation needed O(diameter) and silently returned wrong
    labels on long chains).

    Round shape (round-10 optimization): the initial labels fuse the first
    propagate step (label_0 = min(id, min neighbor) — one groupBy over the
    symmetric edge list, no join), then each round is a 3-arm unionByName
    (carry-over, neighbor messages, pointer jump — the two message arms
    are equi-joins against the CHECKPOINTED label relation, so nothing
    recomputes) reduced by ONE min-aggregate.

    Convergence probe (round-11 optimization, guide §1.2/§2.4): the carry
    arm tags each id's PREVIOUS label, so the min-aggregate can flag
    per-row change (new < old) for free, and an ``Observation`` metric
    riding the checkpoint job counts the changed rows — convergence is
    read off the SAME job that materializes the round, instead of the
    round-10 extra per-round aggregate job (and its init probe). The
    changed-count is also type-agnostic: the previous decimal(38,0)
    SUM(component) probe crashed on string ids under ANSI mode and
    silently declared convergence on NULL sums without it (advisor
    finding r10); an equality flag works for any orderable id type.
    Warns loudly if still unconverged at max_iters.
    """
    import warnings

    from pyspark.sql import Observation

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # fused first propagate: component_0 = min(id, min neighbor)
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("__nbr_min"))
        .select("id", F.least(F.col("id"), F.col("__nbr_min")).alias("component"))
        .localCheckpoint()
    )

    converged = False
    for _ in range(max_iters):
        nbr = edges.join(labels, edges.dst == labels.id).select(
            F.col("src").alias("id"),
            "component",
            F.lit(None).cast(labels.schema["component"].dataType).alias("__old"),
        )
        jump = (
            labels.alias("x")
            .join(labels.alias("p"), F.col("x.component") == F.col("p.id"))
            .select(
                F.col("x.id").alias("id"),
                F.col("p.component").alias("component"),
                F.lit(None).cast(labels.schema["component"].dataType).alias("__old"),
            )
        )
        # every id has exactly ONE carry row, so max(__old) recovers its
        # previous label; labels only decrease, so min(component) < old
        # <=> this id changed this round
        carry = labels.select("id", "component", F.col("component").alias("__old"))
        obs = Observation()
        labels = (
            carry.unionByName(nbr)
            .unionByName(jump)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.max("__old").alias("__old"),
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("component") != F.col("__old"), 1).otherwise(0)
                ).alias("n_changed"),
            )
            .select("id", "component")
            .localCheckpoint()
        )
        if not obs.get["n_changed"]:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components: not converged after {max_iters} rounds "
            "— component labels may be wrong; raise max_iters",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def dedup_clusters(pairs: DataFrame, corpus: DataFrame, id_col: str) -> DataFrame:
    """Near-dup pairs -> components -> per-doc (id, component, is_canonical)
    where the canonical keeper is the min id. Docs in no pair are their own
    singleton component."""
    comp = connected_components(pairs)
    return (
        corpus.select(id_col)
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
        .withColumn("is_canonical", F.col(id_col) == F.col("component"))
    )


def kmeans_lite(
    df: DataFrame, id_col: str, vec_col: str, k: int = 8, iters: int = 3
) -> tuple[DataFrame, DataFrame]:
    """Deterministic Lloyd's k-means on cosine distance: init = vectors of
    the ``k`` lowest ids, fixed ``iters`` rounds. Returns (assignments,
    centroids). Every round is one broadcast cross-score + argmin window +
    per-dimension mean agg — no Python in the data path."""
    from pyspark.sql import Window as W

    # the unpartitioned window spans exactly the k (<=64) rows surviving the
    # limit — the WindowExec "No Partition Defined" warning it logs is benign
    # at any scale (constant-size input, never the corpus)
    init = (
        df.orderBy(id_col)
        .limit(k)
        .select(
            F.row_number().over(W.orderBy(id_col)).alias("centroid_id"),
            F.col(vec_col).alias("cvec"),
        )
        .withColumn("cvec", F.transform("cvec", lambda x: x.cast("double")))
        .localCheckpoint()
    )
    centroids = init
    assigned = None
    for _ in range(iters):
        scored = df.crossJoin(F.broadcast(centroids)).withColumn(
            "__sim", cosine(F.col(vec_col), F.col("cvec"))
        )
        w = W.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("centroid_id"))
        assigned = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(id_col, "centroid_id", vec_col)
            .localCheckpoint()
        )
        centroids = (
            label_centroids_df(assigned, vec_col, "centroid_id")
            .localCheckpoint()
        )
    return assigned, centroids


def kmeans_fixed_point(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic Lloyd's k-means in exact integer arithmetic ->
    (id, centroid_id, dist) after ``iters`` assign+update rounds plus a
    final assignment.

    Floating-point k-means is not cross-engine reproducible: distance sums
    and centroid means re-associate differently per partitioning. This
    variant quantizes each component to ``trunc(x * scale)`` int64 once,
    then every distance is an exact integer sum of squares and every
    centroid update is an exact floor(sum/n) — bit-identical on any engine
    and any partitioning, so the whole iterative algorithm is DuckDB-
    oracle-checkable (same discipline as the generated SimHash/SRP SQL).

    Init = the ``k`` lowest-id vectors; argmin ties break on centroid_id;
    clusters that lose all members simply drop out of the next round (both
    engines identically).

    Scale shape per round (round-10 optimization — the MLlib KMeans
    architecture): centroids live on the DRIVER as k x dim int64 literals
    (k <= 64, dim <= a few hundred: KBs), assignment is a single map-side
    projection — per row, a least() over k (dist, centroid_id) structs,
    struct comparison = the exact (dist ASC, centroid_id ASC) argmin — and
    the update reduce ships only (centroid_id, pos, partial sum, partial
    count) through one map-side-combinable aggregation whose k*dim result
    rows are collected back to the driver (the treeAggregate shape MLlib
    uses). This replaces the previous per-round broadcast crossJoin (k x n
    rows materialized) + per-id window argmin (a full shuffle+sort of the
    k x n frame) + second groupBy + per-round localCheckpoint: per round,
    TWO exchanges and a checkpoint write became one tiny partial-agg
    exchange, and the RETURNED plan is a pure projection over the pinned
    quantized vectors (no window, no join), so downstream consumers
    (semantic pairing, the L10 store write) re-evaluate it as a cheap map
    instead of re-running the argmin shuffle."""
    q = _kmeans_quantized(df, id_col, vec_col, scale)
    assigned = _kmeans_assign_with_vectors(q, id_col, k=k, iters=iters)
    return assigned.select(id_col, "centroid_id", "dist")


def _kmeans_quantized(
    df: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    """The one vector quantizer of the exact-integer clusterers (k-means,
    SemDeDup pairing, the L10 store build, k-center): components to
    ``CAST(x * scale AS BIGINT)`` int64, pinned (the result is re-read every
    round), over the narrow-scan spread (``dedup._spread_narrow_scan``)."""
    from .dedup import _spread_narrow_scan

    src = _spread_narrow_scan(df.select(F.col(id_col), F.col(vec_col)), id_col)
    return src.select(
        F.col(id_col),
        F.expr(
            f"transform({vec_col}, x -> CAST(CAST(x AS DOUBLE) * {scale} AS BIGINT))"
        ).alias("qv"),
    ).localCheckpoint()


def _kmeans_assign_with_vectors(
    q: DataFrame, id_col: str, k: int, iters: int
) -> DataFrame:
    """Lloyd iterations over a pinned (id, qv) relation with driver-held
    centroid literals -> (id, centroid_id, dist, qv). The qv column rides
    along so callers that pair within clusters (semantic_dedup_pairs)
    need no join back to the corpus."""
    import math

    rows = q.orderBy(id_col).limit(k).collect()
    if not rows:
        # empty corpus: least() over zero centroid structs is a parse
        # error (WRONG_NUM_ARGS) — mirror power_iteration_top_component's
        # guard and return the empty assignment frame directly (advisor
        # finding r10)
        from pyspark.sql import types as T

        id_field = q.schema[id_col]
        schema = T.StructType(
            [
                id_field,
                T.StructField("centroid_id", T.IntegerType(), False),
                T.StructField("dist", T.LongType(), True),
                q.schema["qv"],
            ]
        )
        return q.sparkSession.createDataFrame([], schema)
    centroids: list[tuple[int, list[int]]] = [
        (i + 1, list(r["qv"])) for i, r in enumerate(rows)
    ]

    def best_struct(cents: list[tuple[int, list[int]]]):
        # ONE F.expr over a generated SQL string: building this from
        # Column operators costs k x dim F.lit() py4j round-trips
        # (measured ~2 s per iteration at k=8, dim=64 — more than the
        # iteration's Spark job itself); the SQL parser takes the same
        # tree in one call
        structs = []
        for cid, cv in cents:
            arr = "array(" + ",".join(f"{int(v)}L" for v in cv) + ")"
            dist = (
                f"aggregate(zip_with(qv, {arr}, (a, b) -> (a - b) * (a - b)),"
                " 0L, (acc, d) -> acc + d)"
            )
            structs.append(
                f"named_struct('dist', {dist}, 'centroid_id', {int(cid)})"
            )
        if len(structs) == 1:
            return F.expr(structs[0])
        return F.expr("least(" + ", ".join(structs) + ")")

    for _ in range(iters):
        stats = (
            q.select(best_struct(centroids).getField("centroid_id").alias("centroid_id"), "qv")
            .select("centroid_id", F.posexplode("qv").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        by_cid: dict[int, dict[int, int]] = {}
        for r in stats:
            # floor(sum/count) with DOUBLE division — bit-identical to the
            # previous in-plan F.floor(F.sum/F.count) (JVM long->double
            # casts then IEEE divide) and to the DuckDB oracle twin
            by_cid.setdefault(r["centroid_id"], {})[r["pos"]] = int(
                math.floor(float(r["s"]) / float(r["n"]))
            )
        centroids = [
            (cid, [vals[p] for p in sorted(vals)]) for cid, vals in sorted(by_cid.items())
        ]
    b = best_struct(centroids)
    return q.select(
        F.col(id_col),
        b.getField("centroid_id").alias("centroid_id"),
        b.getField("dist").alias("dist"),
        "qv",
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    scale: int = 1_000_000,
    max_sqdist: int = 1_200_000_000_000,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style embedding dedup pairs -> (id_a, id_b, centroid_id,
    sqdist), id_a < id_b: cluster first, then compare ONLY within a
    cluster — never all-pairs (Abbas et al. 2023, "SemDeDup"; the
    embedding twin of the banded MinHash/SimHash discipline, and a second
    scale path beside the SRP bucketing in operators/similarity.py).

    Built on :func:`kmeans_fixed_point`, so the full pipeline — clustering
    AND the pair verify — is exact int64 arithmetic (sqdist over
    trunc(x*scale) components) and sits under the DuckDB value gate; a
    float cosine variant could only ever be rows-checked. On unit vectors
    sqdist/scale^2 = ||a-b||^2 = 2(1-cos), so a cosine-0.95 dedup
    threshold is max_sqdist = 0.1*scale^2.

    Scale shape: pairing shuffles (id, centroid_id, qv) on centroid_id
    only; cluster population is n/k on average, so k must grow with n to
    bound per-cluster pairing (SemDeDup's own recipe), and
    ``max_cluster_size`` drops over-populated clusters before pairing —
    the same broadcast-anti-join hot-bucket cap as the LSH paths. The
    assignment rides straight out of the Lloyd map
    (:func:`_kmeans_assign_with_vectors` keeps qv on the assigned row), so
    the previous join back to the re-quantized corpus — one exchange of
    the full vector payload per pairing arm — is gone (round-10
    optimization)."""
    q = _kmeans_quantized(df, id_col, vec_col, scale)
    aq = _kmeans_assign_with_vectors(q, id_col, k=k, iters=iters).select(
        F.col(id_col), F.col("centroid_id"), F.col("qv")
    )
    return semantic_pairs_from_assigned(
        aq, id_col, max_sqdist=max_sqdist, max_cluster_size=max_cluster_size
    )


def semantic_pairs_from_assigned(
    aq: DataFrame,
    id_col: str,
    max_sqdist: int = 1_200_000_000_000,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """The within-cluster pairing tail of :func:`semantic_dedup_pairs`,
    over an already-assigned ``(centroid_id, id, qv)`` relation — split
    out so the persisted L10 cluster-assignment store
    (stores.py:ensure_semantic_kmeans_store) feeds it directly: SemDeDup
    clusters once per corpus snapshot, then serves every dedup threshold
    from the stored assignment without re-running the k-means rounds."""
    aq = _drop_hot_keys(aq, ["centroid_id"], max_cluster_size)
    a = aq.select(
        F.col("centroid_id"), F.col(id_col).alias("id_a"), F.col("qv").alias("__qa")
    )
    b = aq.select(
        F.col("centroid_id"), F.col(id_col).alias("id_b"), F.col("qv").alias("__qb")
    )
    sqdist = F.expr(
        "aggregate(zip_with(__qa, __qb, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, d) -> acc + d)"
    )
    return (
        a.join(b, ["centroid_id"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sqdist", sqdist)
        .filter(F.col("sqdist") <= max_sqdist)
        .select("id_a", "id_b", "centroid_id", "sqdist")
    )


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    scale: int = 10**12,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank in exact integer arithmetic -> (node, pr) after ``iters``
    power iterations. Like :func:`kmeans_fixed_point`, the float version is
    not cross-engine reproducible (damped sums re-associate); this variant
    keeps all mass as int64 with explicit floor divisions, so every
    iteration is bit-identical on any engine/partitioning and the whole
    algorithm sits under the DuckDB value gate.

    Recurrence (all integer ops, every value positive so trunc == floor):
        pr0(v)  = scale // N
        base    = ((100 - damping_pct) * (scale // N)) // 100
        pr_k(v) = base + (damping_pct * inflow_k(v)) // 100
        inflow_k(v) = sum over u->v of pr_{k-1}(u) // outdeg(u)
    Dangling mass is dropped (documented simplification — ranking order is
    unaffected for the connected use cases here).

    Scale shape per iteration: one equi-join edges->pr on src (shuffle on
    int keys), one hash-agg on dst, one left join back to nodes;
    localCheckpoint caps lineage exactly like connected_components."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    pr0 = scale // n
    base = ((100 - damping_pct) * pr0) // 100
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    pr = nodes.withColumn("pr", F.lit(pr0).cast("bigint"))
    for _ in range(iters):
        contrib = (
            e.join(pr, e.src == pr.node)
            .join(outdeg, "src")
            .select(F.col("dst"), F.expr("pr div outdeg").alias("c"))
        )
        inflow = contrib.groupBy("dst").agg(F.sum("c").alias("inflow"))
        pr = (
            nodes.join(inflow, nodes.node == inflow.dst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"{damping_pct} * coalesce(inflow, 0L) div 100")
                ).cast("bigint").alias("pr"),
            )
            .localCheckpoint()
        )
    return pr


def bfs_hop_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """BFS shortest hop distance from a source set -> (node, hop), hop in
    [0, max_hops]. ``sources`` is a one-column ("node") frame; unreachable
    nodes (within the bound) simply don't appear.

    Level-synchronous frontier expansion: each round joins the CURRENT
    frontier (not the whole visited set) against the edge list, anti-joins
    out already-settled nodes, and tags survivors with the round number —
    the first time BFS reaches a node is its shortest distance, so no
    min-relaxation pass is needed. Per round: one equi-join on int node
    keys + one anti-join; localCheckpoint caps lineage like the other
    iterative operators here. The driver loop is bounded by the constant
    max_hops with an early exit when a frontier empties (one lightweight
    isEmpty action per round)."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    dist = sources.select("node").distinct().withColumn(
        "hop", F.lit(0).cast("int")
    ).localCheckpoint()
    frontier = dist.select("node")
    for k in range(1, max_hops + 1):
        reached = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        fresh = reached.join(dist, "node", "left_anti").withColumn(
            "hop", F.lit(k).cast("int")
        )
        if fresh.isEmpty():
            break
        dist = dist.unionByName(fresh).localCheckpoint()
        frontier = dist.filter(F.col("hop") == k).select("node")
    return dist


def inertia(assigned: DataFrame, centroids: DataFrame, vec_col: str) -> float:
    """Mean (1 - cosine) to the assigned centroid — the convergence metric."""
    joined = assigned.join(centroids, "centroid_id")
    row = joined.agg(
        F.avg(1 - cosine(F.col(vec_col), F.col("cvec"))).alias("inertia")
    ).collect()[0]
    return float(row.inertia)


def triangles(edges: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """Triangles (x < y < z) in an undirected graph whose edges are stored
    once with ``a < b`` — the two-path + closing-edge plan: wedge join on
    the shared middle vertex, then an equi-join probing for the closing
    edge. Each triangle is emitted exactly once (the a<b storage order
    makes x<y<z the only orientation that survives both joins), so no
    post-dedup is needed.

    Scale: both joins are equi-joins on int vertex ids; wedge fan-out is
    sum-of-degrees-squared, which the caller bounds upstream (near-dup
    graphs arrive hot-bucket-capped from the LSH generators). The input is
    localCheckpointed so the three aliases of the self-join reuse one
    materialization of what is typically an expensive pair pipeline."""
    e = edges.select(F.col(a).alias("id_a"), F.col(b).alias("id_b")).localCheckpoint()
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    return (
        ab.join(bc, F.col("bc.id_a") == F.col("ab.id_b"))
        .join(
            ac,
            (F.col("ac.id_a") == F.col("ab.id_a"))
            & (F.col("ac.id_b") == F.col("bc.id_b")),
        )
        .select(
            F.col("ab.id_a").alias("id_a"),
            F.col("ab.id_b").alias("id_b"),
            F.col("bc.id_b").alias("id_c"),
        )
    )


def kcenter_greedy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """k-Center-Greedy coreset selection (Sener & Savarese 2018, the
    active-learning / data-subset selection baseline) in exact integer
    arithmetic: start from the lowest-id vector, then repeatedly add the
    point FARTHEST from the chosen set (max over points of min sqdist to
    any center, ties -> lowest id). Returns one row per selected center:
    (sel_order, id, radius_sq) where radius_sq is the point's min-distance
    at selection time — the classic 2-approximation's coverage radius
    sequence, non-increasing by construction.

    Same fixed-point discipline as kmeans_fixed_point: components quantize
    to trunc(x*scale) int64 once (:func:`_kmeans_quantized`), every
    distance is an exact integer, so all k selections are bit-reproducible
    cross-engine and the whole greedy loop has an unrolled-CTE DuckDB
    oracle.

    Scale shape: k-1 rounds, each = one broadcast of the single new center
    into a min-update projection plus one TakeOrdered(1) argmax — per
    round one scan of the (id, qv, md) frame, shuffling only the 1-row
    top; localCheckpoint caps lineage across rounds. The selected-center
    frames are 1-row each; the driver never holds data rows."""
    q = _kmeans_quantized(df, id_col, vec_col, scale)
    sqdist = F.expr(
        "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)), "
        "CAST(0 AS BIGINT), (acc, d) -> acc + d)"
    )
    seed = q.orderBy(id_col).limit(1)
    picked = [
        seed.select(
            F.lit(1).cast("int").alias("sel_order"),
            F.col(id_col).alias("center_id"),
            F.lit(None).cast("bigint").alias("radius_sq"),
        )
    ]
    cur = (
        q.crossJoin(F.broadcast(seed.select(F.col("qv").alias("cv"))))
        .withColumn("md", sqdist)
        .select(id_col, "qv", "md")
        .localCheckpoint()
    )
    for step in range(2, k + 1):
        far = cur.orderBy(F.desc("md"), F.asc(id_col)).limit(1).localCheckpoint()
        picked.append(
            far.select(
                F.lit(step).cast("int").alias("sel_order"),
                F.col(id_col).alias("center_id"),
                F.col("md").alias("radius_sq"),
            )
        )
        if step < k:
            cur = (
                cur.crossJoin(F.broadcast(far.select(F.col("qv").alias("cv"))))
                .withColumn("md", F.least(F.col("md"), sqdist))
                .select(id_col, "qv", "md")
                .localCheckpoint()
            )
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out


def dbscan_grid(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: int = 15_000,
    min_pts: int = 4,
    scale: int = 1_000_000,
    shift: int = 2_000_000,
    max_iters: int = 20,
) -> DataFrame:
    """DBSCAN (Ester et al. 1996) over the first two embedding dimensions,
    grid-bucketed so the neighbor search is never all-pairs: the plane is
    tiled into eps-sized cells, each point probes only its own 3x3 cell
    neighborhood (an equi-join on the cell key — any point within eps
    *must* fall in one of those 9 cells), and the exact int64 squared
    distance verifies candidates. Density semantics are the textbook ones:
    a point is CORE iff its eps-ball holds >= min_pts points (self
    included); clusters are the connected components of the core-core
    eps-graph (label = min member id, via the pointer-jumping
    ``connected_components``); non-core points within eps of a core join
    the smallest-labelled such cluster as BORDER points; everything else
    is noise and is not emitted.

    Exactness: coordinates quantize once to trunc(x*scale) int64, then
    shift to non-negative so integer cell division truncates identically
    in every engine — every comparison downstream is integer, so the
    cluster assignment is bit-reproducible and has a recursive-CTE DuckDB
    oracle (the min-label closure over the same integer edge list).

    Scale shape: the probe side replicates each point 9x (explode over the
    fixed 3x3 offset array — codegen, no UDF); the join is a shuffle on
    the int cell key; per-cell occupancy is data-density-bound, the same
    contract as the LSH band buckets (a pathological hot cell wants the
    same hot-bucket cap as operators/dedup.py applies — at this operator's
    declared eps the occupancy is uniform). Components run over CORE
    points only — the border attach is one more equi-join on the already-
    computed neighbor list."""
    pts = vectors.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"CAST(CAST(element_at({vec_col}, 1) AS DOUBLE) * {scale} AS BIGINT)"
            f" + {shift}"
        ).alias("x"),
        F.expr(
            f"CAST(CAST(element_at({vec_col}, 2) AS DOUBLE) * {scale} AS BIGINT)"
            f" + {shift}"
        ).alias("y"),
    ).localCheckpoint()
    build = pts.select(
        F.col("id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.expr(f"x DIV {eps}").alias("b_cx"),
        F.expr(f"y DIV {eps}").alias("b_cy"),
    )
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1, 1),"
        " dx -> transform(sequence(-1, 1), dy -> struct(dx AS dx, dy AS dy)))))"
    )
    probe = pts.select("id", "x", "y", offsets.alias("o")).select(
        "id",
        "x",
        "y",
        (F.expr(f"x DIV {eps}") + F.col("o.dx")).alias("b_cx"),
        (F.expr(f"y DIV {eps}") + F.col("o.dy")).alias("b_cy"),
    )
    nbrs = (
        probe.join(build, ["b_cx", "b_cy"])
        .filter(
            (F.col("id") != F.col("b_id"))
            & (
                (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
                + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by"))
                <= F.lit(eps * eps)
            )
        )
        .select("id", "b_id")
        .localCheckpoint()
    )
    cores = (
        nbrs.groupBy("id")
        .agg(F.count("*").alias("n_nbrs"))
        .filter(F.col("n_nbrs") >= F.lit(min_pts - 1))
        .select("id")
        .localCheckpoint()
    )
    core_edges = (
        nbrs.join(cores, "id")
        .join(cores.select(F.col("id").alias("b_id")), "b_id")
        .filter(F.col("id") < F.col("b_id"))
        .select(F.col("id").alias("id_a"), F.col("b_id").alias("id_b"))
    )
    comps = connected_components(core_edges, max_iters=max_iters)
    core_clusters = (
        cores.join(comps, cores.id == comps.id, "left")
        .select(
            cores.id.alias("pid"),
            F.coalesce(F.col("component"), cores.id).alias("cluster"),
        )
        .localCheckpoint()
    )
    border = (
        nbrs.join(cores.select(F.col("id").alias("__c")), nbrs.id == F.col("__c"), "left_anti")
        .join(
            core_clusters.withColumnRenamed("pid", "b_id"), "b_id"
        )
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("id").alias("pid"), "cluster", F.lit("border").alias("role"))
    )
    return (
        core_clusters.withColumn("role", F.lit("core"))
        .unionByName(border)
        .select(F.col("pid").alias(id_col), "cluster", "role")
    )
