"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline (exact, oracle-checked).
The scale path is sign-random-projection LSH: hash each vector to a compact
bucket key with deterministic pseudo-random hyperplanes, equi-join on the
bucket, and score only within buckets — turning O(n·q) into a shuffle on
small keys. All vector math stays JVM-side via higher-order functions
(zip_with/aggregate); no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .skew import _drop_hot_keys


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, accumulated in double, in order
    (deterministic, matches the sequential oracle computation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    df: DataFrame, query: DataFrame, id_col: str, vec_col: str, k: int = 10
) -> DataFrame:
    """Exact top-k by cosine against a single query vector.

    ``query`` is a 1-row DataFrame with column ``__qvec``. The cross join
    broadcasts the single row; TakeOrderedAndProject keeps the top-k without
    a global sort. Ties break on the id for determinism.
    """
    scored = (
        df.crossJoin(F.broadcast(query))
        .withColumn("cosine", F.round(cosine(F.col(vec_col), F.col("__qvec")), 6))
    )
    return (
        scored.select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def rescore_topk(
    df: DataFrame, cand_ids: DataFrame, query: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Exact cosine top-k over the rows of ``df`` whose id is in
    ``cand_ids`` — the rescoring tail of every candidate-generating ANN
    probe (in-plan LSH, multiprobe, the L3 store probe). ``query`` is the
    1-row ``__qvec`` frame, broadcast; ties break on the id."""
    cand = df.join(cand_ids, id_col, "left_semi").crossJoin(F.broadcast(query))
    return (
        cand.withColumn("cosine", F.round(cosine(F.col(vec_col), F.col("__qvec")), 6))
        .select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components in [-1, 1).

    Integer LCG-style mix of (plane, dim-index) — reproducible anywhere
    (including a SQL oracle) without platform RNG.
    """
    return [
        (((plane * 73856093 + j * 19349663 + 83492791) % 2000003) % 2001 - 1000) / 1000.0
        for j in range(dim)
    ]


def _srp_buckets_udf(tables: list[list[list[float]]]):
    """Vectorized SRP bucketing: one (n, dim) @ (dim, T*P) matmul per Arrow
    batch, bits packed into one long per table."""
    mat = np.asarray(tables, dtype=np.float64)  # (T, P, D)
    t_n, p_n, d_n = mat.shape
    flat = mat.reshape(t_n * p_n, d_n).T  # (D, T*P)
    weights = 1 << np.arange(p_n, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def buckets(s: pd.Series) -> pd.Series:
        emb = np.vstack(s.to_numpy()).astype(np.float64)  # (n, D)
        bits = (emb @ flat >= 0).astype(np.int64).reshape(len(s), t_n, p_n)
        vals = (bits * weights).sum(axis=2)  # (n, T)
        return pd.Series(list(vals))

    return buckets


def srp_planes(n_planes: int = 8, n_tables: int = 8, dim: int = 64) -> list[list[list[float]]]:
    """The SRP hyperplane set, (T, P, D): plane ``i`` of hash table ``t``
    is the :func:`hyperplane` numbered ``t * 1009 + i``. Every SRP
    bucketing (the corpus band rows, the L3 store, the driver-side query
    buckets) uses this one set, so their buckets agree."""
    return [
        [hyperplane(t * 1009 + i, dim) for i in range(n_planes)] for t in range(n_tables)
    ]


def srp_band_rows(
    df: DataFrame,
    vec_col: str,
    *keep: str,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    names: tuple[str, str] = ("__t", "__bucket"),
) -> DataFrame:
    """One ``(*keep, t, bucket)`` row per (row, hash table): the vector's
    bucket in each of the ``n_tables`` tables from one Arrow-batched numpy
    matmul (:func:`_srp_buckets_udf`), posexploded. A JVM expression tree
    with 64 literal-array dot products per row is codegen poison (measured
    13 s -> ~1 s on 5k x 64-dim); this is the vectorized-UDF slot the hot
    path earns. Deterministic: the same :func:`srp_planes` everywhere."""
    buckets = _srp_buckets_udf(srp_planes(n_planes, n_tables, dim))
    return df.select(*keep, F.posexplode(buckets(F.col(vec_col))).alias(*names))


def ivf_assign(
    df: DataFrame, centroids: DataFrame, vec_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid.

    ``centroids`` is a small DataFrame (centroid_id, cvec) — broadcast; the
    argmin is computed JVM-side via a cross join + window (centroid count is
    small by construction, e.g. sqrt(n)). The argmin window partitions by
    ``id_col`` ALONE — partitioning by every column (r3) hashed the vector
    array into the shuffle key; the id is unique per row, so the narrow key
    is the same grouping with int-sized shuffle rows (VERDICT r3 #5)."""
    from pyspark.sql import Window as W

    scored = df.crossJoin(F.broadcast(centroids)).withColumn(
        "__d", cosine(F.col(vec_col), F.col("cvec"))
    )
    w = W.partitionBy(id_col).orderBy(F.desc("__d"), F.asc("centroid_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__d", "cvec")
    )


def label_centroids_df(df: DataFrame, vec_col: str, label_col: str, dim: int = 64) -> DataFrame:
    """Per-label mean vectors as (centroid_id, cvec) — a deterministic
    coarse codebook (k-means would iterate this exact aggregation)."""
    per_dim = (
        df.select(F.col(label_col).alias("centroid_id"), F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("centroid_id", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
    )
    return (
        per_dim.groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pairs"))
        .select(
            "centroid_id",
            F.transform(F.col("pairs"), lambda p: p["m"]).alias("cvec"),
        )
    )


def ivf_topk(
    df: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search: score only vectors whose centroid is among the query's
    ``nprobe`` nearest centroids. At scale the corpus is stored partitioned
    by centroid_id, so the probe is a partition-pruned scan of ~nprobe/C of
    the data instead of a full pass."""
    assigned = ivf_assign(df, centroids, vec_col, id_col=id_col)
    q_scored = (
        query.crossJoin(F.broadcast(centroids))
        .withColumn("__d", cosine(F.col("__qvec"), F.col("cvec")))
        # centroid_id tie-break: the probe is a SET of list ids, and an exact
        # cosine tie at the nprobe boundary must resolve identically in the
        # DuckDB oracle (plans/similarity_queries.py ivf_topk).
        .orderBy(F.desc("__d"), F.asc("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    cand = assigned.join(F.broadcast(q_scored), "centroid_id", "left_semi")
    return (
        cand.crossJoin(F.broadcast(query))
        .withColumn("cosine", F.round(cosine(F.col(vec_col), F.col("__qvec")), 6))
        .select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def srp_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup PAIRS via SRP-LSH bucketing — the all-pairs
    sibling of :func:`ann_topk_lsh` (one query) and the embedding-space
    sibling of MinHash near-dup (token space).

    Plan shape: per-row bucket array (one Arrow matmul, no shuffle) ->
    posexplode to (table, bucket) rows -> self-equi-join on (table, bucket)
    with id_a < id_b -> distinct candidate pairs -> join vectors back ->
    exact cosine >= threshold verify. Never an O(n^2) cross join: candidates
    are ~n·T·B/2 rows for mean bucket occupancy B (= n/2^planes per table).

    Recall: a pair at angle θ shares one table's bucket with p=(1-θ/π)^planes
    and any-of-T with 1-(1-p)^T — at cosine 0.9 the 8/8 default gives ~0.94
    (tests measure it). Output pairs are EXACT (the verify step filters by
    true cosine); LSH only bounds which pairs are examined.

    ``max_bucket_size`` is the same hot-bucket guard as text LSH
    (dedup.lsh_candidate_pairs): at 100 TB a degenerate bucket (zero
    vectors, spam clusters) otherwise generates B^2 join output.
    """
    banded = srp_band_rows(
        df, vec_col, id_col, n_planes=n_planes, n_tables=n_tables, dim=dim
    )
    banded = _drop_hot_keys(banded, ["__t", "__bucket"], max_bucket_size)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__t") == F.col("b.__t"))
            & (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # normalize each vector ONCE before the pair join: cosine(a,b) inline
    # would recompute both norms per candidate pair (3 higher-order passes
    # per pair; candidates number ~n·T·B/2), pre-normalized it's a single
    # dot product per pair (A/B'd 174s -> 120s on the 20k-vector replica;
    # SCALE.md — and run dedup_exact on the vector digest FIRST: identical
    # copies belong to exact dedup, not LSH, 120s -> 13s there). The norm
    # goes through a real column so the transform lambda reads a column
    # ref, not a nested aggregate re-evaluated per element.
    normed = (
        df.withColumn("__norm", l2_norm(F.col(vec_col)))
        .filter(F.col("__norm") > 0)
        .select(
            F.col(id_col),
            F.transform(vec_col, lambda x: x.cast("double") / F.col("__norm")).alias("__vn"),
        )
    )
    va = normed.select(F.col(id_col).alias("id_a"), F.col("__vn").alias("__va"))
    vb = normed.select(F.col(id_col).alias("id_b"), F.col("__vn").alias("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        # threshold on the UNROUNDED dot product (the docstring's "exact-
        # cosine-verified" claim); rounding is display-only on the emitted
        # column — previously a pair at true cosine threshold-5e-7 slipped
        # through the rounded filter (round-2 advice).
        .withColumn("__cos", dot(F.col("__va"), F.col("__vb")))
        .filter(F.col("__cos") >= threshold)
        .withColumn("cosine", F.round(F.col("__cos"), 6))
        .select("id_a", "id_b", "cosine")
    )


def ann_topk_lsh(
    df: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing an SRP bucket with the
    query in ANY of ``n_tables`` independent hash tables (OR-amplification:
    a true neighbor at angle θ survives one table with p=(1-θ/π)^n_planes,
    and any-of-T with 1-(1-p)^T — tables buy recall, planes buy precision).

    Plan shape: per-row bucket array (no shuffle) -> posexplode (T rows per
    vector) -> equi-join on (table, bucket) against the query's T buckets
    (broadcast) -> distinct ids -> score candidates only. At 100 TB the
    (table, bucket) join replaces the full scan: ~n·T/2^n_planes candidate
    rows instead of n scored vectors.
    """
    shape = {"n_planes": n_planes, "n_tables": n_tables, "dim": dim}
    banded = srp_band_rows(df, vec_col, id_col, **shape)
    qb = srp_band_rows(query, "__qvec", **shape)
    cand_ids = (
        banded.join(F.broadcast(qb), ["__t", "__bucket"], "inner")
        .select(id_col)
        .distinct()
    )
    return rescore_topk(df, cand_ids, query, id_col, vec_col, k)


# --- product quantization (PQ) -------------------------------------------
# Fixed-point PQ: components are scaled to int64 (round(v * scale)) so every
# subspace distance, argmin, and ADC sum is exact integer arithmetic — the
# same value-gate discipline as the k-means / centroid operators. At 100 TB
# the point of PQ is storage: M uint8 codes replace D floats (32x at
# M=8/D=64), and query-time scan cost is a table lookup per subspace
# instead of a D-dim dot product.


def pq_components(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    sub_dim: int = 8,
    scale: int = 10000,
) -> DataFrame:
    """Explode vectors into fixed-point subspace components:
    (id, m = subspace, pos = offset within subspace, qv = round(v*scale))."""
    return df.select(F.col(id_col), F.posexplode(vec_col).alias("dim", "v")).select(
        id_col,
        F.floor(F.col("dim") / sub_dim).cast("int").alias("m"),
        (F.col("dim") % sub_dim).cast("int").alias("pos"),
        F.round(F.col("v").cast("double") * scale).cast("bigint").alias("qv"),
    )


def pq_subspace_distances(parts: DataFrame, codebook: DataFrame, id_col: str) -> DataFrame:
    """Exact squared L2 distance from every vector's subspace slice to every
    codeword of that subspace: broadcast the codebook (M x K x sub_dim
    rows — KB-sized), join on (m, pos), partial-agg the per-component
    squares map-side. Returns (id, m, code_id, d)."""
    diff = F.col("qv") - F.col("cv")
    return (
        parts.join(F.broadcast(codebook), ["m", "pos"])
        .groupBy(id_col, "m", "code_id")
        .agg(F.sum(diff * diff).alias("d"))
    )


def pq_assign(parts: DataFrame, codebook: DataFrame, id_col: str) -> DataFrame:
    """PQ encoding: per (vector, subspace), the argmin-distance codeword
    (ties break to the lowest code_id). The argmin window partitions by
    (id, m) — a narrow per-row key, never a corpus-sized frame. Returns
    (id, m, code_id): the M-byte code that replaces the vector."""
    from pyspark.sql.window import Window as W

    dists = pq_subspace_distances(parts, codebook, id_col)
    w = W.partitionBy(id_col, "m").orderBy(F.asc("d"), F.asc("code_id"))
    return (
        dists.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "m", "code_id")
    )


def pq_adc_topk(
    codes: DataFrame,
    query_dists: DataFrame,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Asymmetric distance computation: join each vector's code to the
    query's precomputed per-(m, code_id) distance table (M x K rows —
    broadcast) and sum over subspaces; top-k smallest via
    TakeOrderedAndProject (per-partition local top-k, k-row merge at the
    driver — no global sort)."""
    return (
        codes.join(F.broadcast(query_dists), ["m", "code_id"])
        .groupBy(id_col)
        .agg(F.sum("d").alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def signed_round_div(a: str, scale: int, m: str, div: str) -> str:
    """SQL for sign-split scaled integer rounding: round(|a| * scale / m)
    with the sign reapplied. Every division sees a NONNEGATIVE dividend,
    where floor, truncate and // agree — the cross-engine discipline this
    repo uses wherever a negative could reach an integer division
    (Spark's div truncates toward zero; DuckDB's // floors)."""
    return (
        f"(CASE WHEN {a} < 0 THEN -1 ELSE 1 END)"
        f" * ((2 * abs({a}) * {scale} + {m}) {div} (2 * {m}))"
    )


def power_iteration_top_component(
    df: DataFrame, vec_col: str, rounds: int = 3, dim: int = 64
) -> DataFrame:
    """k-step power iteration for the top principal direction of the
    CENTERED vector corpus, in exact int64 fixed-point (the
    kmeans_fixed_point discipline): components quantize to e6 once, the
    centroid is the exact floor-mean, per-vector dots downscale by 2e6
    and each new direction rescales to e4 by max-abs — all through
    :func:`signed_round_div`, so the result is bit-reproducible across
    engines and partitionings. Returns (dim int, v_e4 bigint), the
    k-step iterate from the all-ones start (NOT a convergence promise:
    the iterate approaches the true eigenvector at rate (l2/l1)^k, so on
    a near-isotropic corpus it correctly reflects that no dominant
    direction exists — see tests/test_clustering.py's planted-direction
    test for the anisotropic case, verified against numpy).

    The covariance is never materialized: each round is x(x.v), and the
    direction vector v lives on the DRIVER as a dim-sized int64 literal
    (round-10 optimization, the same shape as kmeans_fixed_point's
    driver-held centroids and MLlib's treeAggregate reductions): the
    per-vector dot and downscale are one map-side projection over the
    pinned quantized arrays, the dim-keyed x*d accumulation is ONE
    map-side-combinable aggregate whose dim result rows come back to the
    driver, and the max-abs rescale (`signed_round_div`, whose
    nonnegative-dividend truncating division is exactly Python's //) runs
    on those dim ints. The previous form kept the corpus EXPLODED as
    (row, dim, x) triples and per round shuffled them twice (row-keyed
    dot join + dim-keyed accumulate) — rows x dim rows through two
    exchanges per round instead of dim partial sums through one.

    ``dim`` must equal the vector width: the accumulation indexes by
    position, so a wider input would silently project onto the first
    ``dim`` coordinates — every row is therefore width-checked inline
    (raise_error, not a silent dim-join drop)."""
    import math

    checked = (
        f"CASE WHEN size({vec_col}) = {dim} THEN {vec_col}"
        f" ELSE raise_error(concat('power_iteration_top_component:"
        f" expected {dim}-dim vectors, got ',"
        f" CAST(size({vec_col}) AS STRING))) END"
    )
    spark = df.sparkSession
    q = df.select(
        F.expr(
            f"transform({checked},"
            " v -> CAST(CAST(v AS DOUBLE) * 1000000 AS BIGINT))"
        ).alias("qv"),
    ).localCheckpoint()
    cent_rows = (
        q.select(F.posexplode("qv").alias("dim", "val"))
        .groupBy("dim")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    if not cent_rows:
        # empty corpus: the previous iterative form propagated an empty
        # dim frame through every round and returned zero rows
        return spark.createDataFrame([], "dim int, v_e4 bigint")
    cent = [0] * dim
    for r in cent_rows:
        # exact floor-mean with DOUBLE division — bit-identical to the
        # previous in-plan F.floor(F.sum/F.count) and the DuckDB twin
        cent[r["dim"]] = int(math.floor(float(r["s"]) / float(r["n"])))
    # literal vectors ride in as ONE parsed SQL string each — building
    # them from per-element F.lit() Column calls costs a py4j round-trip
    # per component (measured ~1 s over 3 rounds at dim=64)
    cent_sql = "array(" + ",".join(f"{int(c)}L" for c in cent) + ")"
    v = [10000] * dim
    for _ in range(rounds):
        v_sql = "array(" + ",".join(f"{int(x)}L" for x in v) + ")"
        st = q.select(
            F.expr(f"zip_with(qv, {cent_sql}, (a, c) -> a - c)").alias("__x")
        )
        st = st.select(
            "__x",
            F.expr(
                f"aggregate(zip_with(__x, {v_sql}, (x, w) -> x * w),"
                " 0L, (acc, e) -> acc + e)"
            ).alias("__s"),
        )
        st = st.select(
            "__x",
            F.expr(
                "CAST(" + signed_round_div("__s", 1, "2000000", "div") + " AS BIGINT)"
            ).alias("__d"),
        )
        w_rows = (
            st.select(
                F.posexplode(
                    F.transform("__x", lambda x: x * F.col("__d"))
                ).alias("dim", "xd")
            )
            .groupBy("dim")
            .agg(F.sum("xd").cast("bigint").alias("w"))
            .collect()
        )
        wvec = [0] * dim
        for r in w_rows:
            wvec[r["dim"]] = int(r["w"])
        m = max(max(abs(x) for x in wvec), 1)  # greatest(MAX(abs(w)), 1)
        # signed_round_div(w, 10000, m): nonnegative dividend, so Spark's
        # truncating div == floor == Python //
        v = [
            (-1 if wv < 0 else 1) * ((2 * abs(wv) * 10000 + m) // (2 * m))
            for wv in wvec
        ]
    return spark.createDataFrame(
        [(i, int(v[i])) for i in range(dim)], "dim int, v_e4 bigint"
    ).orderBy("dim")


def ann_topk_lsh_multiprobe(
    df: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Multiprobe SRP-LSH top-k (Lv et al. 2007): score vectors sharing
    the query's bucket OR any 1-bit-flip neighbor of it, in any table —
    each flipped bit crosses ONE hyperplane, the perturbation most likely
    to recover a near neighbor that landed just across a boundary. Recall
    of ~(P+1)x the probes per table WITHOUT extra tables: the corpus-side
    layout (bucket table / L3 store) is unchanged, only the query fans
    out to (1 + n_planes) probe keys per table — the knob a 100 TB
    deployment turns when recall matters more than probe latency, since
    re-bucketing the corpus (more tables) costs an ingest pass but more
    probes cost only a wider IN-list at the scan.

    Plan shape: identical to :func:`ann_topk_lsh` (corpus buckets via the
    one Arrow-batched matmul, equi-join on (table, bucket), distinct,
    rescore) — the ONLY change is the broadcast probe frame growing from
    T rows to T x (1 + P)."""
    shape = {"n_planes": n_planes, "n_tables": n_tables, "dim": dim}
    banded = srp_band_rows(df, vec_col, id_col, **shape)
    qb = srp_band_rows(query, "__qvec", **shape, names=("__t", "__b0"))
    # probe 0 = the exact bucket; probe i = flip hyperplane i-1's bit
    probes = qb.select(
        "__t",
        F.explode(
            F.expr(
                f"array_union(array(__b0), transform(sequence(0, {n_planes - 1}),"
                " i -> CAST(__b0 ^ shiftleft(1, i) AS BIGINT)))"
            )
        ).alias("__bucket"),
    )
    cand_ids = (
        banded.join(F.broadcast(probes), ["__t", "__bucket"], "inner")
        .select(id_col)
        .distinct()
    )
    return rescore_topk(df, cand_ids, query, id_col, vec_col, k)


def binary_signature(vec_col: str) -> Column:
    """Sign-bit binary quantization (1 bit/dimension), packed into
    ``array<bigint>`` words: bit ``i`` of word ``w`` is set iff component
    ``w*64 + i`` is strictly positive. 32x smaller than float32 — the
    standard first-stage index for Hamming-filtered ANN serving (binary
    quantization + exact rescore). Pure SQL lambdas: the packing runs
    JVM-side inside whole-stage codegen, no Python, no explode — one row
    in, one row out."""
    return F.expr(
        f"""
        transform(
          sequence(0, CAST(ceil(size({vec_col}) / 64.0) AS INT) - 1),
          w -> aggregate(
                 sequence(0, 63),
                 CAST(0 AS BIGINT),
                 (acc, i) -> IF(w * 64 + i < size({vec_col})
                                AND {vec_col}[w * 64 + i] > CAST(0 AS FLOAT),
                                acc | shiftleft(CAST(1 AS BIGINT), i),
                                acc)))
        """
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two packed ``array<bigint>`` signatures:
    popcount of the per-word XOR, summed. Stays in codegen (bit_count is
    a JVM intrinsic over longs) — the 100 TB scan cost is memory
    bandwidth over 8-byte words, not float math over 256-byte vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def binary_hamming_topk(
    sigs: DataFrame,
    vectors: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    rerank: int = 50,
) -> DataFrame:
    """Binary-quantization ANN: Hamming top-``rerank`` over packed
    signatures, exact-cosine rescore of the survivors, top-``k`` out.

    ``sigs`` carries ``(id_col, __sig)`` — in production the persisted
    signature relation (16 bytes/row at dim=64 vs 260 for the vectors;
    the scan that touches every row reads ONLY it). ``vectors`` is the
    full-precision table consulted for exactly ``rerank`` rows via an
    id semi-join — point lookups against a pruned columnar scan, never a
    second full pass. ``query`` is a 1-row frame with ``__qvec``; its
    signature is computed inline and broadcast with the row.

    Ties break on the id at both stages, so the result is deterministic
    and oracle-replayable. Emits (id, hamming, cosine)."""
    q = query.withColumn("__qsig", binary_signature("__qvec"))
    cand = (
        sigs.crossJoin(F.broadcast(q.select("__qsig")))
        .withColumn("hamming", hamming_distance(F.col("__sig"), F.col("__qsig")))
        .select(id_col, "hamming")
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(rerank)
    )
    rescored = (
        vectors.join(cand, id_col, "inner")
        .crossJoin(F.broadcast(query))
        .withColumn("cosine", F.round(cosine(F.col(vec_col), F.col("__qvec")), 6))
    )
    return (
        rescored.select(id_col, "hamming", "cosine")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )
