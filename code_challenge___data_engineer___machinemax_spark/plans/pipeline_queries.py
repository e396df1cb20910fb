"""Round-4 training-pipeline + product-analytics shapes.

Five operator families a large-scale corpus/analytics engine needs that the
registry didn't cover yet: staged funnel conversion, deterministic
hash-based dataset splits, contiguous sequence packing (context-window
fill), monthly cohort retention, and triangle counting over the near-dup
graph. Every query has an exact DuckDB oracle; all arithmetic that crosses
the engine boundary is integer (month indexes, token counts, md5-derived
buckets, int64 fingerprints).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import tokenize, tokenize_sql
from ..tables import load_table
from .registry import query


@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_v FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(e.ts) AS t_c
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_v
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS t_p
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_c
        GROUP BY e.user_id
    )
    SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT '2_click' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM c
    UNION ALL
    SELECT '3_purchase' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM p
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked strictly after their
    first view, then purchased strictly after that first qualifying click.
    Each stage anchors on the MIN qualifying timestamp of the previous
    stage — the standard product-analytics funnel, not mere event-type
    co-occurrence (a click before any view does not advance the funnel).

    Scale: three aggregations and two joins, ALL keyed on user_id — the
    shuffles co-partition and AQE folds the join after the agg into the
    same exchange; per-stage frames shrink monotonically, and the final
    counts are metadata-sized. No windows, no skew risk beyond user_id
    itself (power users bound by their own event count)."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_v"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_v"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_c"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_c"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_p"))
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").cast("bigint").alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage(v, "1_view")
        .unionByName(stage(c, "2_click"))
        .unionByName(stage(p, "3_purchase"))
    )


# split thresholds: md5-bucket < 80 -> train, < 90 -> val, else test
_SPLIT_BUCKETS = 100
_TRAIN_LT, _VAL_LT = 80, 90


def hash_split_bucket(key) -> F.Column:
    """Deterministic 0..99 bucket from md5 of the key's string form — the
    standard leakage-free dataset-split assignment: stable across runs,
    engines and cluster layouts (no RNG, no partitioning dependence), and
    new rows never reshuffle old ones between splits."""
    col = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint")
        % _SPLIT_BUCKETS
    )


@query(
    "hash_split_assignment",
    oracle=f"""
    WITH b AS (
        SELECT lang,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % {_SPLIT_BUCKETS} AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < {_TRAIN_LT} THEN 'train'
                WHEN bucket < {_VAL_LT} THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(bucket) AS BIGINT) AS bucket_sum
    FROM b GROUP BY 1, 2
    """,
)
def hash_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split assignment by md5 hash bucket (80/10/10), with
    per-(split, lang) doc counts and the bucket sum as a value witness that
    both engines derived the SAME bucket per document (md5 hex -> first 8
    chars -> int64 — byte-identical in Spark and DuckDB, verified).

    Scale: one narrow projection + one small-domain groupBy; the md5 is
    per-row JVM codegen. This is how 100 TB corpora are split — never by
    rand() (irreproducible) or row position (reshuffles on append)."""
    d = load_table(spark, sf_dir, "documents")
    b = d.select("lang", hash_split_bucket("doc_id").alias("bucket"))
    split = (
        F.when(F.col("bucket") < _TRAIN_LT, "train")
        .when(F.col("bucket") < _VAL_LT, "val")
        .otherwise("test")
    )
    return (
        b.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("bucket").cast("bigint").alias("bucket_sum"),
        )
    )


_PACK_BUDGET = 512  # tokens per context window


@query(
    "sequence_packing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, CAST(len({tokenize_sql('text')}) AS BIGINT) AS n_tok
        FROM documents
    ), packed AS (
        SELECT lang, n_tok,
               CAST(floor(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / {_PACK_BUDGET}) AS BIGINT) AS pack_id
        FROM toks
    )
    SELECT lang, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM packed GROUP BY lang, pack_id
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing for LM training: documents fill
    fixed-size context windows ({_PACK_BUDGET} tokens) in deterministic
    (lang, doc_id) order; a document's pack is the window its START token
    falls into (exclusive prefix sum div budget — the streaming-friendly
    packing used when documents may span window boundaries).

    Scale: the window partitions by lang — in production the partition key
    is the shard (source, file-group), so each window is one ingest
    shard's docs, never a corpus-wide order; here lang is the stand-in
    that keeps the oracle deterministic. Integer token counts cross the
    engine boundary, never floats."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(tokenize("text")).cast("bigint").alias("n_tok")
    )
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    packed = toks.withColumn(
        "pack_id",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / _PACK_BUDGET).cast(
            "bigint"
        ),
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )


@query(
    "cohort_retention",
    oracle="""
    WITH m AS (
        SELECT o_custkey,
               CAST(EXTRACT(YEAR FROM o_orderdate) * 12
                    + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS midx
        FROM orders
    ), first AS (
        SELECT o_custkey, MIN(midx) AS cohort_midx FROM m GROUP BY o_custkey
    )
    SELECT f.cohort_midx,
           CAST(m.midx - f.cohort_midx AS BIGINT) AS month_offset,
           CAST(COUNT(DISTINCT m.o_custkey) AS BIGINT) AS n_customers
    FROM m JOIN first f ON m.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort retention matrix: customers grouped by the month of
    their FIRST order (integer month index — year*12+month, exact in both
    engines), counted as retained in every later month they order again.
    The classic growth-analytics triangle (cohort x offset).

    Scale: two shuffles on o_custkey (first-order agg + join back, AQE
    co-partitions them) and a final count-distinct on the tiny
    (cohort, offset) domain — count-distinct shuffles (cohort, offset,
    custkey) once rather than holding per-group sets."""
    o = load_table(spark, sf_dir, "orders")
    m = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("midx"),
    )
    first = m.groupBy("o_custkey").agg(F.min("midx").alias("cohort_midx"))
    return (
        m.join(first, "o_custkey")
        .select(
            "cohort_midx",
            (F.col("midx") - F.col("cohort_midx")).cast("bigint").alias("month_offset"),
            "o_custkey",
        )
        .groupBy("cohort_midx", "month_offset")
        .agg(F.count_distinct("o_custkey").cast("bigint").alias("n_customers"))
    )


def _triangle_oracle_sql() -> str:
    from .dedup_queries import _simhash_pairs_oracle_sql

    return f"""
    WITH pairs AS ({_simhash_pairs_oracle_sql()}),
    e AS (SELECT id_a, id_b FROM pairs)
    SELECT ab.id_a AS id_a, ab.id_b AS id_b, bc.id_b AS id_c
    FROM e ab
    JOIN e bc ON bc.id_a = ab.id_b
    JOIN e ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b
    """


@query("triangle_count", oracle=_triangle_oracle_sql())
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles (mutual near-dup triples, id_a < id_b < id_c) in the
    SimHash near-duplicate graph — the graph-shape signal dedup resolution
    uses to distinguish tight clusters (template families close under
    every pairing) from chains (a~b~c but a!~c, where transitive keep-one
    deletion is lossy).

    Scale: the classic two-path + closing-edge plan. Because every edge is
    stored a<b, each triangle is produced exactly once (a<b<c) with no
    orientation dedup. Edges come from the banded LSH generator (already
    hot-bucket capped, |E| ~ linear in docs), the wedge join shuffles on
    the shared endpoint, and the closing-edge join on (min, max) int keys
    — at 100 TB this is degree-bounded by the LSH cap, never all-pairs
    (operators/clustering.py triangles, which also localCheckpoints the
    pair frame so the self-join's three aliases reuse one materialization
    instead of recomputing the LSH pipeline three times)."""
    from ..operators.clustering import triangles
    from ..operators.dedup import simhash_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = simhash_near_dup_pairs(d, "doc_id", "text", bits=60, bands=4, max_hamming=3)
    return triangles(pairs)


_SHUFFLE_SEED, _SHUFFLE_SHARDS = "42", 16


@query(
    "shuffle_shard_order",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               md5('{_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS priority
        FROM documents
    ), sharded AS (
        SELECT doc_id, priority,
               CAST(('0x' || substring(priority, 1, 8)) AS BIGINT)
                   % {_SHUFFLE_SHARDS} AS shard
        FROM keyed
    ), ordered AS (
        SELECT shard, doc_id,
               ROW_NUMBER() OVER (PARTITION BY shard
                                  ORDER BY priority, doc_id) AS pos
        FROM sharded
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pos * (doc_id % 997)) AS BIGINT) AS order_checksum
    FROM ordered GROUP BY shard
    """,
)
def shuffle_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: every document gets a seeded
    md5 priority, the first 8 hex chars route it to one of 16 shards, and
    a per-shard rank fixes its position — the (shard, position) pair IS
    the epoch's read order. Reported per shard with an order checksum
    (sum of pos * (doc_id % 997)) that pins the full permutation: any
    engine that ranks even two documents differently breaks the hash.
    Seeded-hash ordering is how corpus shuffles stay reproducible across
    runs, engines, and cluster layouts — rand() gives a different epoch
    every run, and zipWithIndex freezes the accidental partition layout.

    Scale: the one window runs PARTITION BY shard — never a global
    ORDER BY — so each rank partition holds corpus/16 rows; at 100 TB the
    shard count is the knob (hash-balanced by construction, so shards stay
    even and each sort fits an executor, e.g. 2^14 shards ~ 6 GB each).
    New epochs change only the seed literal; nothing is re-materialized."""
    d = load_table(spark, sf_dir, "documents")
    pri = F.md5(F.concat(F.lit(_SHUFFLE_SEED + ":"), F.col("doc_id").cast("string")))
    sharded = d.select(
        "doc_id",
        pri.alias("priority"),
        (
            F.conv(F.substring(pri, 1, 8), 16, 10).cast("bigint") % _SHUFFLE_SHARDS
        ).alias("shard"),
    )
    pos = F.row_number().over(
        W.partitionBy("shard").orderBy("priority", "doc_id")
    )
    return (
        sharded.withColumn("pos", pos)
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("pos") * (F.col("doc_id") % 997))
            .cast("bigint")
            .alias("order_checksum"),
        )
    )


@query(
    "python_datasource_rollup",
    oracle="""
    WITH r AS (SELECT unnest(range(5000)) AS i),
    h AS (SELECT i, md5('s42:' || CAST(i AS VARCHAR)) AS h FROM r),
    ev AS (
        SELECT i AS event_id,
               CAST(('0x' || substring(h, 1, 8)) AS BIGINT) % 1000 AS user_id,
               ['view','click','purchase','error'][
                   CAST(CAST(('0x' || substring(h, 9, 2)) AS BIGINT) % 4 AS INT) + 1
               ] AS event_type,
               CAST(('0x' || substring(h, 11, 8)) AS BIGINT) % 1000000 AS value_e6
        FROM h)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(value_e6) AS BIGINT) AS total_value_e6,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM ev GROUP BY event_type
    """,
)
def python_datasource_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A rollup over the custom Python DataSource (sources/pyds.py, the
    Spark 4 ``pyspark.sql.datasource`` API): 5000 generated events read
    through ``spark.read.format("synthetic_events")`` across 8 planned
    input partitions, aggregated per event type. Every generated cell is
    md5(seed:i)-derived, so the DuckDB oracle replays the generator in SQL
    — the value gate covers the SOURCE integration (partition planning,
    Python->Arrow row transfer, option plumbing), not just downstream
    operators. The source also implements Python-side filter pushdown
    (event_type equality never materializes non-matching rows —
    tests/test_sources.py pins it); this query reads unfiltered so the
    totals cover the full domain."""
    from ..sources.pyds import register_synthetic_source

    register_synthetic_source(spark)
    ev = (
        spark.read.format("synthetic_events")
        .option("rows", "5000")
        .option("partitions", "8")
        .option("seed", "s42")
        .load()
    )
    return ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("value_e6").cast("bigint").alias("total_value_e6"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


def _bellman_ford_oracle(rounds: int = 4) -> str:
    """Unrolled Bellman-Ford oracle: one relax CTE per round — iteration
    expressed as plain SQL, no recursion needed for a fixed hop bound."""
    parts = [
        """
    WITH pairs AS (
        SELECT DISTINCT LEAST(a.l_suppkey, b.l_suppkey) AS s1,
                        GREATEST(a.l_suppkey, b.l_suppkey) AS s2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ), edges AS (
        SELECT s1 AS src, s2 AS dst, (s1 + s2) % 7 + 1 AS w FROM pairs
        UNION ALL
        SELECT s2, s1, (s1 + s2) % 7 + 1 FROM pairs
    ), d0 AS (
        SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
    )"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f""", d{k} AS (
        SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM d{k - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + e.w AS dist
            FROM d{k - 1} d JOIN edges e ON d.node = e.src
        ) GROUP BY node
    )"""
        )
    parts.append(
        f"""
    SELECT node, dist FROM d{rounds} ORDER BY node"""
    )
    return "".join(parts)


@query("bellman_ford_hops", oracle=_bellman_ford_oracle())
def bellman_ford_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths, hop-bounded: 4 Bellman-Ford
    relaxation rounds from supplier 1 over the co-supply graph (suppliers
    sharing an order; deterministic integer edge weights) — the
    Pregel-style message-passing skeleton, next to bfs_hops_from_customer
    (unweighted) and pagerank_customer_supplier (score-propagating).

    Each round is relax-then-min: the frontier table joins the edge list,
    unions the previous distances, and takes MIN per node — exactly the
    superstep a 1000-node graph engine runs, here as 4 fixed dataframe
    iterations (the hop bound makes the oracle expressible as unrolled
    CTEs, no recursion). Scale: the distance table is node-dimension
    sized and broadcast against the edge list each round; edges come from
    the order-width-bounded pair join (never a cross product), built once
    and reused across rounds. Integer weights and MIN make every round
    exactly deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sb"))
    pairs = (
        a.join(b, ["ok"])
        .filter(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("s1"), F.col("sb").alias("s2"))
        .distinct()
    )
    edges = (
        pairs.select(
            F.col("s1").alias("src"),
            F.col("s2").alias("dst"),
            ((F.col("s1") + F.col("s2")) % 7 + 1).alias("w"),
        )
        .unionByName(
            pairs.select(
                F.col("s2").alias("src"),
                F.col("s1").alias("dst"),
                ((F.col("s1") + F.col("s2")) % 7 + 1).alias("w"),
            )
        )
        .localCheckpoint()  # edges are reused every round — cut the lineage
    )
    dist = spark.createDataFrame([(1, 0)], "node long, dist long")
    for _ in range(4):
        relaxed = dist.join(edges, dist.node == edges.src).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
        )
    return dist.orderBy("node")
