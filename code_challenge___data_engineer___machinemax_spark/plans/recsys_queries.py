"""Recommender-system shapes: market-basket association rules and
item-item collaborative filtering over the order/lineitem transaction log.

These are the co-occurrence analytics a commerce pipeline derives from the
same fact table the OLAP queries scan: which parts sell together within an
order (association rules: support / confidence / lift), and which parts are
"similar" because the same customers buy them (item-item cosine over the
binary customer x part matrix — the Amazon-style neighborhood model).

Every score is assembled from exact int64 co-occurrence counts by ONE
shared arithmetic expression evaluated identically by Spark and DuckDB
(identical integer inputs + identical IEEE-754 tree = bit-identical
doubles), then trunc-scaled to a BIGINT — no float accumulation anywhere,
so the oracle compare is exact. Generalizes the reference's keyword
co-occurrence surface (api.py:22-26 keyword search over stored docs) from
text to transactions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load_table, read_parquet
from .registry import query

# lift = pair_n * N / (n_a * n_b), trunc-scaled to e6. The two int64
# products are exact; each is cast to double once and divided once — the
# identical expression tree on both engines. Spark CAST(double AS BIGINT)
# truncates toward zero; DuckDB rounds, so its twin wraps the same tree in
# an explicit trunc() — same resulting integer.
_LIFT_E6 = (
    "CAST(trunc(CAST(pair_n * baskets AS DOUBLE)"
    " / CAST(n_a * n_b AS DOUBLE) * 1e6) AS BIGINT)"
)
_LIFT_E6_SPARK = (
    "CAST(CAST(pair_n * baskets AS DOUBLE)"
    " / CAST(n_a * n_b AS DOUBLE) * 1e6 AS BIGINT)"
)

# cosine(i, j) over binary purchase vectors = co / sqrt(n_i * n_j).
_COSINE_E6 = (
    "CAST(trunc(CAST(co AS DOUBLE)"
    " / sqrt(CAST(n_a * n_b AS DOUBLE)) * 1e6) AS BIGINT)"
)
_COSINE_E6_SPARK = (
    "CAST(CAST(co AS DOUBLE)"
    " / sqrt(CAST(n_a * n_b AS DOUBLE)) * 1e6 AS BIGINT)"
)


@query(
    "association_rules",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ), counts AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY item
    ), total AS (
        SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS baskets FROM items
    ), pairs AS (
        SELECT a.item AS part_a, b.item AS part_b,
               CAST(COUNT(*) AS BIGINT) AS pair_n
        FROM items a JOIN items b
          ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    )
    SELECT part_a, part_b, pair_n, n_a, n_b, baskets,
           CAST(trunc(CAST(pair_n AS DOUBLE) / CAST(n_a AS DOUBLE) * 1e6)
                AS BIGINT) AS conf_ab_e6,
           {_LIFT_E6} AS lift_e6
    FROM (
        SELECT p.part_a, p.part_b, p.pair_n,
               ca.n AS n_a, cb.n AS n_b, t.baskets
        FROM pairs p
        JOIN counts ca ON p.part_a = ca.item
        JOIN counts cb ON p.part_b = cb.item
        CROSS JOIN total t
    )
    ORDER BY lift_e6 DESC, part_a, part_b
    LIMIT 100
    """,
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over orders: for every part pair
    co-purchased in >= 2 orders, the support count, directed confidence
    P(b | a), and lift P(a,b) / (P(a) P(b)) — the a-priori frequent-pair
    mining step reduced to its exact-count core, top-100 by lift.

    Scale: the pair generation joins the deduped (basket, item) table to
    itself ON THE BASKET KEY, so fan-out per basket is k(k-1)/2 with k
    bounded by order width (<= 7 lineitems in this schema) — per-row
    constant work, never a cross product. The HAVING >= 2 support floor
    prunes the singleton-pair tail before the dimension joins; the item
    count and basket total are dimension-sized broadcasts. At 100 TB the
    only fact-sized shuffles are the dedup groupBy and the basket
    self-join, both on the basket key — one co-partitioned exchange. Lift
    and confidence are single shared-expression doubles over exact int64
    counts, trunc-scaled, so both engines emit identical BIGINTs."""
    li = load_table(spark, sf_dir, "lineitem")
    # pinned: counts, total and both self-join sides consume it (5 scans
    # un-pinned — the recompute-tree audit discipline)
    items = li.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct().localCheckpoint()
    counts = items.groupBy("item").agg(F.count("*").cast("bigint").alias("n"))
    total = items.agg(
        F.countDistinct("basket").cast("bigint").alias("baskets")
    )
    # round-10 A/B note: a sorted-array pair-explode form (one
    # basket-keyed agg + map-side i<j explode) was measured ~20% SLOWER
    # here than this self-join — the join is whole-stage-codegen'd and
    # ReusedExchange dedups the two checkpoint reads, while per-basket
    # array lambdas run interpreted. The join stays.
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("part_a"), F.col("b.item").alias("part_b")
        )
        .agg(F.count("*").cast("bigint").alias("pair_n"))
        .filter(F.col("pair_n") >= 2)
    )
    joined = (
        pairs.join(
            F.broadcast(counts).withColumnRenamed("item", "part_a")
            .withColumnRenamed("n", "n_a"),
            "part_a",
        )
        .join(
            F.broadcast(counts).withColumnRenamed("item", "part_b")
            .withColumnRenamed("n", "n_b"),
            "part_b",
        )
        .crossJoin(F.broadcast(total))
    )
    return (
        joined.select(
            "part_a",
            "part_b",
            "pair_n",
            "n_a",
            "n_b",
            "baskets",
            F.expr(
                "CAST(CAST(pair_n AS DOUBLE) / CAST(n_a AS DOUBLE)"
                " * 1e6 AS BIGINT)"
            ).alias("conf_ab_e6"),
            F.expr(_LIFT_E6_SPARK).alias("lift_e6"),
        )
        .orderBy(F.desc("lift_e6"), "part_a", "part_b")
        .limit(100)
    )


# shared by item_item_similarity and its _from_store twin (the store is a
# cache of deterministic ingest work, so both run the identical oracle)
_ITEM_ITEM_ORACLE = f"""
    WITH ui AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), counts AS (
        SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM ui GROUP BY i
    ), co AS (
        SELECT a.i AS item_a, b.i AS item_b, CAST(COUNT(*) AS BIGINT) AS co
        FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ), scored AS (
        SELECT c.item_a, c.item_b, c.co, ca.n AS n_a, cb.n AS n_b,
               {_COSINE_E6} AS cosine_e6
        FROM co c
        JOIN counts ca ON c.item_a = ca.i
        JOIN counts cb ON c.item_b = cb.i
    ), sym AS (
        SELECT item_a AS item, item_b AS neighbor, co, cosine_e6 FROM scored
        UNION ALL
        SELECT item_b, item_a, co, cosine_e6 FROM scored
    )
    SELECT item, neighbor, co, cosine_e6, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY item ORDER BY cosine_e6 DESC, neighbor) AS rk
        FROM sym
    ) WHERE rk <= 3 AND item <= 200
    ORDER BY item, rk
    """


def _order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The joined (customer, part, order-recency) projection every recsys
    query starts from — lineitem ⋈ orders on the order key, fact-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("i"),
        F.col("o_orderdate").alias("od"),
        F.col("o_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln_"),
    )


def _cooccurrence(ui: DataFrame) -> DataFrame:
    """Customer-keyed item co-occurrence with the >= 2 support floor:
    (item_a < item_b, co). The self-join fans out per-user-basket-width²,
    keyed on the customer — one co-partitioned exchange, never a cross
    product; the floor prunes the singleton-pair tail before anything
    downstream. (Round-10 A/B: a sorted-array pair-explode form
    measured slower — codegen'd join + ReusedExchange beats interpreted
    per-basket lambdas; see association_rules.)"""
    a, b = ui.alias("a"), ui.alias("b")
    return (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("item_a"), F.col("b.i").alias("item_b"))
        .agg(F.count("*").cast("bigint").alias("co"))
        .filter(F.col("co") >= 2)
    )


def _last_pick(ol: DataFrame) -> DataFrame:
    """Each customer's chronologically last purchased part (u, held).
    (ok, ln_) is NOT unique in this synthetic lineitem — the same order
    can repeat a linenumber — so the part id closes the total order."""
    w_last = W.partitionBy("u").orderBy(
        F.desc("od"), F.desc("ok"), F.desc("ln_"), F.desc("i")
    )
    return (
        ol.withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("u", F.col("i").alias("held"))
    )


def _train_matrix(ol: DataFrame, lastpick: DataFrame) -> DataFrame:
    """The leave-last-out training matrix: distinct (u, i) over each
    customer's history minus every occurrence of their held item."""
    return (
        ol.join(lastpick, "u")
        .filter(F.col("i") != F.col("held"))
        .select("u", "i")
        .distinct()
    )


def _item_item_report(co: DataFrame, counts: DataFrame) -> DataFrame:
    """Scoring tail shared by item_item_similarity and its _from_store
    twin: cosine over exact counts, stack() mirroring, top-3 window over
    the item <= 200 report slice."""
    scored = (
        co.join(
            F.broadcast(counts).withColumnRenamed("i", "item_a")
            .withColumnRenamed("n", "n_a"),
            "item_a",
        )
        .join(
            F.broadcast(counts).withColumnRenamed("i", "item_b")
            .withColumnRenamed("n", "n_b"),
            "item_b",
        )
        .withColumn("cosine_e6", F.expr(_COSINE_E6_SPARK))
    )
    # Both directions in ONE pass: a self-union would recompute the whole
    # co-occurrence self-join per branch (verified in the physical plan);
    # stack() mirrors each scored pair row-side instead.
    sym = scored.select(
        F.expr(
            "stack(2, item_a, item_b, item_b, item_a) AS (item, neighbor)"
        ),
        "co",
        "cosine_e6",
    )
    w = W.partitionBy("item").orderBy(F.desc("cosine_e6"), "neighbor")
    # the item <= 200 report bound prunes whole window partitions, so it
    # commutes with the partitionBy-item ranking — apply it BEFORE the
    # window and the rank shuffle carries ~1% of the mirrored pairs
    return (
        sym.filter(F.col("item") <= 200)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "item", "neighbor", "co", "cosine_e6", F.col("rk").cast("int").alias("rk")
        )
        .orderBy("item", "rk")
    )


@query("item_item_similarity", oracle=_ITEM_ITEM_ORACLE)
def item_item_similarity(
    spark: SparkSession, sf_dir: str, max_user_items: int | None = None
) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity between parts
    over the binary customer x part purchase matrix, top-3 neighbors per
    part (reported for the first 200 parts to bound the checked output;
    the plan computes all of them).

    Scale: the classic CF trap is the user self-join exploding on heavy
    users — fan-out per customer is basket_size^2. ``max_user_items`` is
    the hot-user cap for that risk (the same skew-guard idiom as
    operators/dedup.py's ``max_bucket_size`` and prefix_filter_pairs'
    hot-token cap): when set, each customer's item set is sampled down to
    at most that many items by a deterministic per-user hash order
    (xxhash64(u, i) — unbiased w.r.t. item popularity, reproducible
    across runs), so one mega-basket customer contributes at most cap^2
    pairs instead of a quadratic skew cell. Defaults to None (exact) so
    the registered query stays oracle-parity; a 100 TB run sets it
    (DEPLOY-scale guidance: 500). The per-user window rides the same
    customer key the self-join shuffles on — co-partitioned, no extra
    exchange class. The >= 2 co-count floor prunes the long singleton
    tail before the dimension joins (counts are item-dimension-sized
    broadcasts). The top-3 pick is a window partitioned by item over the
    pruned neighbor lists — bounded frames, no global sort. Cosine =
    co / sqrt(n_a*n_b) evaluated once per row from exact int64 counts by
    the shared expression tree, so both engines produce identical
    trunc-scaled BIGINTs. The (u, i) matrix is localCheckpoint'd before
    fanning out into the counts agg and the two self-join sides — the
    same pin the L9 ingest path uses — so the lineitem ⋈ orders
    derivation executes once, not once per branch."""
    ui = _order_lines(spark, sf_dir).select("u", "i").distinct().localCheckpoint()
    if max_user_items is not None:
        w_cap = W.partitionBy("u").orderBy(F.xxhash64("u", "i"), "i")
        ui = (
            ui.withColumn("__rn", F.row_number().over(w_cap))
            .filter(F.col("__rn") <= max_user_items)
            .drop("__rn")
        )
    counts = ui.groupBy("i").agg(F.count("*").cast("bigint").alias("n"))
    return _item_item_report(_cooccurrence(ui), counts)


@query("item_item_similarity_from_store", oracle=_ITEM_ITEM_ORACLE)
def item_item_similarity_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`item_item_similarity` over the persisted L9 co-purchase graph
    (stores.ensure_copurchase_store): the fact-sized work — the lineitem ⋈
    orders join, the (u, i) dedup, and the customer-keyed co-occurrence
    self-join — ran once at ingest and landed as the (item_a, item_b, co)
    edge relation plus the (i, n) item-count dimension; the query is then
    two broadcast joins + the top-3 window over an item-dimension-sized
    input. This is the plan a 100 TB deployment actually serves (the
    nightly-refreshed neighborhood model), and it is the same artifact
    discipline as the SimHash L4 / SRP L3 / PQ stores: signature-keyed,
    idempotent, primed untimed in the bench warm-up. Identical output (and
    oracle) to the self-contained twin, which remains the ingest-cost
    regression guard."""
    from ..stores import ensure_copurchase_store

    path = ensure_copurchase_store(spark, sf_dir)
    co = read_parquet(spark, os.path.join(path, "edges"))
    counts = read_parquet(spark, os.path.join(path, "counts"))
    return _item_item_report(co, counts)


@query(
    "frequent_triples",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ), pairs AS (
        SELECT a.item AS i1, b.item AS i2
        FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), triples AS (
        SELECT a.item AS part_a, b.item AS part_b, c.item AS part_c,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM items a
        JOIN items b ON a.basket = b.basket AND a.item < b.item
        JOIN items c ON b.basket = c.basket AND b.item < c.item
        JOIN pairs pab ON pab.i1 = a.item AND pab.i2 = b.item
        JOIN pairs pbc ON pbc.i1 = b.item AND pbc.i2 = c.item
        JOIN pairs pac ON pac.i1 = a.item AND pac.i2 = c.item
        GROUP BY 1, 2, 3
        HAVING COUNT(*) >= 2
    )
    SELECT part_a, part_b, part_c, support
    FROM triples
    ORDER BY support DESC, part_a, part_b, part_c
    LIMIT 50
    """,
)
def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori level-3 frequent itemsets: part triples co-purchased in
    >= 2 orders, with the levelwise pruning that makes a-priori scale —
    a triple is only counted if ALL THREE of its member pairs are
    already frequent (downward closure), so the candidate space collapses
    before the expensive 3-way basket join. Top-50 by support.

    Scale: the basket self-joins fan out k(k-1)(k-2)/6 per basket with k
    bounded by order width (<= 7), and the three frequent-pair semi-joins
    prune candidates with broadcast-sized tables (frequent pairs are a
    tiny fraction of the pair space at any real support floor). This is
    the canonical distributed a-priori step: candidate generation stays
    basket-local, pruning uses the PREVIOUS level's output, and only the
    surviving candidates shuffle to the count. The 2-itemset level is
    association_rules one shelf up."""
    li = load_table(spark, sf_dir, "lineitem")
    # pin the basket-item table (five join sides consume it) and the
    # frequent-pair level (three semi-join prunes consume it) — un-pinned
    # the lineitem scan + distinct re-ran per branch (9 scans measured)
    items = li.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct().localCheckpoint()
    a = items.alias("a")
    b = items.alias("b")
    c = items.alias("c")
    pairs = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("i1"), F.col("b.item").alias("i2"))
        .agg(F.count("*").alias("pn"))
        .filter(F.col("pn") >= 2)
        .select("i1", "i2")
        .localCheckpoint()
    )
    cand = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .join(
            c,
            (F.col("b.basket") == F.col("c.basket"))
            & (F.col("b.item") < F.col("c.item")),
        )
        .select(
            F.col("a.basket").alias("basket"),
            F.col("a.item").alias("part_a"),
            F.col("b.item").alias("part_b"),
            F.col("c.item").alias("part_c"),
        )
    )
    pruned = (
        cand.join(
            F.broadcast(pairs).withColumnRenamed("i1", "part_a")
            .withColumnRenamed("i2", "part_b"),
            ["part_a", "part_b"],
        )
        .join(
            F.broadcast(pairs).withColumnRenamed("i1", "part_b")
            .withColumnRenamed("i2", "part_c"),
            ["part_b", "part_c"],
        )
        .join(
            F.broadcast(pairs).withColumnRenamed("i1", "part_a")
            .withColumnRenamed("i2", "part_c"),
            ["part_a", "part_c"],
        )
    )
    return (
        pruned.groupBy("part_a", "part_b", "part_c")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(F.desc("support"), "part_a", "part_b", "part_c")
        .limit(50)
    )


# shared by recsys_hitrate_eval and its _from_store twin
_HITRATE_ORACLE = """
    WITH ol AS (
        SELECT o.o_custkey AS u, l.l_partkey AS i, o.o_orderdate AS od,
               o.o_orderkey AS ok, l.l_linenumber AS ln_
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), lastpick AS (
        SELECT u, i AS held FROM (
            SELECT u, i, ROW_NUMBER() OVER (
                PARTITION BY u
                ORDER BY od DESC, ok DESC, ln_ DESC, i DESC) AS rn
            FROM ol)
        WHERE rn = 1
    ), train AS (
        SELECT DISTINCT ol.u, ol.i
        FROM ol JOIN lastpick lp ON ol.u = lp.u
        WHERE ol.i <> lp.held
    ), co AS (
        SELECT a.i AS item_a, b.i AS item_b, CAST(COUNT(*) AS BIGINT) AS co
        FROM train a JOIN train b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ), sym AS (
        SELECT item_a AS i, item_b AS j, co FROM co
        UNION ALL
        SELECT item_b, item_a, co FROM co
    ), symk AS (
        SELECT i, j, co FROM (
            SELECT i, j, co, ROW_NUMBER() OVER (
                PARTITION BY i ORDER BY co DESC, j) AS nrk
            FROM sym)
        WHERE nrk <= 10
    ), cand AS (
        SELECT t.u, s.j, CAST(SUM(s.co) AS BIGINT) AS score
        FROM train t JOIN symk s ON t.i = s.i
        WHERE NOT EXISTS (
            SELECT 1 FROM train t2 WHERE t2.u = t.u AND t2.i = s.j
        )
        GROUP BY 1, 2
    ), ranked AS (
        SELECT u, j, ROW_NUMBER() OVER (
            PARTITION BY u ORDER BY score DESC, j) AS rk
        FROM cand
    ), eval_ AS (
        SELECT lp.u,
               CASE WHEN EXISTS (SELECT 1 FROM train t WHERE t.u = lp.u)
                    THEN 1 ELSE 0 END AS eligible,
               CASE WHEN EXISTS (
                   SELECT 1 FROM ranked r
                   WHERE r.u = lp.u AND r.j = lp.held AND r.rk <= 10)
                    THEN 1 ELSE 0 END AS hit
        FROM lastpick lp
    )
    SELECT CAST(SUM(eligible) AS BIGINT) AS n_eval,
           CAST(SUM(hit) AS BIGINT) AS hits_at10,
           CAST(SUM(hit) * 1000000 // SUM(eligible) AS BIGINT)
               AS hitrate_e6
    FROM eval_
    """


def _hitrate_report(
    lastpick: DataFrame, train: DataFrame, co: DataFrame
) -> DataFrame:
    """Eval tail shared by recsys_hitrate_eval and its _from_store twin:
    top-10 neighbor truncation, candidate scoring with the owned-item
    anti-join, per-user ranking, and the one-row counter aggregate."""
    sym = co.select(
        F.col("item_a").alias("i"), F.col("item_b").alias("j"), "co"
    ).unionAll(
        co.select(
            F.col("item_b").alias("i"), F.col("item_a").alias("j"), "co"
        )
    )
    # top-10 neighbor truncation BEFORE the candidate join: an item-keyed
    # window over the (floored) co matrix — small frames, one item-keyed
    # shuffle — that turns candidate volume from items-per-user x
    # full-neighbor-list (23.6M rows at sf0.1, unbounded in corpus
    # density) into items-per-user x 10 (bounded; see docstring for the
    # measured N sweep). The oracle applies the identical truncation with
    # the identical (co DESC, j) tie-break.
    w_nb = W.partitionBy("i").orderBy(F.desc("co"), "j")
    symk = (
        sym.withColumn("nrk", F.row_number().over(w_nb))
        .filter(F.col("nrk") <= 10)
        .drop("nrk")
    )
    # one u-keyed exchange serves BOTH the (u, j) score aggregate and the
    # per-u ranking window (round-10 optimization, guide §2.4 "two
    # operations keyed the same way share one exchange"): HashPartitioning
    # on u satisfies the (u, j) clustered distribution, so the explicit
    # repartition replaces the groupBy exchange AND the window exchange
    cand = (
        train.join(symk, "i")
        .join(
            train.select(F.col("u").alias("u"), F.col("i").alias("j")),
            ["u", "j"],
            "left_anti",
        )
        .repartition(F.col("u"))
        .groupBy("u", "j")
        .agg(F.sum("co").cast("bigint").alias("score"))
    )
    ranked = cand.withColumn(
        "rk",
        F.row_number().over(W.partitionBy("u").orderBy(F.desc("score"), "j")),
    ).filter(F.col("rk") <= 10)
    # rename before the join: ranked descends from lastpick, so
    # ranked["u"] == lastpick["u"] would resolve to the same attribute
    # (trivially-true predicate) instead of an equi-join key
    held_keyed = lastpick.select(
        F.col("u").alias("hu"), F.col("held").alias("hj")
    )
    # counter algebra (round-10 optimization): eligible users are exactly
    # DISTINCT train.u (train descends from lastpick, so every train user
    # holds out an item), and the hit rows are already unique per user
    # ((u, j) is unique post-aggregate, held is one row per user), so the
    # previous lastpick-frame reassembly — two left joins + a per-user
    # SUM — collapses to two independent one-row aggregates joined by a
    # 1x1 crossJoin. Removes the eligible distinct exchange, the lastpick
    # sort-merge join, and the hits distinct. Identical counters.
    n_eval = train.agg(F.countDistinct("u").cast("bigint").alias("n_eval"))
    hits = ranked.join(
        held_keyed,
        (F.col("u") == F.col("hu")) & (F.col("j") == F.col("hj")),
    ).agg(F.count("*").cast("bigint").alias("hits_at10"))
    return n_eval.crossJoin(F.broadcast(hits)).select(
        "n_eval",
        "hits_at10",
        F.expr("hits_at10 * 1000000 DIV n_eval").cast("bigint").alias("hitrate_e6"),
    )


@query("recsys_hitrate_eval", oracle=_HITRATE_ORACLE)
def recsys_hitrate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-last-item-out hit-rate@10 for the co-occurrence recommender:
    each customer's chronologically last purchased part (every occurrence
    of it) is held out, the item-item co-count matrix is rebuilt from the
    remaining history only (leakage-free by construction), each item's
    neighbor list is TRUNCATED to its top-10 neighbors by co-count (the
    standard offline-eval contract — the served model is a top-N
    neighborhood, so the eval scores the same artifact; cf. the top-3
    lists `item_item_similarity` serves), each customer is scored on
    sum-of-co-counts over their training items, and a hit is the held-out
    part appearing in their top-10 — the offline eval harness for
    `item_item_similarity`.

    Scale: the last-pick window partitions by customer (per-user frames);
    the co matrix reuses the customer-keyed self-join bounded by per-user
    basket width with the >= 2 support floor pruning the tail. The top-N
    neighbor truncation (item-keyed window over the co matrix, bounded
    frames) caps candidate fan-out at items-per-user x N — without it
    candidate volume is items-per-user x full-neighbor-list-length, the
    one shape in the suite that grew unboundedly with corpus density.
    N = 10, chosen by measurement at sf0.1: untruncated = 23.6M candidate
    rows / 19.1 s isolated; N=50 trimmed only 6% (neighbor lists are
    mostly short — the binding factor is the per-user item count, not
    list length) for 15.5 s; N=10 = 8.1 s with the IDENTICAL hitrate
    (333e-6) at both N. Already-owned items are removed by a user-keyed
    anti-join; the top-10 window partitions by user over the small
    candidate frame. Output is one row of exact int64 counters; the rate
    is integer DIV."""
    ol = _order_lines(spark, sf_dir)
    # lastpick / train / co are each referenced by several downstream
    # branches (self-join sides, union arms, anti-joins, the eligible and
    # hit counters) — un-materialized, Spark recomputes the lineitem
    # join + window once PER REFERENCE (measured 13.7 s in the r5 bench;
    # the same recompute class as the textrank edge-build fix, SCALE.md).
    # localCheckpoint pins each at its small post-reduction size: per-user
    # picks, distinct (u, i) pairs, and the floored co-count matrix.
    lastpick = _last_pick(ol).localCheckpoint()
    train = _train_matrix(ol, lastpick).localCheckpoint()
    co = _cooccurrence(train).localCheckpoint()
    return _hitrate_report(lastpick, train, co)


@query("recsys_hitrate_eval_from_store", oracle=_HITRATE_ORACLE)
def recsys_hitrate_eval_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`recsys_hitrate_eval` over the persisted L9 co-purchase store
    (stores.ensure_copurchase_store): the leave-last-out split artifacts —
    per-user held item, the leakage-free (u, i) training matrix, and the
    train-only co-occurrence edges — are exactly what a production offline
    eval materializes once per model refresh; every downstream eval run
    (new K, new scorer, new slice) then starts from the parquet relations
    instead of re-running the fact-sized window + self-join. The query is
    the shared eval tail only: the top-10 truncation window over the edge
    relation, the candidate join, and the counter aggregate. Parquet pins
    the intermediates, so the localCheckpoints the self-contained twin
    needs are unnecessary here. Identical output (and oracle) to the
    self-contained twin, which remains the ingest-cost regression guard."""
    from ..stores import ensure_copurchase_store

    path = ensure_copurchase_store(spark, sf_dir)
    lastpick = read_parquet(spark, os.path.join(path, "eval_lastpick"))
    train = read_parquet(spark, os.path.join(path, "eval_train"))
    co = read_parquet(spark, os.path.join(path, "eval_edges"))
    return _hitrate_report(lastpick, train, co)


@query(
    "policy_replay_eval",
    oracle="""
    WITH train AS (
        SELECT user_id, event_type, COUNT(*) AS c
        FROM events WHERE day(ts) % 2 = 0 GROUP BY user_id, event_type
    ),
    policy AS (
        SELECT user_id, event_type AS rec FROM (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY c DESC, event_type) AS rn
            FROM train
        ) WHERE rn = 1
    ),
    eval AS (
        SELECT e.user_id, e.event_type,
               CAST(trunc(e.value * 100) AS BIGINT) AS val_c, p.rec
        FROM events e JOIN policy p ON p.user_id = e.user_id
        WHERE day(e.ts) % 2 = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_events,
           CAST(SUM(CASE WHEN event_type = rec THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
           CAST(SUM(CASE WHEN event_type = rec THEN val_c ELSE 0 END) AS BIGINT)
               AS matched_value_c,
           CAST(CASE WHEN SUM(CASE WHEN event_type = rec THEN 1 ELSE 0 END) = 0
                THEN 0 ELSE SUM(CASE WHEN event_type = rec THEN val_c ELSE 0 END)
                     // SUM(CASE WHEN event_type = rec THEN 1 ELSE 0 END) END
                AS BIGINT) AS value_per_match_c,
           CAST(SUM(val_c) // COUNT(*) AS BIGINT) AS value_per_logged_c,
           CAST((1000000 * SUM(CASE WHEN event_type = rec THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS match_rate_e6
    FROM eval
    """,
)
def policy_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation by replay (Li et al. 2011, the contextual-
    bandit offline protocol): the candidate policy recommends, per user,
    their modal event type from the training days (even calendar days;
    ties break alphabetically — deterministic), and is scored against the
    held-out odd days by KEEPING only logged events whose action matches
    the policy's choice — the unbiased estimator of the policy's online
    value when logging is uniform. One row: eval volume, matched volume,
    cent-exact matched value mass, value-per-match vs value-per-logged-
    event (the lift readout), and the match rate.

    Exactness: values truncate to cents once; every reported number is a
    BIGINT count, sum, or floor division. Scale shape: the policy is a
    user-keyed count agg + per-user argmax window (partitions = one
    user's <=5 types); replay is one user-keyed equi-join of the eval
    split against that policy frame, then a single conditional aggregate
    — both bucketable by user_id (DEPLOY L1), nothing wider than the
    user domain ever shuffles."""
    e = load_table(spark, sf_dir, "events")
    train = (
        e.filter(F.dayofmonth("ts") % 2 == 0)
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("c"))
    )
    w = W.partitionBy("user_id").orderBy(F.desc("c"), F.asc("event_type"))
    policy = (
        train.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("rec"))
    )
    ev = (
        e.filter(F.dayofmonth("ts") % 2 == 1)
        .join(policy, "user_id")
        .select(
            "event_type",
            "rec",
            F.expr("CAST(value * 100 AS BIGINT)").alias("val_c"),
        )
    )
    matched = F.sum(F.when(F.col("event_type") == F.col("rec"), 1).otherwise(0))
    matched_val = F.sum(
        F.when(F.col("event_type") == F.col("rec"), F.col("val_c")).otherwise(0)
    )
    counts = ev.agg(
        F.count("*").cast("bigint").alias("n_eval_events"),
        matched.cast("bigint").alias("n_matched"),
        matched_val.cast("bigint").alias("matched_value_c"),
        F.sum("val_c").cast("bigint").alias("total_value_c"),
    )
    return counts.select(
        "n_eval_events",
        "n_matched",
        "matched_value_c",
        F.when(F.col("n_matched") == 0, F.lit(0))
        .otherwise(F.expr("matched_value_c div n_matched"))
        .cast("bigint")
        .alias("value_per_match_c"),
        F.expr("total_value_c div n_eval_events").cast("bigint").alias("value_per_logged_c"),
        F.expr("(1000000 * n_matched) div n_eval_events")
        .cast("bigint")
        .alias("match_rate_e6"),
    )
