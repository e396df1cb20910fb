"""Physical-plan shape assertions: the 100 TB properties (pushdown,
broadcast, top-k without global sort, partial aggregation) hold in the
plans Catalyst actually produces."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from code_challenge___data_engineer___machinemax_spark import plans
from code_challenge___data_engineer___machinemax_spark.session import sql_executions
from code_challenge___data_engineer___machinemax_spark.tables import load_table

_QS = plans.all_queries()


def explain_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_point_lookup_pushes_filter_to_scan(spark, sf_dir):
    txt = explain_text(_QS["point_lookup_order"](spark, sf_dir))
    assert "PushedFilters" in txt
    assert "EqualTo(o_orderkey,421)" in txt.replace(" ", "")


def test_scan_prunes_columns(spark, sf_dir):
    txt = explain_text(_QS["most_recent_orders"](spark, sf_dir))
    # only the 3 selected columns reach the scan
    assert "o_orderkey" in txt and "o_totalprice" in txt
    assert "o_orderpriority" not in txt.split("ReadSchema")[1].splitlines()[0]


def test_q5_joins_broadcast_dims(spark, sf_dir):
    txt = explain_text(_QS["q5_revenue_by_nation"](spark, sf_dir))
    assert txt.count("BroadcastHashJoin") >= 4  # customer/supplier/nation/region
    assert "SortMergeJoin" in txt or "ShuffledHashJoin" in txt or txt.count("BroadcastHashJoin") >= 5


def test_topk_uses_take_ordered(spark, sf_dir):
    txt = explain_text(_QS["most_recent_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in txt  # no global sort for ORDER BY+LIMIT


def test_agg_has_partial_phase(spark, sf_dir):
    txt = explain_text(_QS["q1_pricing_summary"](spark, sf_dir))
    assert "partial_sum" in txt  # map-side combine before the shuffle
    assert txt.count("HashAggregate") >= 2  # partial + final


def test_filter_pushdown_on_timestamp(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-01-01").cast("timestamp")
    ).select("l_orderkey")
    txt = explain_text(l)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in txt


def test_simhash_spreads_once_on_the_id(spark, sf_dir):
    # the narrow-scan spread hashes on doc_id and the vote aggregate groups
    # on doc_id, so the aggregate reuses that one exchange
    txt = explain_text(_QS["simhash_fingerprints"](spark, sf_dir))
    exchanges = [
        sec for sec in txt.split("\n\n") if re.match(r"\(\d+\) Exchange\n", sec.lstrip())
    ]
    assert len(exchanges) == 1, exchanges
    assert "Arguments: hashpartitioning(doc_id" in exchanges[0]
    assert "RoundRobinPartitioning" not in txt


def test_keyword_search_stays_jvm_side(spark, sf_dir):
    txt = explain_text(_QS["keyword_search_hit"](spark, sf_dir))
    # the tokenize+overlap filter must be JVM-side (no Python eval operators)
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt
    # the cheap substring guard accompanies the expensive overlap filter
    assert "Contains" in txt or "contains" in txt


def test_late_lineitems_is_semi_join_with_pushdown(spark, sf_dir):
    txt = explain_text(_QS["orders_with_late_lineitems"](spark, sf_dir))
    assert "LeftSemi" in txt  # EXISTS decorrelates to a semi join, not inner+distinct
    assert "GreaterThanOrEqual(o_orderdate" in txt  # date range reaches the scan


def test_large_quantity_orders_topk_and_partial_agg(spark, sf_dir):
    txt = explain_text(_QS["large_quantity_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in txt  # LIMIT never becomes a global sort
    assert "partial_sum" in txt  # HAVING's sum has a map-side phase


def test_range_join_keeps_equi_key(spark, sf_dir):
    # the interval predicate must ride on the user_id equi join — a nested-
    # loop (cartesian-per-key-pair) plan would be quadratic at scale
    txt = explain_text(_QS["views_preceding_purchase"](spark, sf_dir))
    assert "NestedLoop" not in txt and "CartesianProduct" not in txt


def test_best_order_per_segment_broadcasts_dim(spark, sf_dir):
    txt = explain_text(_QS["best_order_per_segment"](spark, sf_dir))
    assert "BroadcastHashJoin" in txt
    # max_by/min_by plan as SortAggregate; the partial (map-side) phase must
    # still exist so only 5 rows per partition reach the shuffle
    assert "partial_max_by" in txt


def test_semantic_dedup_pairing_is_equi_join(spark, sf_dir):
    # the within-cluster pairing must be a HASH EQUI-JOIN on centroid_id
    # (the SemDeDup bucket key) — never a nested-loop over data. Round-10:
    # the assignment is now a map-side projection (driver-held centroid
    # literals), so at this scale AQE broadcasts one pairing side and the
    # plan shows BroadcastHashJoin keyed on centroid_id; on a corpus-sized
    # deployment the same logical join degrades to a shuffled hash/sort-
    # merge join, i.e. hashpartitioning(centroid_id...). Accept either
    # physical form, but require the centroid_id equi-join keys.
    txt = explain_text(_QS["semantic_dedup_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in txt
    assert (
        "hashpartitioning(centroid_id" in txt
        or "keys [1]: [centroid_id" in txt
    )
    # every nested-loop in the plan is the k-row centroid broadcast, never
    # a data-sized side
    for ln in txt.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln


def test_pipeline_text_ops_stay_jvm_side(spark, sf_dir):
    for name in ("document_chunks", "pii_redaction", "benchmark_contamination"):
        txt = explain_text(_QS[name](spark, sf_dir))
        assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt, name


def test_raw_sql_interface_matches_dataframe_path(spark, sf_dir):
    """The SQL surface (register_views + spark.sql) answers exactly what the
    DataFrame registry answers — users can run their oracle-dialect-adjacent
    SQL directly against the engine."""
    from code_challenge___data_engineer___machinemax_spark.tables import run_sql

    got = run_sql(
        spark, sf_dir,
        """
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderstatus
        """,
    ).collect()
    want = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(20,4)")).cast("double").alias("total"),
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


# --- TPC-H suite plan shapes (plans/tpch_queries.py) -----------------------

def test_tpch_q21_has_no_self_join(spark, sf_dir):
    # the EXISTS/NOT-EXISTS decorrelation is a window over the per-supplier
    # aggregate, not an aggregate joined back to itself
    txt = explain_text(_QS["q21_waiting_suppliers"](spark, sf_dir))
    assert "SortMergeJoin" not in txt
    assert "Window" in txt
    assert "TakeOrderedAndProject" in txt


def test_tpch_dims_broadcast(spark, sf_dir):
    # star joins keep every dimension on the broadcast side
    for name, min_bcast in [
        ("q9_product_profit", 3),       # supplier, part, nation
        ("q8_market_share", 4),         # part, supplier, nation x2, region
        ("q10_returned_items", 1),      # nation
        ("q19_discounted_revenue", 1),  # filtered part
    ]:
        txt = explain_text(_QS[name](spark, sf_dir))
        assert txt.count("BroadcastHashJoin") >= min_bcast, name


def test_tpch_filters_push_to_scan(spark, sf_dir):
    # the selective predicates reach the parquet scan, not a post-scan Filter
    txt = explain_text(_QS["q6_forecast_revenue"](spark, sf_dir))
    pushed = txt.split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_tpch_semi_and_anti_joins(spark, sf_dir):
    # q4's EXISTS is a semi join (no fan-out), q16's NOT IN an anti join
    assert "LeftSemi" in explain_text(_QS["q4_order_priority"](spark, sf_dir))
    assert "LeftAnti" in explain_text(_QS["q16_part_supplier_variety"](spark, sf_dir))


def test_tpch_topk_take_ordered(spark, sf_dir):
    # LIMIT queries avoid global sort materialization
    for name in ("q10_returned_items", "q18_large_orders", "q2_min_cost_supplier"):
        assert "TakeOrderedAndProject" in explain_text(_QS[name](spark, sf_dir)), name


def test_driver_priority_names_resolve_and_fill_window():
    """Rotation guard: every DRIVER_PRIORITY name must exist in the
    registry (a typo would silently shrink the driver's 50-query window)
    and must carry an oracle (rows-only queries waste a window slot), and
    the window must be exactly full."""
    from code_challenge___data_engineer___machinemax_spark.plans.registry import (
        DRIVER_PRIORITY,
        _REGISTRY,
    )

    unknown = [n for n in DRIVER_PRIORITY if n not in _REGISTRY]
    assert not unknown, f"DRIVER_PRIORITY names not registered: {unknown}"
    rows_only = [n for n in DRIVER_PRIORITY if _REGISTRY[n].oracle is None]
    assert not rows_only, f"rows-only queries waste window slots: {rows_only}"
    assert len(DRIVER_PRIORITY) == len(set(DRIVER_PRIORITY)) == 50


def test_session_peak_overlap_no_nested_loop(spark, sf_dir):
    # the range-join-to-equi-join rewrite must hold: overlap is an
    # equi-join on the spanned hour bucket (broadcast 24-row peak dim),
    # never a data-sized nested loop
    txt = explain_text(_QS["session_peak_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in txt
    assert "BroadcastHashJoin" in txt
    for ln in txt.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln


def test_priority_sample_is_take_ordered(spark, sf_dir):
    # hash-priority sampling must not materialize a global sort
    txt = explain_text(_QS["priority_sample_docs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in txt
    assert "Sort [" not in txt  # no separate global Sort node


def test_gap_fill_windows_are_partitioned(spark, sf_dir):
    # the forward-fill window partitions by event_type — never the
    # single-partition global window decile_revenue_share once had
    txt = explain_text(_QS["events_gap_fill"](spark, sf_dir))
    assert "Window" in txt
    assert "hashpartitioning(event_type" in txt


def test_sketch_aggs_have_partial_phase(spark, sf_dir):
    # the whole scale story of the sketches is map-side combine: partial
    # max (HLL register merge) / partial count (CMS cells) before shuffle
    txt = explain_text(_QS["hll_user_registers"](spark, sf_dir))
    assert "partial_max" in txt
    txt = explain_text(_QS["cms_heavy_hitters"](spark, sf_dir))
    assert "partial_count" in txt
    assert "CartesianProduct" not in txt


def test_line_dedup_shuffles_digests_not_text(spark, sf_dir):
    # only 32-char digests shuffle: the exploded line text must be
    # projected away before the exchange
    txt = explain_text(_QS["line_dedup_stats"](spark, sf_dir))
    assert "hashpartitioning(digest" in txt
    import re

    for m in re.finditer(r"Arguments: hashpartitioning\([^)]*\)", txt):
        assert "line" not in m.group(0)


def test_prefix_pairs_no_cartesian_and_partitioned_window(spark, sf_dir):
    # prefix filtering must plan as token equi-joins with per-document
    # windows — never a cartesian/data-sized nested loop, never a global
    # (unpartitioned) window
    txt = explain_text(_QS["set_similarity_prefix_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in txt
    assert "NestedLoopJoin" not in txt
    assert "hashpartitioning(doc_id" in txt  # the per-doc prefix window


def test_dsir_scoring_join_broadcasts_model(spark, sf_dir):
    # the 256-bucket model must broadcast to the per-token scoring join —
    # the corpus-sized side never shuffles on the bucket key
    txt = explain_text(_QS["dsir_importance_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt


def test_perplexity_terciles_have_no_global_window(spark, sf_dir):
    # the corpus-wide NTILE must be the scalable_ntile plan (range
    # exchange + partitioned local ranks), never a single-partition window.
    # The range layout is pinned by a localCheckpoint, so its exchange runs
    # in the SQL executions started while the frame is built, and the
    # frame's own plan starts at the checkpointed rows. Executions are
    # selected by id: the store drops its oldest beyond retainedExecutions.
    before = max((i for i, _ in sql_executions(spark)), default=-1)
    df = _QS["perplexity_tercile_mix"](spark, sf_dir)
    built = [plan for i, plan in sql_executions(spark) if i > before]
    txt = explain_text(df)
    assert "rangepartitioning" in "\n".join([*built, txt]).lower()
    assert "ntile(" not in txt.lower()  # tile comes from rank arithmetic


def test_cdc_merge_anti_join_broadcasts_touched_keys(spark, sf_dir):
    # survivors = base ANTI-JOIN touched-keys must broadcast the delta key
    # set; the merge never shuffles the base on its own
    txt = explain_text(_QS["cdc_merge_apply"](spark, sf_dir))
    assert "BroadcastHashJoin" in txt and "LeftAnti" in txt
    assert "CartesianProduct" not in txt


def test_hard_negative_join_is_broadcast_bounded(spark, sf_dir):
    # the label-inequality theta join is legal ONLY because the anchor side
    # broadcasts (bounded by the anchor count) — never a data-sized loop
    txt = explain_text(_QS["hard_negative_mining"](spark, sf_dir))
    for ln in txt.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln
    assert "CartesianProduct" not in txt


def test_cluster_keywords_windows_are_partitioned(spark, sf_dir):
    txt = explain_text(_QS["cluster_keywords"](spark, sf_dir))
    assert "hashpartitioning(centroid_id" in txt  # per-cluster top-3 window


def test_bloom_membership_guarantees(spark, sf_dir):
    # Bloom's contract: NO false negatives (the (true, false) cell is
    # structurally empty), members all positive, and the probe side joins
    # against a BROADCAST bit table — never a shuffled or cartesian plan
    df = _QS["bloom_membership_report"](spark, sf_dir)
    txt = explain_text(df)
    assert "CartesianProduct" not in txt
    assert "BroadcastHashJoin" in txt
    cells = {(r.actual_member, r.bloom_positive): r.n_customers for r in df.collect()}
    assert (True, False) not in cells, "bloom produced a false negative"
    assert cells.get((True, True), 0) > 0
    # at the gate SF the FP cell is small relative to true negatives
    assert cells.get((False, True), 0) < cells.get((False, False), 1)


def test_data_quality_report_clean_fixture(spark, sf_dir):
    # the driver-generated tables satisfy every declared constraint, and
    # the report emits exactly one verdict row per constraint
    rows = _QS["data_quality_report"](spark, sf_dir).collect()
    assert len(rows) == 7
    assert all(r.passed and r.violations == 0 for r in rows)
    assert {r.constraint_name for r in rows} == {
        "c_custkey_unique", "o_custkey_in_customer", "o_totalprice_positive",
        "l_quantity_in_1_50", "l_orderkey_in_orders", "text_nonempty",
        "ts_nonnull",
    }


def test_data_quality_detects_violations(spark):
    # feed the REAL rule battery crafted violating frames: a duplicate
    # customer key, a dangling order FK, a non-positive price, an
    # out-of-range quantity, a dangling lineitem FK, an empty document,
    # and a NULL event timestamp must each be counted
    from code_challenge___data_engineer___machinemax_spark.plans.advanced_queries import (
        data_quality_rules,
    )

    c = spark.createDataFrame([(10,), (10,), (11,)], "c_custkey long")
    o = spark.createDataFrame(
        [(1, 10, 5.0), (2, 99, -3.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    li = spark.createDataFrame(
        [(1, 25.0), (7, 99.0)], "l_orderkey long, l_quantity double"
    )
    d = spark.createDataFrame([(1, "ok"), (2, "")], "doc_id long, text string")
    e = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, None)], "event_id long, ts_s string"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))

    rows = {r.constraint_name: r for r in data_quality_rules(c, o, li, d, e).collect()}
    expect = {
        "c_custkey_unique": 1,
        "o_custkey_in_customer": 1,
        "o_totalprice_positive": 1,
        "l_quantity_in_1_50": 1,
        "l_orderkey_in_orders": 1,
        "text_nonempty": 1,
        "ts_nonnull": 1,
    }
    for name, n in expect.items():
        assert rows[name].violations == n, name
        assert rows[name].passed is False, name


def test_shuffle_shard_window_is_partitioned(spark, sf_dir):
    # the epoch-order rank must run per shard (hash-balanced bounded
    # partitions), never as the single-partition global window
    df = _QS["shuffle_shard_order"](spark, sf_dir)
    txt = explain_text(df)
    assert "Window" in txt
    assert "hashpartitioning(shard" in txt
    rows = df.collect()
    n_total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_total
    assert {r.shard for r in rows} <= set(range(16))


def test_ann_recall_eval_bounds_and_partitioned_windows(spark, sf_dir):
    df = _QS["ann_recall_eval"](spark, sf_dir)
    txt = explain_text(df)
    # rank partitions are (qid, salt) then qid — never the global window
    assert "hashpartitioning(qid" in txt
    assert "CartesianProduct" not in txt
    rows = df.collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3, 4}
    for r in rows:
        assert r.n_exact == 10
        assert 0 <= r.n_overlap <= 10
        assert r.recall_pct == r.n_overlap * 10


def test_bloom_prefilter_matches_exact_and_prunes(spark, sf_dir):
    # the bloom-fronted plan must return EXACTLY the exact join's result
    # (no false negatives), while actually pruning the train gram table
    exact = {tuple(r) for r in _QS["benchmark_contamination"](spark, sf_dir).collect()}
    fast = {tuple(r) for r in _QS["bloom_prefilter_contamination"](spark, sf_dir).collect()}
    assert fast == exact
    txt = explain_text(_QS["bloom_prefilter_contamination"](spark, sf_dir))
    # the k membership probes are map-side broadcast semi-joins
    assert txt.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in txt


def test_holt_backtest_recurrence_replay(spark, sf_dir):
    """Every output row of holt_linear_backtest must satisfy the exact
    recurrence against its predecessor (level/trend update + one-step
    forecast), replayed independently here in trunc-toward-zero
    arithmetic — the sequential-replay discipline (propensity/SPRT)."""
    import __spark_entry__ as mod

    rows = sorted(
        mod.queries()["holt_linear_backtest"](spark, sf_dir).collect(),
        key=lambda r: r.month_idx,
    )
    assert rows[0].month_idx == 1
    assert rows[0].level_k == rows[0].rev_c * 1000
    assert rows[0].trend_k == 0

    def tdiv2(a: int) -> int:
        return a // 2 if a >= 0 else -((-a) // 2)

    for prev, cur in zip(rows, rows[1:]):
        assert cur.month_idx == prev.month_idx + 1
        assert cur.forecast_k == prev.level_k + prev.trend_k
        assert cur.level_k == tdiv2(cur.rev_c * 1000 + cur.forecast_k)
        assert cur.trend_k == tdiv2(cur.level_k - prev.level_k + prev.trend_k)
        assert cur.abs_err_k == abs(cur.rev_c * 1000 - cur.forecast_k)


def test_hll_rollup_merge_law_holds(spark, sf_dir):
    """The rollup's own mismatch counter must read zero for every week —
    register-wise max of daily sketches == the direct weekly sketch —
    and the two rho sums must agree exactly (the merge law as data)."""
    import __spark_entry__ as mod

    rows = mod.queries()["hll_register_rollup"](spark, sf_dir).collect()
    assert rows, "no weeks"
    for r in rows:
        assert r.n_mismatch == 0, f"week {r.week}: merged != direct"
        assert r.sum_rho_direct == r.sum_rho_merged
        assert 0 < r.n_regs <= 256


def test_quantile_bin_sketch_brackets_exact_quantiles(spark, sf_dir):
    """Each reported bin lower edge must sit within one bin width ($512 =
    51200 cents) at or below the exact quantile — the structural error
    bound of an equi-width histogram sketch — and the per-flag estimates
    must be monotone in q."""
    import math

    rows = {r.l_returnflag: r for r in _QS["quantile_bin_sketch"](spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    prices = {}
    for rec in li.select("l_returnflag", "l_extendedprice").collect():
        prices.setdefault(rec.l_returnflag, []).append(
            math.floor(float(rec.l_extendedprice) * 100)
        )
    assert set(rows) == set(prices)
    for flag, r in rows.items():
        vals = sorted(prices[flag])
        assert r.n_rows == len(vals)
        assert r.p50_lo_cents <= r.p90_lo_cents <= r.p99_lo_cents
        for q, lo in ((50, r.p50_lo_cents), (90, r.p90_lo_cents), (99, r.p99_lo_cents)):
            exact = vals[math.ceil(q * len(vals) / 100) - 1]
            assert lo <= exact < lo + 51200, (flag, q, lo, exact)
