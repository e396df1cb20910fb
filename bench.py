"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol (round 6): per-family fresh-session measurement. The r5 bench ran
all 62 headline queries in ONE JVM; the driver's published numbers then
showed the 32-query r4-common set 1.78x slower than r4 (52.6 -> 93.5 s)
while fresh-session isolated A/Bs of the same plans showed NO regression
(SCALE.md r5 forensics) — the slowdown was session-wide warm-state
pressure (the early timed queries absorbed the async cleanup of the
store-priming warm-up; late heavy queries absorbed the accumulated
localCheckpoint blocks of everything before them), not plan cost. A
per-query gc hook was A/B'd and REJECTED in r5: the ContextCleaner's
ASYNC unpersist then ran inside the NEXT timed region.

So the published protocol now matches the steady-state protocol the
isolated forensics used: the parent process (no Spark) runs each query
FAMILY in its own subprocess with a fresh JVM, family-appropriate warm-up
(tables, the pandas-UDF worker pool, the family's persisted stores — all
untimed), and an explicit post-warm-up settle (JVM GC + drain pause) so
no cleanup bleeds into the timed region. Family sessions are small
(3-13 queries), so no query sits on an hour of accumulated session state.
Store layouts are disk-persisted and signature-keyed (stores.py), so
priming in one family session is visible to the next.

Each query is executed twice and the SECOND run is published — the same
discard-run-0 discipline every SCALE.md isolated A/B since r4 has used
("run 0 carries the one-time codegen/scan warm cost that lands on
whichever query meets the shape first"): run 0 pays whole-stage-codegen
compilation and first-touch scan costs that are one-time-per-shape, not
plan cost; nothing else carries over (no .cache() anywhere — run 1
re-executes the full plan). Measured on the family split WITHOUT the
warm run: the 6 family-leading queries showed 1.8-4.6x their r4 numbers
while mid-family twins of the same shapes showed 1.0-1.2x — pure
position cost. The JSON line carries "protocol": "family-steady" so the
number's provenance is explicit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

# module-level so the pandas-UDF type hints (stringified by
# `from __future__ import annotations`) resolve against module globals
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline queries, grouped into families that share inputs and warm-up
# needs; one fresh JVM per family. Within each family the r4-common
# queries keep their historical order so round-over-round per-query
# comparisons stay like-for-like. bench time = sum over all families.
#
# Slot rationale (why these and not every registered query) is unchanged
# from r5 — one flagship per engine capability family plus every
# expensive new shape worth a regression guard; cheap post-agg /
# dimension-sized shapes are covered by the parity sweep instead:
# - set_similarity_prefix_pairs: output-bound (~3M true pairs at sf0.1,
#   24% of all pairs exceed 0.8 Jaccard on the self-similar synthetic
#   corpus) — measured and explained in SCALE.md.
# - dbscan_grid_clusters / seeded_random_walks: wall is the iteration
#   count (graph diameter / walk length), scheduling-bound rounds with
#   tiny per-round data — benching them measures the scheduler.
# - kmv/skyline/pq_code_histogram, the eval/attribution batch (shapley,
#   sprt, conformal, replay, kappa, fd audit, theil-sen), funnel/acf/woe,
#   hilbert (zorder skeleton + fused projection), hits (three combinable
#   aggs), mann-whitney/jl: dimension-sized or single-pass — parity-swept.
# - streaming queries: wave-staging-bound (SCALE.md), excluded.
FAMILIES: list[tuple[str, list[str]]] = [
    (
        "relational",
        [
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q5_revenue_by_nation",
            "top_customers_by_revenue",
            "latest_order_per_customer",
            "q9_product_profit",
            "q18_large_orders",
            "q21_waiting_suppliers",
            "pit_priority_revenue",
            # round-7: the mergeable equi-width quantile sketch (sub-sketch
            # build + count-sum merge + cumulative read, all on lineitem)
            "quantile_bin_sketch",
        ],
    ),
    (
        "events",
        [
            "events_hourly",
            "event_sessions",
            "asof_purchase_to_view",
            "cusum_changepoint",
            "distribution_emd_ks",
            "cohort_retention_matrix",
        ],
    ),
    (
        "search",
        [
            "keyword_search_hit",
            "term_frequencies",
            "bm25_keyword_ranking",
            "tfidf_keyword_ranking",
            "bm25_keyword_indexed",
            "phrase_search_positional",
            "hybrid_search_rrf",
            # round-8: the deployment path — sparse arm off the L2 BM25
            # layout (the self-contained twin stays as the 14-scan ingest
            # regression guard)
            "hybrid_search_rrf_from_store",
            # round-8: batched serving — 5 queries, one pruned probe
            "bm25_batch_search_from_store",
            "maxsim_multivector_topk",
        ],
    ),
    (
        "dedup",
        [
            "minhash_signatures",
            # round-9 rebalance (VERDICT r8 #4, the graphrec pattern): the
            # four self-contained pair emitters each have a published L4
            # *_from_store twin (or, for CDC, a pure ingest-guard role) —
            # the *_from_store read paths are the family headline, the
            # emitters rebuild banding/fingerprinting purely as ingest
            # regression guards. ONE stays in the timed bench per round
            # (round-robin over _DEDUP_GUARD_ROTATION below — round 10
            # advances to index 1, near_dup_pairs_minhash); the other
            # three run as sf0.01 timed guards in
            # tests/test_ingest_guards.py plus the full oracle parity
            # sweep. Coverage unchanged; only the publication tier moved
            # (COVERAGE.md dedup notes).
            "near_dup_pairs_minhash",
            "near_dup_pairs_minhash_from_store",
            "doc_overlap_winnowing_from_store",
            "simhash_near_dup_pairs_from_store",
            "simhash_incremental_admission",
            # round-7: the ExactSubstr coverage signal (gram-keyed
            # dup-set join — the heaviest text shuffle shape)
            "repeated_ngram_coverage",
            # round-8: SoftDeDup — per-document 1e6/cluster_size sampling
            # weights off the same verified-pair closure as the keep-one
            # ledger (reweighting instead of removal); stays as the
            # closure ingest-cost regression guard
            "near_dup_sampling_weights",
            # round-9: the L4 cluster-membership read path — the plan a
            # data loader runs per training job (banding + verify +
            # closure ran at ingest; the query is a membership join)
            "near_dup_sampling_weights_from_store",
            # round-8: fuzzy decontamination — bench bands x train bands
            # cross-set LSH join (no train x train pair ever generated)
            "minhash_decontamination",
        ],
    ),
    (
        "textcorpus",
        [
            "quality_filter_pipeline",
            "repetition_signals",
            "repeated_passages",
            "dsir_importance_weights",
            "perplexity_tercile_mix",
            "pipeline_funnel_report",
            "benchmark_contamination",
            "bloom_prefilter_contamination",
            "bloom_membership_report",
            "data_quality_report",
            "pmi_cooccurrence",
            "kneser_ney_doc_scores",
            "naive_bayes_quality_distill",
            # round-6: the two new explode-volume text shapes (both linear
            # at the 10x replica, SCALE.md) — the hash-mask span stats and
            # the bigram-overlap generation eval (post shingles-fix)
            "span_corruption_mask_stats",
            "rouge2_adjacent_eval",
            # round-9: dictionary tagging (broadcast taxonomy equi-join
            # against the exploded token stream) and token-budget pruning
            # (global_prefix_sum — the distributed cumsum shape's only
            # bench representative)
            "taxonomy_tag_counts",
            "token_budget_selection",
        ],
    ),
    (
        "vector",
        [
            "cosine_topk_bruteforce",
            "ann_topk_lsh",
            "ann_topk_lsh_from_store",
            "ann_recall_eval",
            "pq_adc_topk_from_store",
            # round-9 rebalance (VERDICT r8 #5): the three self-contained
            # encode+probe paths (pq_adc_topk, ivf_pq_topk,
            # ivf_pq_residual_topk) all have published L3/L7 store twins —
            # ONE stays in the timed bench per round (round-robin over
            # _VECTOR_GUARD_ROTATION below — round 10 advances to index 1,
            # ivf_pq_residual_topk); the other two run as sf0.01 timed
            # guards in tests/test_ingest_guards.py plus the oracle parity
            # sweep.
            "ivf_pq_residual_topk",
            # round-8: the L7 residual layout read path (coarse assign +
            # residual encode ran at ingest; the probe is partition-pruned
            # ADC — the deployment story the self-contained twin asserts)
            "ivf_pq_residual_topk_from_store",
            # round-8: the two serving shapes — two-stage ADC->exact
            # rerank (recall recovery off the codes store) and the
            # batched 5-query IVF probe (one pruned scan amortized
            # across the query batch)
            "pq_adc_rerank_topk",
            "ivf_batch_topk_from_store",
            # round-9: the nprobe tuning curve — one widest-probe pruned
            # scan shared by all three curve points + the exact arm
            "ivf_recall_nprobe_curve",
            # round-10: binary-quantization serving — Hamming popcount
            # scan over the persisted L3 sign-bit signatures (16 B/row),
            # exact-cosine rescore of the 50 survivors by id
            "binary_quant_hamming_topk_from_store",
            "kmeans_fixed_point",
            "semantic_dedup_pairs",
            # round-7: the L10 cluster-assignment store read path (the
            # plan a SemDeDup deployment serves; the self-contained twin
            # stays as the ingest-cost regression guard)
            "semantic_dedup_pairs_from_store",
            # round-6: the fixed-point power-iteration PCA (3 rounds of
            # vec-keyed dot + dim-keyed accumulate; 5x wall at 10x rows)
            "pca_top_component",
        ],
    ),
    (
        "graphrec",
        [
            "association_rules",
            # round-8 rebalance (VERDICT r7 #6): the five *_from_store
            # read paths are the family headline — they are the plans a
            # deployment serves off the L9 layout. The five self-contained
            # twins each rebuild the basket join purely as ingest
            # regression guards; ONE stays in the timed bench per round
            # (round-robin over _GRAPHREC_GUARD_ROTATION below — round 8
            # published item_item_similarity; round 9 recsys_hitrate_eval;
            # round 10 advances to index 2, triangle_participation) and
            # the other four run as sf0.01 timed guards in
            # tests/test_ingest_guards.py plus the full oracle parity
            # sweep. Coverage is unchanged; only the publication tier
            # moved (COVERAGE.md graphrec notes).
            "triangle_participation",
            "item_item_similarity_from_store",
            "recsys_hitrate_eval_from_store",
            "triangle_participation_from_store",
            "adamic_adar_links_from_store",
            "label_propagation_seeded_from_store",
            "entity_resolution_blocked",
            "score_auc_eval",
        ],
    ),
    (
        "layout_media",
        [
            "zorder_layout",
            "shuffle_shard_order",
            "video_sampled_frame_decode",
        ],
    ),
]

# flat view of the headline set (scripts/run_scale_sweep.py iterates it)
HEADLINE: list[str] = [q for _, _members in FAMILIES for q in _members]

# persisted-store primers per family (ingest-time work a production
# deployment does once when data lands — warm-up, never timed)
_FAMILY_STORES: dict[str, list[str]] = {
    "search": ["ensure_bm25_index_store"],
    "dedup": [
        "ensure_simhash_store",
        "ensure_minhash_band_store",
        "ensure_winnowing_store",
        "ensure_neardup_cluster_store",
    ],
    "vector": [
        "ensure_srp_store",
        "ensure_pq_store",
        "ensure_semantic_kmeans_store",
        "ensure_pq_residual_store",
        "ensure_ivf_store",
        "ensure_binary_sig_store",
    ],
    "graphrec": ["ensure_copurchase_store"],
}

# Round-robin pools for each family's ONE timed self-contained ingest
# guard (VERDICT r7 #6 for graphrec; VERDICT r8 #4/#5 extend the same
# rebalance to dedup and vector): per round, exactly one member of each
# pool is published in the timed bench (advance the index by one per
# round); the rest run as sf0.01 timed guards in
# tests/test_ingest_guards.py, and ALL stay in the oracle parity sweep.
_GRAPHREC_GUARD_ROTATION: list[str] = [
    "item_item_similarity",      # round 8
    "recsys_hitrate_eval",       # round 9
    "triangle_participation",    # round 10 (in bench above)
    "adamic_adar_links",
    "label_propagation_seeded",
]
_DEDUP_GUARD_ROTATION: list[str] = [
    "doc_overlap_winnowing",     # round 9
    "near_dup_pairs_minhash",    # round 10 (in bench above)
    "cdc_chunk_dedup_report",
    "simhash_near_dup_pairs",
]
_VECTOR_GUARD_ROTATION: list[str] = [
    "ivf_pq_topk",               # round 9
    "ivf_pq_residual_topk",      # round 10 (in bench above)
    "pq_adc_topk",
]
GUARD_ROTATIONS: dict[str, list[str]] = {
    "graphrec": _GRAPHREC_GUARD_ROTATION,
    "dedup": _DEDUP_GUARD_ROTATION,
    "vector": _VECTOR_GUARD_ROTATION,
}


def _settle(spark, seconds: float = 1.5) -> None:
    """Drain warm-up debris before the timed region: collect Python refs,
    ask the JVM to GC (which triggers ContextCleaner unpersists), then
    pause so the ASYNC cleanup lands here and not inside a timed query
    (the r5-measured failure mode of cleaning between timed queries)."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    time.sleep(seconds)


def _run_family(name: str) -> None:
    from code_challenge___data_engineer___machinemax_spark import plans
    from code_challenge___data_engineer___machinemax_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(f"ccdem-bench-{name}")
    queries = plans.all_queries()
    members = dict(FAMILIES)[name]

    # Warm the JVM, file index and parquet footers once so the per-query
    # numbers measure the plans, not session startup / FS metadata.
    queries["point_lookup_order"](spark, sf_dir).collect()
    from code_challenge___data_engineer___machinemax_spark.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).limit(1).collect()

    # Warm the Python worker pool + Arrow serialization path: the first
    # pandas-UDF query otherwise pays worker spawn (~2s measured — the
    # whole r2->r3 ann_topk_lsh "regression", SCALE.md). Repartition to
    # 2x the executor-thread count so the FULL pool spawns here.
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    n_workers = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(4 * n_workers).repartition(2 * n_workers).select(
        _warm("id")
    ).collect()

    # Prime this family's persisted layouts (DEPLOY.md L2/L3/L4) — the
    # *_from_store entries then measure the probe/pair-gen read path,
    # which is the plan a 100 TB deployment actually runs.
    if name in _FAMILY_STORES:
        from code_challenge___data_engineer___machinemax_spark import stores

        for fn in _FAMILY_STORES[name]:
            getattr(stores, fn)(spark, sf_dir)

    _settle(spark)

    timings: dict[str, float] = {}
    for qname in members:
        queries[qname](spark, sf_dir).collect()  # run 0: codegen/scan warm
        t0 = time.perf_counter()
        queries[qname](spark, sf_dir).collect()  # run 1: steady state
        timings[qname] = round(time.perf_counter() - t0, 3)

    print(json.dumps({"family": name, "queries": timings}))


def _run_guards() -> None:
    """Round-11 (VERDICT r10 #7 — guard-rotation visibility): time every
    rotation-pool member NOT published in this round's headline bench at
    sf0.01 (the same tier tests/test_ingest_guards.py ceilings), so the
    round-robin that moves a heavy self-contained ingest query out of the
    timed bench can be audited round-over-round instead of trusted. Same
    discipline as the families: fresh JVM, untimed warm-up, run 0
    discarded. Published additively under a "guards" key — the one-line
    JSON contract and the "queries" map are untouched."""
    from code_challenge___data_engineer___machinemax_spark import plans
    from code_challenge___data_engineer___machinemax_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    guard_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(guard_dir):
        guard_dir = sf_dir  # no sf0.01 sibling: fall back to the bench SF
    spark = get_spark("ccdem-bench-guards")
    queries = plans.all_queries()
    tier2 = sorted(
        {q for pool in GUARD_ROTATIONS.values() for q in pool} - set(HEADLINE)
    )
    queries["point_lookup_order"](spark, guard_dir).collect()
    from code_challenge___data_engineer___machinemax_spark.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, guard_dir, t).limit(1).collect()
    _settle(spark)
    timings: dict[str, float] = {}
    for qname in tier2:
        queries[qname](spark, guard_dir).collect()  # run 0: codegen warm
        t0 = time.perf_counter()
        queries[qname](spark, guard_dir).collect()
        timings[qname] = round(time.perf_counter() - t0, 3)
    print(json.dumps({"guards": timings, "guards_sf_dir": guard_dir}))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None

    timings: dict[str, float] = {}
    families: dict[str, float] = {}
    for name, members in FAMILIES:
        out = None
        for _attempt in (1, 2):  # one retry absorbs a flaky JVM start
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--family", name],
                stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL,
                text=True,
            )
            lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
            if proc.returncode == 0 and lines:
                out = json.loads(lines[-1])
                break
        if out is None:
            raise RuntimeError(f"bench family {name!r} failed twice")
        assert set(out["queries"]) == set(members), name
        timings.update(out["queries"])
        families[name] = round(sum(out["queries"].values()), 3)

    # sf0.01 timings of the UNPUBLISHED rotation-pool members (additive —
    # "value"/"queries" are exactly the headline totals as before); a guard
    # failure does not fail the bench: it publishes an empty map plus
    # "guards_error" with the return code and the tail of the run's stderr
    guards: dict[str, float] = {}
    guards_sf_dir = None
    guards_error = None
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--guards"],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    glines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode == 0 and glines:
        gout = json.loads(glines[-1])
        guards = gout.get("guards", {})
        guards_sf_dir = gout.get("guards_sf_dir")
    else:
        guards_error = {"returncode": proc.returncode, "stderr_tail": proc.stderr[-2048:]}

    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "families": families,
        "guards": guards,
        "guards_sf_dir": guards_sf_dir,
        "protocol": "family-steady",
        "sf": sf,
    }
    if guards_error is not None:
        record["guards_error"] = guards_error
    print(json.dumps(record))


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--family":
        _run_family(sys.argv[2])
    elif len(sys.argv) == 2 and sys.argv[1] == "--guards":
        _run_guards()
    else:
        main()
