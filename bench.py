"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "families": {...}, "ingest": {...}, "sf": ...}

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
(tables, the pandas-UDF worker pool — untimed), the family's persisted
store builds, and an explicit post-warm-up settle (JVM GC + drain pause)
so no cleanup bleeds into the timed region. Family sessions are small
(3-13 queries), so no query sits on an hour of accumulated session state.

Ingest is its own layer: each run points SPARK_GRAFT_STORE_DIR at a fresh
directory (removed at exit), so every family's ``ensure_*`` builds run
cold, each timed on its own and published under "ingest" beside the
query map; the *_from_store queries then time the read path only.

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
import shutil
import subprocess
import sys
import tempfile
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
            # the *_from_store read paths are the family headline; their
            # store builds are timed as this family's "ingest" layer
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
            # the self-contained residual IVF-PQ encode + probe
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
            # the five *_from_store read paths are the family headline —
            # the plans a deployment serves off the L9 layout, whose build
            # is timed as this family's "ingest" layer
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

# persisted-store primers per family: the ingest-time work a production
# deployment does once when data lands. Each build is timed on its own and
# published under "ingest"; none is inside a query's timed region.
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

    # Build this family's persisted layouts (DEPLOY.md L2-L10) into the
    # run's empty store dir, timing each build — the *_from_store entries
    # then measure the probe/pair-gen read path, which is the plan a
    # 100 TB deployment actually runs.
    from code_challenge___data_engineer___machinemax_spark import stores

    ingest: dict[str, float] = {}
    for fn in _FAMILY_STORES.get(name, []):
        t0 = time.perf_counter()
        getattr(stores, fn)(spark, sf_dir)
        ingest[fn] = round(time.perf_counter() - t0, 3)

    _settle(spark)

    timings: dict[str, float] = {}
    for qname in members:
        queries[qname](spark, sf_dir).collect()  # run 0: codegen/scan warm
        t0 = time.perf_counter()
        queries[qname](spark, sf_dir).collect()  # run 1: steady state
        timings[qname] = round(time.perf_counter() - t0, 3)

    print(json.dumps({"family": name, "queries": timings, "ingest": ingest}))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None

    timings: dict[str, float] = {}
    families: dict[str, float] = {}
    ingest: dict[str, float] = {}
    # every run builds its stores cold in its own directory, so "ingest"
    # always times a full build and no store outlives the run
    store_dir = tempfile.mkdtemp(prefix="ccdem-bench-stores-")
    os.environ["SPARK_GRAFT_STORE_DIR"] = store_dir
    try:
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
            ingest.update(out["ingest"])
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "families": families,
        "ingest": ingest,
        "protocol": "family-steady",
        "sf": sf,
    }
    print(json.dumps(record))


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--family":
        _run_family(sys.argv[2])
    else:
        main()
