"""A cost guard for the self-contained ingest heavies whose deployment
plans are the persisted-layout *_from_store read paths: each query below
rebuilds its family's ingest stage (basket join / LSH banding / PQ
encode) in-plan. bench.py publishes the store builds themselves under its
"ingest" key; this module runs the self-contained twins once each at
sf0.01 with a generous wall ceiling, so a structural regression in the
shared ingest prefix (a lost broadcast, a recompute tree, a skew blow-up)
still fails CI loudly.

Correctness of every member stays pinned by the full oracle parity sweep
(tests/test_oracle_parity.py, same sf0.01); this module guards COST only.
The ceiling is ~10x the queries' steady-state sf0.01 wall (sub-second to
~2 s each, BENCH_r07/r08 scaled down) — loose enough to never flake on a
cold JVM, tight enough that an accidental O(n^2) shape (the 112-scan
adamic_adar recompute tree of SCALE.md round 7 cost ~4x) still trips it.
"""

from __future__ import annotations

import time

import pytest

from code_challenge___data_engineer___machinemax_spark import plans

from .conftest import SF_DIR as _GUARD_SF_DIR  # honors SPARK_GRAFT_TEST_SF_DIR

_WALL_CEILING_S = 30.0

_TIER2 = [
    "adamic_adar_links",
    "cdc_chunk_dedup_report",
    "doc_overlap_winnowing",
    "item_item_similarity",
    "ivf_pq_topk",
    "label_propagation_seeded",
    "pq_adc_topk",
    "recsys_hitrate_eval",
    "simhash_near_dup_pairs",
]


@pytest.mark.parametrize("name", _TIER2)
def test_self_contained_ingest_guard(name, spark):
    t0 = time.perf_counter()
    rows = plans.all_queries()[name](spark, _GUARD_SF_DIR).collect()
    wall = time.perf_counter() - t0
    assert len(rows) > 0, f"{name}: ingest guard returned no rows"
    assert wall < _WALL_CEILING_S, (
        f"{name}: self-contained ingest path took {wall:.1f}s at sf0.01 "
        f"(ceiling {_WALL_CEILING_S}s) — the shared ingest prefix has "
        "structurally regressed; EXPLAIN it against SCALE.md's "
        "recompute-tree audits"
    )
