"""Isolated steady-state timing for named queries: fresh session, family
warm-up discipline of bench.py (table footers + pandas-UDF pool), run 0
discarded, N timed runs printed with the Spark jobs each one started,
split into build (while the DataFrame is built: schema inference, offset
collects, eager pins) and collect. Usage:

    python scripts/time_query.py <query> [n_runs]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: F401  (pandas-UDF type-hint resolution)

from code_challenge___data_engineer___machinemax_spark import plans
from code_challenge___data_engineer___machinemax_spark.session import get_spark
from code_challenge___data_engineer___machinemax_spark.tables import TABLES, load_table


def _job_count(sc, group: str) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    name = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(f"time-{name}")
    q = plans.all_queries()[name]
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(1).collect()
    spark.sparkContext.setJobDescription(f"timed: {name}")
    q(spark, sf_dir).collect()  # run 0: codegen/scan warm
    sc = spark.sparkContext
    times, jobs = [], []
    for i in range(n):
        build, collect = f"{name}-build-{i}", f"{name}-collect-{i}"
        t0 = time.perf_counter()
        sc.setJobGroup(build, f"timed: {name} build")
        df = q(spark, sf_dir)
        sc.setJobGroup(collect, f"timed: {name} collect")
        df.collect()
        times.append(round(time.perf_counter() - t0, 3))
        jobs.append((_job_count(sc, build), _job_count(sc, collect)))
    print(f"{name}: {times} min={min(times)}")
    print(f"{name} jobs (build, collect): {jobs}")


if __name__ == "__main__":
    main()
