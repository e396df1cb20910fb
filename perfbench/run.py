"""Benchmark entry point: one run of one workload, one JSON line out.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 30 --trace 0

A run generates its inputs from the seed, sets the engine up once from a
fresh process (importing pyspark and the engine, launching the JVM), then
times one pass over the workload's op list in a closed loop: one client
thread, each op starts after the previous one has returned. The pass is the
first the JVM runs: a batch ingest job or a freshly started search server
pays that JIT and codegen warm-up too, and a cold pass repeats far more
closely from run to run than a later one on a shared 4-core machine.
Outputs are checked after the pass, outside the timed region. With
``--trace 1`` the JVM is launched with the Spark event log on, every call
runs under its own job group, and the per-layer metrics are read from the
log. Everything the run writes lives under ``.perfbench/`` in the checkout
and is removed at exit. Metric names and units come from BENCHMARK.json;
README.md in this directory defines each metric.
"""
from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Any

import numpy as np

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen, trace  # noqa: E402
from perfbench.workloads import ENTRIES, WORKLOADS, CorpusBuild, Op, Workload, store_files  # noqa: E402

N_DOCS = 1250  # a quarter of sf0.1's documents, so a run fits the benchmark's time budget
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class OpResult:
    op: Op
    build_s: float
    exec_s: float
    output: Any = None
    error: str | None = None

    @property
    def seconds(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Pass:
    wall_s: float
    start_ms: int
    end_ms: int
    results: list[OpResult]
    store_files: int
    store_bytes: int


def outcome(timed: Pass) -> tuple[int, int]:
    """(ops attempted, ops that raised or failed their check)."""
    return len(timed.results), sum(1 for r in timed.results if r.error)


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: the mean of all samples in
    sorted order, weighted by a Beta(p(n+1), (1-p)(n+1)) distribution. On
    `corpus_build` the 11 latencies come from 11 unlike queries and the
    middle sample jumps between queries from run to run: over ten seeds
    the plain median spread 0.165 of its value, this estimate 0.091. With
    the 100 requests of `search_serving` it is close to the plain quantile."""
    x = np.sort(values)
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    edges = np.linspace(0.0, 1.0, 100_001)
    mid = (edges[1:] + edges[:-1]) / 2
    cdf = np.concatenate([[0.0], np.cumsum(np.exp((a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)))])
    weights = np.diff(np.interp(np.arange(n + 1) / n, edges, cdf / cdf[-1]))
    return float(weights @ x)


def peak_rss_mb(pids: list[int]) -> float:
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.work = work
        self.traced = args.trace == 1
        self.cores = len(os.sched_getaffinity(0))
        self.sf_dir = os.path.join(work, "data")
        self.event_log = os.path.join(work, "eventlog")
        self.rng = random.Random(args.seed)
        self.spark = None
        self.wl: Workload | None = None
        self.setup: dict[str, Any] = {}

    def configure(self) -> None:
        """Launch configuration: local[nproc], a driver sized well below the
        machine, every scratch directory inside this run's own area and,
        when tracing, the Spark event log."""
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, os.path.join(self.work, "local"), self.event_log):
            os.makedirs(d, exist_ok=True)
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.traced:
            conf.update(trace.EVENT_LOG_CONF, **{"spark.eventLog.dir": f"file://{self.event_log}"})
        submit = [arg for k, v in conf.items() for arg in ("--conf", shlex.quote(f"{k}={v}"))]
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": str(self.cores),
                "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
                "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
                "TMPDIR": tmp,
                "PYSPARK_PYTHON": sys.executable,
                "PYSPARK_SUBMIT_ARGS": " ".join([*submit, "pyspark-shell"]),
            }
        )

    # -- set-up -------------------------------------------------------------

    def set_up(self) -> None:
        """The set-up, in a process that has not imported pyspark yet: the
        imports, `get_spark` (which launches the JVM), the table footers, the
        pandas-UDF worker pool, then the workload's own preparation."""
        t0 = time.perf_counter()
        from pyspark.sql import functions as F

        from code_challenge___data_engineer___machinemax_spark import session, tables

        self.spark = session.get_spark("perfbench")
        t1 = time.perf_counter()
        self.wl = WORKLOADS[self.args.workload](self.spark, self.sf_dir, self.work)
        for name in self.wl.tables:
            tables.load_table(self.spark, self.sf_dir, name).schema  # noqa: B018
        t2 = time.perf_counter()

        @F.pandas_udf("long")
        def plus_one(s):
            return s + 1

        self.spark.range(4 * self.cores, numPartitions=self.cores).select(plus_one("id")).collect()
        ingest = self.wl.prepare()
        t3 = time.perf_counter()
        log(f"set-up: {t3 - t0:.2f}s")
        self.setup = {"total": t3 - t0, "session": t1 - t0, "tables": t2 - t1, "ingest": ingest,
                      "store": store_files(self.wl.store_dir)}

    # -- the timed pass -----------------------------------------------------

    def time_op(self, op: Op, group: str | None) -> OpResult:
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        try:
            phase = "ingest" if op.kind == "ingest" else "build"
            with trace.job_group(sc, group and f"{group}:{phase}"):
                out = op.build()
            t1 = time.perf_counter()
            if op.kind == "ingest":
                return OpResult(op, t1 - t0, 0.0, out)
            with trace.job_group(sc, group and f"{group}:exec"):
                rows = out.collect()
            t2 = time.perf_counter()
            return OpResult(op, t1 - t0, t2 - t1, (out.schema, rows))
        except Exception as exc:  # a failing op is counted in `failed`, never dropped
            traceback.print_exc(file=sys.stderr)
            return OpResult(op, time.perf_counter() - t0, 0.0, None, f"{type(exc).__name__}: {exc}")

    def run_pass(self) -> Pass:
        ops = self.wl.pass_ops(self.rng, self.args.seconds)
        start_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        results = [self.time_op(op, f"{i}" if self.traced else None) for i, op in enumerate(ops)]
        wall = time.perf_counter() - t0
        end_ms = int(time.time() * 1000)
        files, size = store_files(self.wl.store_dir)
        self.wl.outputs = {r.op.name: r.output for r in results}
        t1 = time.perf_counter()
        for r in results:
            if r.error is None:
                try:
                    r.error = r.op.check(r.output)
                except Exception as exc:  # a check that cannot run is a failed op
                    r.error = f"check raised {type(exc).__name__}: {exc}"
            if r.error:
                print(f"FAILED {r.op.name}: {r.error}", file=sys.stderr)
        self.wl.end_pass()
        log(f"checks: {time.perf_counter() - t1:.2f}s")
        log(f"pass: {wall:.2f}s, " + " ".join(f"{r.op.name}={r.seconds:.2f}" for r in results))
        return Pass(wall, start_ms, end_ms, results, files, size)

    # -- the run ------------------------------------------------------------

    def run(self) -> dict[str, Any]:
        datagen.write_tables(self.args.seed, self.sf_dir, N_DOCS)
        self.configure()
        try:
            self.set_up()
            timed = self.run_pass()
            rss = peak_rss_mb([os.getpid(), self._jvm_pid()])
        finally:
            self.shutdown()
        if self.traced:
            metrics = self.layer_metrics(timed, trace.read_events(self.event_log), rss)
        else:
            metrics = self.end_to_end(timed)
        attempted, failed = outcome(timed)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    @staticmethod
    def _jvm_pid() -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited;
        stopping also closes the event log."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- metrics ------------------------------------------------------------

    def builds(self, timed: Pass) -> dict[str, float]:
        """Seconds per store build, in the pass or at set-up."""
        return {**self.setup["ingest"],
                **{r.op.name: r.seconds for r in timed.results if r.op.kind == "ingest"}}

    def end_to_end(self, timed: Pass) -> dict[str, float]:
        attempted, failed = outcome(timed)
        lat = [r.seconds for r in timed.results if r.op.kind != "ingest"]
        return {
            "setup_s": self.setup["total"],
            "pass_s": timed.wall_s,
            "ingest_s": sum(self.builds(timed).values()),
            "op_p50_s": quantile(lat, 0.5),
            "op_p90_s": quantile(lat, 0.9),
            "ok_ratio": 1 - failed / attempted,
        }

    def layer_metrics(self, timed: Pass, events: list[dict], rss: float) -> dict[str, float]:
        stats, intervals = trace.parse(events)
        results = timed.results
        calls = [r for r in results if r.op.kind != "ingest"]
        total = trace.GroupStats()
        for s in stats.values():
            total.add(s)
        wall_ms = timed.end_ms - timed.start_ms
        m: dict[str, float] = {
            "session.start_s": self.setup["session"],
            "tables.footer_warm_s": self.setup["tables"],
            "plans.build_s": sum(r.build_s for r in calls),
            "plans.build_jobs": sum(s.jobs for g, s in stats.items() if g.endswith(":build")),
            "exec.collect_s": sum(r.exec_s for r in calls),
            "exec.job_wall_p50_ms": statistics.median(b - a for a, b in intervals) if intervals else 0.0,
            "exec.idle_gap_s": (wall_ms - trace.busy_ms(intervals, timed.start_ms, timed.end_ms)) / 1000,
            "exec.core_busy_share": total.task_ms / (wall_ms * self.cores),
            "trace.pass_s": timed.wall_s,
            "driver_peak_rss_mb": rss,
        }
        for f in ("jobs", "stages", "tasks", "failed_tasks", "task_ms", "gc_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "input_records", "spill_bytes"):
            m[f"exec.{f}"] = getattr(total, f)

        # stores: built inside the pass (corpus_build) or at set-up (search_serving)
        builds = self.builds(timed)
        if self.wl.ingest_at_setup:
            files, size = self.setup["store"]
        else:
            files, size = timed.store_files, timed.store_bytes
        m["stores.bytes_written"] = size
        m["stores.files_written"] = files
        m["stores.write_amp"] = size / os.path.getsize(os.path.join(self.sf_dir, "documents.parquet"))
        for name in (*CorpusBuild.BUILDS, "ensure_inverted_index_store"):
            m[f"stores.{name}.build_s"] = builds.get(name, 0.0)
        m["crawl.ingest.append_s"] = builds.get("article_store_append", 0.0)

        # search entry points
        requests = [(i, r) for i, r in enumerate(results) if r.op.kind == "request"]
        for entry in ENTRIES:
            lat = [r.seconds for _, r in requests if r.op.entry == entry]
            m[f"search.{entry}.p50_s"] = quantile(lat, 0.5) if lat else 0.0
        served = trace.GroupStats()
        for i, _ in requests:
            for phase in ("build", "exec"):
                served.add(stats.get(f"{i}:{phase}", trace.GroupStats()))
        rows_out = sum(len(r.output[1]) for _, r in requests if r.output)
        hits = sum(1 for _, r in requests if self.wl.expected_ids(r.op.keywords))
        m["search.jobs_per_request"] = served.jobs / len(requests) if requests else 0.0
        m["search.rows_scanned_per_result"] = served.input_records / rows_out if rows_out else 0.0
        m["search.hit_share"] = hits / len(requests) if requests else 0.0
        for name in (*CorpusBuild.READS, *CorpusBuild.OPERATORS):
            m[f"op.{name}.s"] = sum(r.seconds for r in results if r.op.name == name)
        return m


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    try:
        result = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    values = result["metrics"]
    if sorted(values) != sorted(w["name"] for w in wanted):
        raise SystemExit(f"metrics {sorted(values)} do not match BENCHMARK.json")
    result["metrics"] = {w["name"]: {"value": values[w["name"]], "unit": w["unit"]} for w in wanted}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
