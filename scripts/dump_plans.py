"""Dump formatted physical plans.

With no arguments, regenerate EXPLAIN.md: the formatted physical plans of
the headline queries at sf0.1 — the evidence that filters push down, dims
broadcast, aggs have partial phases, and top-k avoids global sorts.

With ``--tag``, write one ``<query>_<tag>.txt`` per query into ``--out``
(default ``plans/latest``) — the before/after evidence for a plan change.
Each file holds the frame's formatted plan, then the physical plan of every
SQL execution started while the query built its frame (the plans below a
``localCheckpoint`` pin run there, not in the frame's own plan). Queries
default to every bench headline query when no names are given.

Usage:
    python scripts/dump_plans.py
    python scripts/dump_plans.py --tag <before|after> [--out plans/<dir>] [query ...]

The source tables are read from ``$SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from bench import HEADLINE  # noqa: E402
from code_challenge___data_engineer___machinemax_spark import plans  # noqa: E402
from code_challenge___data_engineer___machinemax_spark.session import get_spark, sql_executions  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tag", help="file suffix, e.g. before or after; omit to regenerate EXPLAIN.md")
    ap.add_argument("--out", default=os.path.join("plans", "latest"),
                    help="output directory relative to the repo root (with --tag)")
    ap.add_argument("queries", nargs="*", help="registered query names (with --tag)")
    args = ap.parse_args()
    if args.tag is None and args.queries:
        ap.error("query names need --tag")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump-plans")
    qs = plans.all_queries()
    if args.tag is None:
        _write_explain_md(spark, qs, sf_dir)
    else:
        _write_tagged(spark, qs, sf_dir, args.tag, args.out, args.queries)


def _formatted(query, spark, sf_dir: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        query(spark, sf_dir).explain("formatted")
    return buf.getvalue()


def _write_explain_md(spark, qs, sf_dir: str) -> None:
    out = [
        "# EXPLAIN — headline-query physical plans",
        "",
        f"Generated by `scripts/dump_plans.py` at `{sf_dir}`. Things to check",
        "per plan: `PushedFilters`/`ReadSchema` at the scan (pushdown +",
        "pruning), `BroadcastHashJoin` for dimension joins,",
        "`partial_*` aggregate phases, `TakeOrderedAndProject` for top-k.",
        "",
    ]
    for name in HEADLINE:
        plan = _formatted(qs[name], spark, sf_dir).rstrip()
        out += [f"## {name}", "", "```", plan, "```", ""]
    path = os.path.join(_ROOT, "EXPLAIN.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


def _write_tagged(spark, qs, sf_dir: str, tag: str, out: str, names) -> None:
    out_dir = os.path.join(_ROOT, out)
    os.makedirs(out_dir, exist_ok=True)
    for name in names or HEADLINE:
        before = max((i for i, _ in sql_executions(spark)), default=-1)
        text = _formatted(qs[name], spark, sf_dir)
        built = [plan for i, plan in sql_executions(spark) if i > before]
        for n, plan in enumerate(built, 1):
            text += f"\n== SQL execution {n} of {len(built)} started while the frame was built ==\n{plan}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(text)
        print(f"wrote {os.path.join(out, f'{name}_{tag}.txt')}")


if __name__ == "__main__":
    main()
