#!/usr/bin/env python
"""Write PLANS.md: the formatted physical plan of every bench headline
query at sf0.001 — the evidence trail for the scale contracts
(PushedFilters on scans, BroadcastHashJoin on dims, WindowGroupLimit
under top-k windows, TakeOrderedAndProject for global top-k, pruned
ReadSchema). Regenerate after plan-affecting changes:

    PYTHONPATH=. python scripts/dump_plans.py

With ``--out DIR`` it instead writes one ``DIR/<query>_<tag>.txt`` per
query — the before/after plan evidence of an optimization round
(``plans/r14``, ``plans/r15``):

    PYTHONPATH=. python scripts/dump_plans.py --out plans/r16 before [query ...]
"""

from __future__ import annotations

import argparse
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import bench  # noqa: E402
import __spark_entry__ as entry  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", metavar="DIR",
                    help="write DIR/<query>_<tag>.txt per query instead of PLANS.md")
    ap.add_argument("tag", nargs="?",
                    help="with --out: file name suffix, e.g. before (default) or after")
    ap.add_argument("queries", nargs="*",
                    help="with --out: queries to dump (default: all bench headliners)")
    args = ap.parse_args()
    if args.out is None and args.tag is not None:
        ap.error("a tag and queries need --out")
    tag = args.tag or "before"

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = io.StringIO()
    out.write(
        "# PLANS — physical plans of the bench headline queries\n\n"
        "Generated by `scripts/dump_plans.py` at sf0.001 (plan shapes are\n"
        "data-size independent up to AQE's runtime coalescing). What to\n"
        "look for: `PushedFilters` + pruned `ReadSchema` on parquet scans,\n"
        "`BroadcastHashJoin` on dimension joins, `WindowGroupLimit` before\n"
        "per-group top-k exchanges, `TakeOrderedAndProject` for global\n"
        "top-k, and `ArrowEvalPython` (never `BatchEvalPython` row-mode)\n"
        "for the Python kernels.\n"
    )
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    qs = entry.queries()
    for name in args.queries or bench.HEADLINE:
        if name not in qs:
            print(f"skip {name}: not in registry")
            continue
        df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if args.out:
            path = os.path.join(args.out, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path}")
        else:
            out.write(f"\n## {name}\n\n```\n{plan}\n```\n")
    if not args.out:
        with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
            f.write(out.getvalue())
        print("wrote PLANS.md")


if __name__ == "__main__":
    main()
