"""Benchmark of ``extract.run_extraction``: XML files on disk through the
extraction job to reference-format text files.

Run from the repository root::

    python3 xmlbench/run.py --workload many_small_docs --seed 1 --seconds 12 --trace 0

The load is a closed loop: one client, each job starting after the
previous one ended, Spark at ``local[nproc]`` with ``nproc`` shuffle
partitions. Every job's output is checked against the generator's
expected lines.

``--trace 0`` prints each job's verdict and the end-to-end metrics
(``setup_s``, ``job_s``, ``job_cpu_s``, ``input_mb_per_s``,
``peak_worker_rss_mb``, ``failed_job_ratio``) with units; ``--trace 1``
runs the per-layer trace (see ``xmlbench/layers.py``) and prints the
per-layer metrics. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the metrics
``BENCHMARK.json`` lists for that mode. A full record (environment,
corpus, every job, spans) is written under ``.xmlbench_results/``. The
command exits nonzero when a job raised or produced a wrong output.

``setup_s`` is the median of three set-ups, each a session build plus
one unmeasured warm-up extraction (the workload's config over its first
document). The first set-up also
launches the driver JVM; the other two stop the session and build a new
one in the same JVM, with new Python workers.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path[0] != ROOT:
    sys.path.insert(0, ROOT)

from xmlbench.harness import (  # noqa: E402
    RESULTS_DIR, Workspace, closed_loop, environment, set_up, shutdown)

SETUPS = 3


def highest_percentile(n: int) -> int:
    """The highest percentile with at least ten samples beyond it (the
    median when no higher one has)."""
    return max(50, (100 * (n - 10)) // n) if n > 10 else 50


def end_to_end(ws: Workspace, seconds: float) -> tuple[dict, dict]:
    setups = []
    spark = None
    for _ in range(SETUPS):
        spark, s = set_up(ws, spark)
        setups.append(s)
        print(f"setup {len(setups)}/{SETUPS}: {s:.3f} s", flush=True)
    env = environment(spark)
    jobs = closed_loop(spark, ws, seconds)
    shutdown()
    walls = sorted(j["job_s"] for j in jobs)
    p = highest_percentile(len(walls))
    job_s = statistics.median(walls)
    failed_ratio = sum(not j["correct"] for j in jobs) / len(jobs)
    # Gated in BENCHMARK.json: these three. job_s and input_mb_per_s are
    # printed and recorded but not gated: host steal moves them between
    # runs by more than the largest bound a gated metric may have.
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "job_cpu_s": (statistics.median(j["job_cpu_s"] for j in jobs), "s"),
        "peak_worker_rss_mb": (statistics.median(j["peak_worker_rss_mb"] for j in jobs), "MB"),
    }
    ungated = {
        "job_s": job_s,
        "input_mb_per_s": ws.corpus.input_bytes / 1e6 / job_s,
        "failed_job_ratio": failed_ratio,
    }
    print(f"setup_s {metrics['setup_s'][0]:.3f} s (median of {SETUPS} set-ups: "
          + ", ".join(f"{s:.3f}" for s in setups) + "; the first launches the JVM)")
    print(f"job_s {job_s:.3f} s (median of n={len(walls)} jobs); "
          + (f"p{p} {walls[-11]:.3f} s" if p > 50 else
             "no percentile above the median has 10 samples beyond it"))
    print(f"job_cpu_s {metrics['job_cpu_s'][0]:.3f} s")
    print(f"input_mb_per_s {ungated['input_mb_per_s']:.3f} MB/s")
    print(f"peak_worker_rss_mb {metrics['peak_worker_rss_mb'][0]:.1f} MB")
    print(f"failed_job_ratio {failed_ratio:.3f} ratio")
    record = {"environment": env, "setups_s": setups, "jobs": jobs,
              "job_s_percentile": {"p": p, "n": len(walls)}, **ungated}
    return metrics, record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import hadoopxmlextractor_spark  # noqa: F401  fail early without the package
    from xmlbench.corpus import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    ws = Workspace(args.workload, args.seed)
    # Python workers are started by the JVM and inherit this environment:
    # they need the package on their path, and all scratch files stay in
    # the checkout (SPARK_LOCAL_DIRS would override spark.local.dir).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(ws.dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ws.dir, "spark-local")
    summary = ws.corpus.summary()
    print("corpus " + json.dumps(summary), flush=True)
    try:
        if args.trace:
            from xmlbench.layers import per_layer

            metrics, record = per_layer(ws, args.seconds)
        else:
            metrics, record = end_to_end(ws, args.seconds)
    finally:
        shutdown()
        ws.remove()
    jobs = record["jobs"]
    failed = sum(not j["correct"] for j in jobs)
    record.update(corpus=summary, workload=args.workload, seed=args.seed, trace=args.trace,
                  metrics={k: {"value": v, "unit": u} for k, (v, u) in metrics.items()})
    print("environment " + json.dumps({**record["environment"], "seed": args.seed,
                                        "input_bytes": summary["input_bytes"]}))
    os.makedirs(RESULTS_DIR, exist_ok=True)
    with open(os.path.join(RESULTS_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
