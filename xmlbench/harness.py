"""Session, workspace and job helpers shared by the end-to-end and the
per-layer runs."""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import time

from xmlbench import check, corpus, procstat

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS_DIR = os.path.join(ROOT, ".xmlbench_results")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def build_session(work: str, event_log_dir: str | None = None):
    """A local[nproc] session whose scratch files all stay under ``work``."""
    from pyspark.sql import SparkSession

    n = cores()
    tmp = os.path.join(work, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("xmlbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    if event_log_dir is not None:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    return builder.getOrCreate()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown() -> None:
    """Stop the running session, if any, then the driver JVM, and wait
    for the JVM to exit (it stops its Python workers first)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()  # the gateway server exits on EOF
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def environment(spark) -> dict:
    n = cores()
    return {
        "nproc": n,
        "master": f"local[{n}]",
        "shuffle_partitions": n,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


class Workspace:
    """The generated corpus on disk plus scratch dirs, under the checkout."""

    def __init__(self, workload: str, seed: int):
        self.corpus = corpus.generate(workload, seed)
        self.dir = os.path.join(ROOT, ".xmlbench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.in_dir, self.config_path = corpus.write(self.corpus, self.dir)
        # The warm-up input: the workload's first document alone.
        self.warm_dir = os.path.join(self.dir, "warm")
        os.makedirs(self.warm_dir)
        first = self.corpus.documents[0].file_name
        shutil.copy(os.path.join(self.in_dir, first), self.warm_dir)
        self.out_dir = os.path.join(self.dir, "out")
        os.makedirs(os.path.join(self.dir, "tmp"))

    def remove(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def set_up(ws: Workspace, spark=None, event_log_dir: str | None = None):
    """One set-up: stop ``spark`` if given, build a session and run the
    unmeasured warm-up extraction: the workload's config over its first
    document, which starts the Python workers and compiles the job's
    plans. (A whole-corpus warm-up would also warm the JIT, but three of
    them would add about a fifth to each run's time.) Returns (session,
    seconds)."""
    from hadoopxmlextractor_spark import run_extraction

    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = build_session(ws.dir, event_log_dir)
    run_extraction(spark, ws.warm_dir, os.path.join(ws.dir, "warm_out"), ws.config_path)
    return spark, time.perf_counter() - t0


def timed_job(spark, ws: Workspace, jvm: int, run=None) -> dict:
    """One ``run_extraction`` call, with its CPU, worker memory and check."""
    from hadoopxmlextractor_spark import run_extraction

    run = run or run_extraction
    shutil.rmtree(ws.out_dir, ignore_errors=True)
    error = None
    steal0 = procstat.host_steal_s()
    cpu0 = procstat.tree_cpu_s(jvm)
    with procstat.PeakRss(jvm) as rss:
        t0 = time.perf_counter()
        try:
            run(spark, ws.in_dir, ws.out_dir, ws.config_path)
        except Exception as e:  # a failed job is counted, not fatal
            error = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
    cpu = procstat.tree_cpu_s(jvm) - cpu0
    steal = (procstat.host_steal_s() - steal0) / (wall * cores())
    problems = [error] if error else check.check_lines(
        check.read_part_files(ws.out_dir), ws.corpus.expected())
    return {
        "job_s": wall,
        "job_cpu_s": cpu,
        "cpu_wall": cpu / wall,
        "host_steal_share": steal,
        "peak_worker_rss_mb": rss.peak_bytes / 1e6,
        "correct": not problems,
        "problems": problems,
    }


def closed_loop(spark, ws: Workspace, seconds: float, run=None) -> list[dict]:
    """Jobs back to back until ``seconds`` have passed and at least three
    ran. Three keep the median a job's own time: the first job after a
    warm-up on one document is the slowest (the JIT has not yet compiled
    the whole-corpus path), and with two jobs the median would be its
    mean with the next."""
    jvm = jvm_pid()
    jobs: list[dict] = []
    deadline = time.perf_counter() + seconds
    while len(jobs) < 3 or time.perf_counter() < deadline:
        jobs.append(timed_job(spark, ws, jvm, run))
        j = jobs[-1]
        print(f"job {len(jobs)}: {j['job_s']:.3f} s wall, {j['job_cpu_s']:.2f} s cpu, "
              f"cpu/wall {j['cpu_wall']:.2f}, host steal {j['host_steal_share']:.0%}, "
              f"peak worker rss {j['peak_worker_rss_mb']:.0f} MB, "
              + ("correct" if j["correct"] else "WRONG: " + "; ".join(j["problems"])),
              flush=True)
    return jobs
