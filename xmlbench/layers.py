"""Per-layer trace of the extraction job (``run.py --trace 1``).

Each layer is timed on the saved output of the layer before it, written
once under the run's work dir, so its time is its own and not a
difference of end-to-end totals:

- ``sources``: ``read_xml_documents`` → noop sink;
- ``scanner``: ``scan_document`` in-process, one thread, over the files;
- ``xpath_subset``: ``ET.fromstring`` then the ``compile_subset``
  evaluators, in-process, over the scanner's fragments (zero when the
  config leaves the fused subset and the job bypasses this layer);
- ``extract``: ``extract_cells`` over the saved documents → noop sink;
- ``assembly``: ``operators.assembly.assemble_rows`` over the saved
  cells → noop sink;
- ``sinks``: ``write_reference_format`` over the saved rows;
- ``job``: whole ``run_extraction`` calls, with spans around the calls
  into each module's public functions and counts from the event log.

The tracing overhead is the median traced ``job_s`` (spans and event
log on) minus the median untraced ``job_s`` of the same run.
"""

from __future__ import annotations

import importlib
import os
import re
import statistics
import xml.etree.ElementTree as ET
from contextlib import contextmanager

from xmlbench import check, eventlog
from xmlbench.harness import RESULTS_DIR, Workspace, closed_loop, environment, set_up, shutdown
from xmlbench.spans import Tracer

_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange\s")


@contextmanager
def job_group(spark, name: str):
    spark.sparkContext.setJobGroup(name, name)
    try:
        yield
    finally:
        spark.sparkContext.setJobGroup("", "")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _scan_layer(ws: Workspace, config, tracer: Tracer) -> dict:
    """The scanner and xpath_subset layers, in-process on one thread, as
    the job runs them: the fused path (every XPath in the subset) scans
    without validation and then parses and projects each fragment; the
    general path validates in the scanner and never uses the subset."""
    from hadoopxmlextractor_spark.scanner import compile_rules, scan_document
    from hadoopxmlextractor_spark.xpath_subset import compile_subset

    evaluators = [[compile_subset(xp.expr) for xp in rule.xpaths] for rule in config.rules]
    unsupported = sum(ev is None for rule in evaluators for ev in rule)
    fused = unsupported == 0
    docs = [d.xml for d in ws.corpus.documents]
    compiled = compile_rules(config.rules)
    with tracer.span("scanner") as s:
        frags = [f for doc in docs for f in scan_document(doc, compiled, validate=not fused)]
    attempts = sum(doc.count(r.start_pattern) for doc in docs for r in compiled)
    m = {
        "scanner.scan_s": (s.duration, "s"),
        "scanner.ns_per_byte": (s.duration * 1e9 / ws.corpus.input_bytes, "ns/B"),
        "scanner.fragments": (len(frags), "count"),
        "scanner.kept_ratio": (len(frags) / attempts, "ratio"),
    }
    parse_s = eval_s = 0.0
    cells = 0
    if fused:
        with tracer.span("xpath_subset"):
            with tracer.span("xpath_subset.parse") as p:
                trees = [ET.fromstring(f.xml) for f in frags]
            with tracer.span("xpath_subset.eval") as e:
                for f, tree in zip(frags, trees):
                    cells += sum(ev(tree) is not None for ev in evaluators[f.rule_idx])
        parse_s, eval_s = p.duration, e.duration
    m.update({
        "xpath_subset.parse_s": (parse_s, "s"),
        "xpath_subset.eval_s": (eval_s, "s"),
        "xpath_subset.cells": (cells, "count"),
        "xpath_subset.unsupported_exprs": (unsupported, "count"),
    })
    return m


def _traced_jobs(spark, ws: Workspace, seconds: float, tracer: Tracer) -> list[dict]:
    """run_extraction in a closed loop, with a span per call and spans
    around the calls it makes into each module's public functions."""
    import hadoopxmlextractor_spark as pkg

    extract_mod = importlib.import_module("hadoopxmlextractor_spark.extract")
    sources_mod = importlib.import_module("hadoopxmlextractor_spark.sources")
    sinks_mod = importlib.import_module("hadoopxmlextractor_spark.sinks")
    restore = [
        tracer.wrap(sources_mod, "read_xml_documents", "sources.read_xml_documents"),
        tracer.wrap(extract_mod, "extract", "extract.extract"),
        tracer.wrap(extract_mod, "extract_cells", "extract.extract_cells"),
        tracer.wrap(extract_mod, "assemble_rows", "operators.assembly.assemble_rows"),
        tracer.wrap(sinks_mod, "write_reference_format", "sinks.write_reference_format"),
    ]

    def traced_run(*args):
        with tracer.span("job"):
            pkg.run_extraction(*args)

    try:
        with job_group(spark, "job"):
            return closed_loop(spark, ws, seconds, traced_run)
    finally:
        for undo in restore:
            undo()


def per_layer(ws: Workspace, seconds: float) -> tuple[dict, dict]:
    from hadoopxmlextractor_spark import ExtractionConfig
    from hadoopxmlextractor_spark.extract import extract_cells
    from hadoopxmlextractor_spark.operators.assembly import assemble_rows
    from hadoopxmlextractor_spark.sinks import write_reference_format
    from hadoopxmlextractor_spark.sources import read_xml_documents

    config = ExtractionConfig.from_hadoop_xml(ws.config_path)

    # Untraced baseline: no spans, no event log.
    spark, _ = set_up(ws)
    env = environment(spark)
    # Half the run each for the untraced and the traced loop.
    print("untraced jobs", flush=True)
    untraced = closed_loop(spark, ws, seconds / 2)

    # Traced session: a fresh event-log dir, so no other run's events count.
    log_dir = os.path.join(ws.dir, "eventlog")
    os.makedirs(log_dir)
    spark, _ = set_up(ws, spark, log_dir)
    tracer = Tracer(f"{ws.corpus.workload.name}-{ws.corpus.seed}-{os.getpid()}")
    saved = {k: os.path.join(ws.dir, "saved", k) for k in ("docs", "cells", "rows", "text")}
    m: dict[str, tuple[float, str]] = {}
    try:
        with tracer.span("trace"):
            print("traced jobs", flush=True)
            traced = _traced_jobs(spark, ws, seconds / 2, tracer)
            with job_group(spark, "sources"), tracer.span("sources") as s:
                _noop(read_xml_documents(spark, ws.in_dir))
            m["sources.read_s"] = (s.duration, "s")
            with job_group(spark, "save"), tracer.span("save.docs"):
                read_xml_documents(spark, ws.in_dir).write.parquet(saved["docs"])

            m.update(_scan_layer(ws, config, tracer))

            with job_group(spark, "extract"), tracer.span("extract") as s:
                _noop(extract_cells(spark.read.parquet(saved["docs"]), config))
            m["extract.cells_s"] = (s.duration, "s")
            with job_group(spark, "save"), tracer.span("save.cells"):
                extract_cells(spark.read.parquet(saved["docs"]), config).write.parquet(saved["cells"])
                n_cells = spark.read.parquet(saved["cells"]).count()
            m["extract.cells"] = (n_cells, "count")

            def assembled():
                return assemble_rows(spark.read.parquet(saved["cells"]), config.nr_of_columns,
                                     column_names=config.output_columns())

            plan = assembled()._jdf.queryExecution().executedPlan().toString()
            with job_group(spark, "assembly"), tracer.span("assembly") as s:
                _noop(assembled())
            m["assembly.assemble_s"] = (s.duration, "s")
            m["assembly.exchanges"] = (len(_EXCHANGE.findall(plan)), "count")
            with job_group(spark, "save"), tracer.span("save.rows"):
                assembled().write.parquet(saved["rows"])
                n_rows = spark.read.parquet(saved["rows"]).count()
            m["assembly.emit_ratio"] = (n_rows / n_cells, "ratio")

            with job_group(spark, "sinks"), tracer.span("sinks") as s:
                write_reference_format(spark.read.parquet(saved["rows"]), config, saved["text"])
            m["sinks.write_s"] = (s.duration, "s")
            parts = [os.path.join(saved["text"], f) for f in os.listdir(saved["text"])
                     if f.startswith("part-")]
            m["sinks.bytes_written"] = (sum(os.path.getsize(p) for p in parts), "bytes")
            m["sinks.files_written"] = (len(parts), "count")
            sink_problems = check.check_lines(check.read_part_files(saved["text"]),
                                             ws.corpus.expected())
    finally:
        shutdown()  # also closes the event log

    groups = eventlog.summarize_event_log(log_dir)

    def ev(group: str, key: str) -> float:
        return groups.get(group, {}).get(key, 0)

    m["sources.input_tasks"] = (ev("sources", "tasks"), "count")
    m["extract.executor_cpu_s"] = (ev("extract", "executor_cpu_s"), "s")
    m["extract.executor_run_s"] = (ev("extract", "executor_run_s"), "s")
    m["assembly.shuffle_write_bytes"] = (ev("assembly", "shuffle_write_bytes"), "bytes")
    m["sinks.shuffle_write_bytes"] = (ev("sinks", "shuffle_write_bytes"), "bytes")
    # Per run_extraction call: the "job" group holds every traced call.
    for key, name, unit in (("jobs", "spark_jobs", "count"), ("stages", "stages", "count"),
                            ("tasks", "tasks", "count"),
                            ("shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
                            ("spill_bytes", "spill_bytes", "bytes"), ("gc_s", "gc_s", "s"),
                            ("executor_cpu_s", "executor_cpu_s", "s")):
        m[f"job.{name}"] = (ev("job", key) / len(traced), unit)
    # From /proc, so Python-worker CPU counts: well below nproc while the
    # job's tasks are busy flags host contention.
    m["job.cpu_wall_ratio"] = (statistics.median(j["cpu_wall"] for j in traced), "ratio")
    untraced_s = statistics.median(j["job_s"] for j in untraced)
    traced_s = statistics.median(j["job_s"] for j in traced)
    m["trace.overhead_s"] = (traced_s - untraced_s, "s")

    os.makedirs(RESULTS_DIR, exist_ok=True)
    spans_path = os.path.join(
        RESULTS_DIR, f"{ws.corpus.workload.name}-seed{ws.corpus.seed}-spans.json")
    tracer.dump(spans_path)

    for name, (value, unit) in m.items():
        print(f"{name} {value:.6g} {unit}")
    sink_job = {"job_s": m["sinks.write_s"][0], "correct": not sink_problems,
                "problems": sink_problems}
    record = {
        "environment": env,
        "jobs": untraced + traced + [sink_job],
        "untraced_job_s": untraced_s,
        "traced_job_s": traced_s,
        "event_log_groups": groups,
        "spans": spans_path,
    }
    return m, record
