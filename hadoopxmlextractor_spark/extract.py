"""The extraction pipeline: documents → cells → output rows.

Spark-first restatement of the reference's fixed physical plan
(scan → scan-time filter → fragment project → XPath project → shuffle/sort
→ ordered pivot + forward fill → sink; ``XmlExtractor.java:178-212``):

1. **Scan** — whole-document rows (``sources.read_xml_documents``).
2. **Fragment scan, parse and project** — one Arrow-batched
   ``mapInPandas`` pass. The pure-Python multi-pattern scanner
   (``scanner.py``) applies the attribute predicate and the
   include-children truncation *before* any XML parsing — the same
   filter/projection pushdown the reference hand-rolls in its
   RecordReader (``SeqXmlRecordReader.java:259-273``). Each fragment is
   then parsed once with ``ET.fromstring`` (C expat); a fragment that
   fails to parse is dropped silently, like the reference's swallowed
   exceptions (``XmlExtractor.java:114-126``). Every XPath the
   ``xpath_subset`` compiler accepts is evaluated on that tree, as the
   reference evaluates a rule's XPath list on one DOM
   (``XmlExtractor.java:84-102``).
3. **JVM XPath projection** — only for XPaths outside the subset: the
   pass also emits each parsed fragment of a rule that has such XPaths,
   and a JVM-side ``xpath()`` evaluates just those XPaths on it, gated
   by rule index. This stage is absent from the plan when every XPath
   is in the subset.
4. **Assembly** — running forward fill and trigger-gated emit, the
   reference's Reduce (``XmlExtractor.java:150-175``). When every XPath
   is in the subset, the pass of step 2 does it: one task reads a whole
   document (files are not split), so its cells already arrive in
   ``(seq, order)`` order and the reference's partitioner and sort
   comparators have nothing to do. Otherwise the JVM cells go through
   ``operators.assembly.assemble_rows``: one shuffle (partition by doc,
   sort by (seq, order)).

In both projections several matched nodes concatenate with no separator
and an empty nodeset drops the cell (``XmlExtractor.java:100-112``).
The all-subset plan has no shuffle; the plan with JVM XPaths has exactly
one, keyed on the high-cardinality doc_id. Either way every document's
rows leave in one partition, contiguous and in ``seq`` order, which is
what the reference-format sink needs.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from hadoopxmlextractor_spark import xpath_subset
from hadoopxmlextractor_spark.config import ExtractionConfig, XPathSpec
from hadoopxmlextractor_spark.operators.assembly import assemble_rows
from hadoopxmlextractor_spark.scanner import CompiledRule, Fragment, compile_rules, scan_document
from hadoopxmlextractor_spark.sinks import reference_line

_CELL_COLUMNS = {"doc_id": "object", "seq": "int64", "order": "Int32", "value": "object"}
_ROUTED_COLUMNS = {**_CELL_COLUMNS, "rule_idx": "Int32", "fragment": "object"}
_ERROR_COLUMNS = {
    "doc_id": "object", "seq": "int64", "rule": "object", "error": "object", "snippet": "object",
}


def _spark_schema(columns: dict[str, str]) -> str:
    types = {"object": "string", "int64": "long", "Int32": "int"}
    return ", ".join(f"{name} {types[dtype]}" for name, dtype in columns.items())


def _frame(rows: list[tuple], columns: dict[str, str]) -> pd.DataFrame:
    return pd.DataFrame.from_records(rows, columns=list(columns)).astype(columns)


_Evaluators = list[list[tuple[int, Callable[[ET.Element], str | None]]]]


def _route(config: ExtractionConfig) -> tuple[_Evaluators, list[list[XPathSpec]]]:
    """Per rule: the ``(order, evaluator)`` pairs of the XPaths the
    ``xpath_subset`` compiler accepts, in ascending order, and the
    XPaths left to the JVM ``xpath()``. Decided once, on the driver."""
    in_subset: _Evaluators = []
    on_jvm: list[list[XPathSpec]] = []
    for rule in config.rules:
        xpaths = sorted(rule.xpaths, key=lambda xp: xp.order)
        evaluators = [(xp, xpath_subset.compile_subset(xp.expr)) for xp in xpaths]
        in_subset.append([(xp.order, ev) for xp, ev in evaluators if ev is not None])
        on_jvm.append([xp for xp, ev in evaluators if ev is None])
    return in_subset, on_jvm


def _parse_fragments(
    pdf: pd.DataFrame, compiled: tuple[CompiledRule, ...]
) -> Iterator[tuple[str, Fragment, ET.Element | None, str | None]]:
    """Scan every document of a batch and parse each fragment once.

    Yields ``(doc_id, fragment, tree, error)``: ``tree`` is the parsed
    fragment, or None with the parser's message in ``error``.
    """
    for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
        if content is None:
            continue
        for frag in scan_document(content, compiled, validate=False):
            try:
                tree = ET.fromstring(frag.xml)
            except ET.ParseError as e:
                yield doc_id, frag, None, str(e)
            else:
                yield doc_id, frag, tree, None


def _evaluate_fragments(
    pdf: pd.DataFrame, compiled: tuple[CompiledRule, ...], in_subset: _Evaluators
) -> Iterator[tuple[str, Fragment, list[tuple[int, str]]]]:
    """Yield ``(doc_id, fragment, cells)`` for every fragment that
    parses, in document order; ``cells`` holds the ``(order, value)`` of
    each in-subset XPath with a non-empty nodeset, in ascending order."""
    for doc_id, frag, tree, _ in _parse_fragments(pdf, compiled):
        if tree is None:
            continue  # silent drop, XmlExtractor.java:114-126
        cells = []
        for order, ev in in_subset[frag.rule_idx]:
            value = ev(tree)
            if value is not None:  # empty nodeset → no cell, XmlExtractor.java:104
                cells.append((order, value))
        yield doc_id, frag, cells


def _xpath_array(col: str, expr: str):
    """JVM-side xpath(col, expr) → array<string> of node string values.

    Subset-shaped expressions are normalized to the subset evaluators'
    semantics: namespace prefixes stripped (Spark's xpath matches a
    *prefixed* step against nothing; an unprefixed step already matches
    by local name in any namespace) and bare element terminals rewritten
    to their subtree text nodes (Hive's xpath yields null for element
    nodes; see ``xpath_subset`` docstring for the reference's
    "null"-string defect this deliberately fixes).
    """
    return F.xpath(F.col(col), F.lit(xpath_subset.normalize_for_jvm(expr)))


def extract_cells(docs: DataFrame, config: ExtractionConfig) -> DataFrame:
    """documents(doc_id, content) → cells(doc_id, seq, order, value), the
    long-format shuffle data shape (``XmlReducerKeyWritable.java:17-25``).

    Routing is per XPath: ``xpath_subset.compile_subset`` decides on the
    driver which XPaths the Python pass evaluates; the rest go to the
    JVM ``xpath()``. The compiled rule tables and evaluators are tiny and
    ship in the task closure (the reference compiles them once per map
    task, ``SeqXmlRecordReader.java:117-141``; here once per Python
    worker).
    """
    compiled = compile_rules(config.rules)
    in_subset, on_jvm = _route(config)
    columns = _ROUTED_COLUMNS if any(on_jvm) else _CELL_COLUMNS
    no_fragment = (None,) * (len(columns) - len(_CELL_COLUMNS))

    def scan_project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for doc_id, frag, cells in _evaluate_fragments(pdf, compiled, in_subset):
                rows.extend((doc_id, frag.seq, order, value) + no_fragment for order, value in cells)
                if on_jvm[frag.rule_idx]:
                    rows.append((doc_id, frag.seq, None, None, frag.rule_idx, frag.xml))
            yield _frame(rows, columns)

    cells = docs.mapInPandas(scan_project, schema=_spark_schema(columns))
    if columns is _CELL_COLUMNS:
        return cells

    # A row with a rule_idx carries a fragment; the others already are
    # cells and pass through as one-node arrays.
    projected = F.when(
        F.col("rule_idx").isNull(),
        F.array(F.struct("order", F.array("value").alias("nodes"))),
    )
    for i, xpaths in enumerate(on_jvm):
        if xpaths:
            projected = projected.when(
                F.col("rule_idx") == i,
                F.array(*[
                    F.struct(
                        F.lit(xp.order).alias("order"),
                        _xpath_array("fragment", xp.expr).alias("nodes"),
                    )
                    for xp in xpaths
                ]),
            )
    return (
        cells.select("doc_id", "seq", F.explode(projected).alias("cell"))
        # Empty nodeset → no cell; an empty *string value* of a matched
        # node still emits.
        .filter(F.size("cell.nodes") > 0)
        .select(
            "doc_id",
            "seq",
            F.col("cell.order").alias("order"),
            F.array_join("cell.nodes", "").alias("value"),
        )
    )


def _fill_rows(docs: DataFrame, config: ExtractionConfig, in_subset: _Evaluators) -> DataFrame:
    """documents → assembled rows in one Python pass, for a config whose
    XPaths are all in the subset: scan, parse and evaluate as
    ``extract_cells`` does, then forward-fill each document's cells as
    they arrive, in ``(seq, order)`` order, emitting on the trigger
    column — ``assemble_rows``' rows and schema without its shuffle."""
    compiled = compile_rules(config.rules)
    names = config.output_columns()
    n = config.nr_of_columns
    trigger = n - 1
    columns = ["doc_id", "seq", *names]
    schema = StructType(
        [StructField("doc_id", StringType()), StructField("seq", LongType())]
        # assemble_rows' coalesce with a literal makes rendered columns non-null.
        + [StructField(name, StringType(), nullable=False) for name in names]
    )

    def fill(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            current = state = None
            for doc_id, frag, cells in _evaluate_fragments(pdf, compiled, in_subset):
                if state is None or doc_id != current:
                    current, state = doc_id, [None] * n
                for order, value in cells:
                    state[order] = value
                    if order == trigger:
                        # null or "" renders as the reference's " "
                        rows.append((doc_id, frag.seq, *[cell or " " for cell in state]))
            yield pd.DataFrame.from_records(rows, columns=columns).astype({"seq": "int64"})

    return docs.mapInPandas(fill, schema=schema)


def extract(docs: DataFrame, config: ExtractionConfig) -> DataFrame:
    """Full pipeline: documents(doc_id, content) → assembled output rows.

    Returns DataFrame[doc_id, seq, <output columns>] with every
    document's rows in one partition, contiguous and in ``seq``
    (document) order; use ``sinks.write_reference_format`` for the
    delimited-text sink of rows in any layout. When every XPath is in
    the subset the plan has no shuffle; otherwise the JVM cells are
    assembled by ``assemble_rows``' window.
    """
    in_subset, on_jvm = _route(config)
    if not any(on_jvm):
        return _fill_rows(docs, config, in_subset)
    return assemble_rows(
        extract_cells(docs, config), config.nr_of_columns, column_names=config.output_columns()
    )


def extract_lines(docs: DataFrame, config: ExtractionConfig) -> DataFrame:
    """documents → the reference-format lines ``run_extraction`` writes,
    one per output row, in ``extract``'s layout: each document's lines in
    one partition, in document order, as each reference reducer writes
    them to its own part file."""
    return extract(docs, config).select(reference_line(config))


def run_extraction(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    config_path: str,
) -> None:
    """Drop-in equivalent of the reference job driver
    (``XmlExtractor.main``, ``XmlExtractor.java:178-212``):
    read XML documents from ``input_path``, apply the Hadoop-resource
    config at ``config_path``, write delimited text to ``output_path``.
    """
    from hadoopxmlextractor_spark.sources import read_xml_documents

    config = ExtractionConfig.from_hadoop_xml(config_path)
    lines = extract_lines(read_xml_documents(spark, input_path), config)
    lines.write.mode("overwrite").text(output_path)


def malformed_fragments(
    docs: DataFrame, config: ExtractionConfig, *, snippet_len: int = 120
) -> DataFrame:
    """PERMISSIVE-style error stream: the fragments the extraction
    pipeline DROPS because they fail to parse.

    The reference swallows XPath/parse exceptions with a println and
    silently loses the row (``XmlExtractor.java:114-126``, SURVEY
    §2.2-5); the compat pipeline reproduces that row-loss semantics.
    This is the audit-side fix: run it over the same input to get
    (doc_id, seq, rule, error, snippet) for every dropped fragment —
    union it into a quarantine sink or alert on its count. Same
    scan-time cost profile as extraction (one Arrow-batched pass, no
    shuffle); at 100 TB run it in the same job and the scan is shared
    only if explicitly persisted, so prefer scheduling it as the
    validation stage of the landing pipeline.
    """
    compiled = compile_rules(config.rules)
    rule_names = [r.element_name for r in config.rules]

    def scan_errors(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _frame(
                [
                    (doc_id, frag.seq, rule_names[frag.rule_idx], error, frag.xml[:snippet_len])
                    for doc_id, frag, _, error in _parse_fragments(pdf, compiled)
                    if error is not None
                ],
                _ERROR_COLUMNS,
            )

    return docs.mapInPandas(scan_errors, schema=_spark_schema(_ERROR_COLUMNS))
