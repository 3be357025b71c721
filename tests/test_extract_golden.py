"""E2E golden tests (FIXTURES.md §4, SURVEY.md §5.2): both reference
configs over the synthesized two-store corpus must reproduce the derived
golden outputs — 30 rows for ExtractInventory, 4 rows for ExtractBook.
"""

import os

import pytest

from hadoopxmlextractor_spark import xpath_subset
from hadoopxmlextractor_spark.config import ExtractionConfig
from hadoopxmlextractor_spark.extract import (
    extract,
    extract_cells,
    malformed_fragments,
    run_extraction,
)
from hadoopxmlextractor_spark.operators.assembly import assemble_rows
from hadoopxmlextractor_spark.plans import executed_plan
from hadoopxmlextractor_spark.sinks import to_reference_lines
from hadoopxmlextractor_spark.sources import docs_from_strings
from tests.fixtures import (
    BANKS,
    BOOK_CONFIG_XML,
    INVENTORY_CONFIG_XML,
    MIXED_CONFIG_XML,
    SOHO,
    golden_rows,
    make_store_xml,
)

INV_CFG = ExtractionConfig.from_hadoop_xml(INVENTORY_CONFIG_XML, is_text=True)
BOOK_CFG = ExtractionConfig.from_hadoop_xml(BOOK_CONFIG_XML, is_text=True)


@pytest.fixture(scope="module")
def docs(spark):
    return docs_from_strings(
        spark,
        {"soho.xml": make_store_xml(SOHO), "banks.xml": make_store_xml(BANKS)},
    ).cache()


def _result_rows(df):
    return [tuple(r)[2:] for r in df.orderBy("doc_id", "seq").collect()]


@pytest.fixture
def all_jvm(monkeypatch):
    """Run a query with every XPath routed to the JVM ``xpath()`` — the
    reference the subset evaluators are compared against."""

    def run(query):
        with monkeypatch.context() as m:
            m.setattr(xpath_subset, "compile_subset", lambda expr: None)
            return query()

    return run


def _in_subset(cfg) -> bool:
    return all(
        xpath_subset.compile_subset(xp.expr) is not None
        for rule in cfg.rules
        for xp in rule.xpaths
    )


def test_extract_inventory_30_golden_rows(spark, docs):
    out = extract(docs, INV_CFG)
    rows = _result_rows(out)
    assert len(rows) == 30
    # ordered within each document; compare as per-doc ordered lists
    assert rows == golden_rows([BANKS]) + golden_rows([SOHO])  # banks.xml < soho.xml


def test_extract_book_4_golden_rows(spark, docs):
    rows = _result_rows(extract(docs, BOOK_CFG))
    assert rows == golden_rows([BANKS], "bk106") + golden_rows([SOHO], "bk106")


def test_reference_text_format(spark, docs):
    lines = [r["value"] for r in to_reference_lines(extract(docs, BOOK_CFG), BOOK_CFG).collect()]
    assert lines == [
        "BanksBooks;22446688;January;4;bk106;12;",
        "BanksBooks;22446688;February;1;bk106;17;",
        "SohoBooks;11553377;January;3;bk106;13;",
        "SohoBooks;11553377;February;2;bk106;23;",
    ]


def test_cells_long_format(spark, docs):
    cells = extract_cells(docs.filter("doc_id = 'soho.xml'"), INV_CFG)
    got = cells.orderBy("seq", "order").collect()
    # 1 store + 1 phone + 2*2 inventory + 11*2 book cells = 28
    assert len(got) == 28
    assert [tuple(r)[2:] for r in got[:4]] == [
        (0, "SohoBooks"),
        (1, "11553377"),
        (2, "January"),
        (3, "3"),
    ]


def test_run_extraction_files_roundtrip(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "soho.xml").write_text(make_store_xml(SOHO))
    (in_dir / "banks.xml").write_text(make_store_xml(BANKS))
    cfg_path = tmp_path / "extract_book.xml"
    cfg_path.write_text(BOOK_CONFIG_XML)
    out_dir = tmp_path / "out"

    run_extraction(spark, str(in_dir), str(out_dir), str(cfg_path))

    lines = sorted(
        r["value"] for r in spark.read.text(str(out_dir)).collect()
    )
    assert lines == sorted(
        [
            "SohoBooks;11553377;January;3;bk106;13;",
            "SohoBooks;11553377;February;2;bk106;23;",
            "BanksBooks;22446688;January;4;bk106;12;",
            "BanksBooks;22446688;February;1;bk106;17;",
        ]
    )


@pytest.mark.parametrize("config_xml", [INVENTORY_CONFIG_XML, MIXED_CONFIG_XML],
                         ids=["all_subset", "mixed"])
def test_run_extraction_keeps_each_document_contiguous_in_one_part_file(
    spark, tmp_path, config_xml
):
    # The reference's output contract: every document's lines in one
    # part file, contiguous and in document order. Small input splits
    # put several documents in one task, so one part file holds several
    # documents on the all-subset path too.
    stores = [
        (f"Store{i}", f"{1000 + i}", (SOHO if i % 2 else BANKS)[2][: 1 + i % 2])
        for i in range(8)
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name, phone, inventories in stores:
        (in_dir / f"{name}.xml").write_text(make_store_xml((name, phone, inventories)))
    cfg_path = tmp_path / "config.xml"
    cfg_path.write_text(config_xml)
    out_dir = tmp_path / "out"
    conf = {"spark.sql.files.openCostInBytes": "1", "spark.sql.files.maxPartitionBytes": "8k"}
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        run_extraction(spark, str(in_dir), str(out_dir), str(cfg_path))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)

    parts = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            parts.append((out_dir / name).read_text().splitlines())
    expected = {
        store[0]: [";".join(row) + ";" for row in golden_rows([store])] for store in stores
    }
    seen = set()
    for lines in parts:
        # consecutive runs of one store name: one run per document
        runs = []
        for line in lines:
            store = line.split(";", 1)[0]
            if not runs or runs[-1][0] != store:
                runs.append((store, []))
            runs[-1][1].append(line)
        for store, doc_lines in runs:
            assert store not in seen, f"{store} split across runs or part files"
            seen.add(store)
            assert doc_lines == expected[store]
    assert seen == set(expected)
    assert max(len(set(line.split(";", 1)[0] for line in lines)) for lines in parts) > 1


def test_column_names_on_all_subset_path_match_the_window(spark, docs):
    # Names the positional plan would clash with ("order") or that are
    # not identifiers ("store name") work on both assembly paths.
    cfg = ExtractionConfig.from_rules(
        [
            ExtractionConfig.parse_rule("store", "store;true;false; ;0#//store/@name;", ";", "#"),
            ExtractionConfig.parse_rule("book", "book;true;false; ;1#//book/@id;", ";", "#"),
        ],
        nr_of_columns=2,
        column_names=("store name", "order"),
    )
    assert _in_subset(cfg)
    got = extract(docs, cfg)
    window = assemble_rows(extract_cells(docs, cfg), 2, column_names=["store name", "order"])
    assert got.columns == ["doc_id", "seq", "store name", "order"]
    assert got.schema == window.schema
    assert _result_rows(got) == _result_rows(window)
    assert _result_rows(got) == [(r[0], r[4]) for r in golden_rows([BANKS]) + golden_rows([SOHO])]


def test_multi_node_xpath_concatenates(spark):
    # Several matched nodes concatenate with no separator
    # (XmlExtractor.java:105-109).
    cfg = ExtractionConfig.from_rules(
        [ExtractionConfig.parse_rule("r", "r;false;true; ;0#//x/text();1#//r/@nope;2#//y/text();", ";", "#")],
        nr_of_columns=3,
    )
    docs = docs_from_strings(spark, {"d": "<r><x>a</x><x>b</x><y>z</y></r>"})
    out = extract(docs, cfg).collect()
    # col1's xpath matches nothing → " "; col2 (trigger) present
    assert [tuple(r)[2:] for r in out] == [("ab", " ", "z")]


def test_namespaced_config_runs_fused_and_agrees_with_general(spark, all_jvm):
    # A namespaced document + a prefixed config: the prefixed steps are
    # IN the subset (local-name matching), so the Python pass evaluates
    # them, and the JVM xpath (prefix-stripped) produces identical rows.
    doc = (
        '<bk:cat xmlns:bk="http://example.com/b">'
        '<bk:shelf xmlns:bk="http://example.com/b" loc="top">'
        "<bk:book id=\"b1\"><bk:n>7</bk:n></bk:book>"
        "<bk:book id=\"b2\"><bk:n>9</bk:n></bk:book>"
        "</bk:shelf></bk:cat>"
    )
    cfg = ExtractionConfig.from_rules(
        [
            ExtractionConfig.parse_rule(
                "shelf",
                "bk:shelf;true;true; ;0#//bk:shelf/@loc;"
                "1#//bk:book/@id;2#//bk:book/bk:n/text();",
                ";", "#",
            ),
        ],
        nr_of_columns=3,
    )
    assert _in_subset(cfg)  # prefixed config → Python pass
    docs = docs_from_strings(spark, {"d": doc})
    # NB the scanner matches the literal byte pattern (<bk:shelf ) exactly
    # like the reference's RecordReader; the bk:shelf fragment carries
    # its own xmlns so the per-fragment parse resolves the prefix.
    rows = [tuple(r)[2:] for r in extract(docs, cfg).collect()]
    jvm_rows = all_jvm(lambda: [tuple(r)[2:] for r in extract(docs, cfg).collect()])
    assert rows == jvm_rows
    assert rows == [("top", "b1b2", "79")]


def test_fused_and_general_paths_agree(spark, docs, all_jvm):
    rows = sorted(map(tuple, extract(docs, INV_CFG).collect()))
    assert rows == all_jvm(lambda: sorted(map(tuple, extract(docs, INV_CFG).collect())))


def test_auto_path_selection():
    # Routing is per XPath: compile_subset decides which XPaths the
    # Python pass evaluates; the rest go to the JVM xpath().
    for expr, in_subset in [
        ("//store/@name", True),  # reference config
        ("//r[@x='1']/@x", True),  # eq-predicate
        ("//r/following::x", True),  # full-document axis
        ("//r[position()=1]/@x", True),
        ("//r/ancestor::x[1]/@x", True),
        ("//r[a[b]]/@x", False),  # nested predicate
        ("//address/child::phone/text()", False),  # explicit child axis
    ]:
        assert (xpath_subset.compile_subset(expr) is not None) == in_subset, expr
    assert _in_subset(INV_CFG)


def test_mixed_config_sends_only_out_of_subset_xpaths_to_jvm(spark, docs, all_jvm):
    # One XPath outside the subset routes only its own rule's fragments
    # to the JVM; every other XPath stays in the Python pass.
    assert MIXED_CONFIG_XML != INVENTORY_CONFIG_XML
    mixed = ExtractionConfig.from_hadoop_xml(MIXED_CONFIG_XML, is_text=True)
    assert not _in_subset(mixed)

    out = extract(docs, mixed)
    assert executed_plan(out).count("XPathListEvaluator(") == 1
    rows = _result_rows(out)
    assert rows == _result_rows(extract(docs, INV_CFG))
    assert rows == all_jvm(lambda: _result_rows(extract(docs, mixed)))

    # A malformed fragment of the JVM-routed rule never reaches the JVM
    # xpath (which raises on malformed XML): it drops, and the audit
    # stream reports it.
    bad = "<address><phone>555</address>"
    broken = make_store_xml(SOHO).replace("<inventory ", bad + "<inventory ", 1)
    broken_docs = docs_from_strings(spark, {"broken.xml": broken})
    assert _result_rows(extract(broken_docs, mixed)) == golden_rows([SOHO])
    errs = malformed_fragments(broken_docs, mixed).collect()
    assert [(e.rule, e.seq) for e in errs] == [("address", broken.index(bad))]


def test_malformed_fragments_audit_stream(spark):
    # A fragment whose start tag matches but whose body is broken XML:
    # the extraction drops it (reference semantics); the audit stream
    # reports it with position and reason.
    cfg = ExtractionConfig.from_hadoop_xml(
        """<?xml version="1.0"?>
        <configuration>
          <property><name>xmlextractor.delimiter_string</name><value>;</value></property>
          <property><name>xmlextractor.sort_order_delimiter_string</name><value>#</value></property>
          <property><name>xmlextractor.output_delimiter_string</name><value>;</value></property>
          <property><name>xmlextractor.nodes</name><value>book;</value></property>
          <property><name>xmlextractor.nr_of_columns</name><value>1</value></property>
          <property><name>book</name><value>book;true;true; ;0#//book/@id;</value></property>
        </configuration>""",
        is_text=True,
    )
    good = '<book id="bk1"><x>1</x></book>'
    bad = '<book id="bk2"><unclosed></book>'
    doc = f"<store>{good}{bad}</store>"
    docs = spark.createDataFrame([("d1", doc)], "doc_id string, content string")
    rows = extract(docs, cfg).collect()
    errs = malformed_fragments(docs, cfg).collect()
    assert len(errs) == 1
    e = errs[0]
    assert e.doc_id == "d1" and e.rule == "book"
    assert e.seq == doc.index(bad)
    assert "mismatched tag" in e.error or "not well-formed" in e.error
    assert e.snippet.startswith('<book id="bk2">')
    # the dropped fragment is exactly the one missing from the output
    assert [r.c0 for r in rows] == ["bk1"]


def test_descendant_and_positional_configs_run_fused_and_agree(spark, all_jvm):
    # Mid-path // (descendant axis) and [n] (per-parent positional
    # predicate) are IN the subset; the Python pass matches the
    # javax/JVM xpath node-for-node.
    doc = (
        '<cat loc="top"><shelf><row><book id="b1"><n>7</n></book>'
        '<book id="b2"><n>9</n></book></row>'
        '<row><book id="b3"><n>4</n></book></row></shelf></cat>'
    )
    cfg = ExtractionConfig.from_rules(
        [
            ExtractionConfig.parse_rule(
                "cat",
                "cat;true;true; ;0#/cat/@loc;"
                "1#//cat//book/@id;2#//row/book[2]/@id;3#//shelf//n/text();"
                "4#//row//text();",
                ";", "#",
            ),
        ],
        nr_of_columns=5,
    )
    assert _in_subset(cfg)  # //, [n], //text() → Python pass
    docs = docs_from_strings(spark, {"d": doc})
    rows = [tuple(r)[2:] for r in extract(docs, cfg).collect()]
    jvm_rows = all_jvm(lambda: [tuple(r)[2:] for r in extract(docs, cfg).collect()])
    assert rows == jvm_rows
    assert rows == [("top", "b1b2b3", "b2", "794", "794")]


def test_fused_and_general_paths_agree_with_predicates(spark, all_jvm):
    # The [@attr='v'] subset support must match javax XPath (the JVM
    # xpath) node-for-node, including the no-match → dropped-cell
    # semantics.
    cfg = ExtractionConfig.from_rules(
        [
            ExtractionConfig.parse_rule(
                "inventory",
                "inventory;true;true; ;"
                "0#//inventory/@month;1#//book[@id='bk106']/@inStock;",
                ";",
                "#",
            )
        ],
        nr_of_columns=2,
    )
    doc = (
        "<store>"
        '<inventory month="Jan"><book id="bk106" inStock="13"/>'
        '<book id="bk101" inStock="9"/></inventory>'
        '<inventory month="Feb"><book id="bk101" inStock="7"/></inventory>'
        "</store>"
    )
    docs = spark.createDataFrame([("d", doc)], "doc_id string, content string")
    assert _in_subset(cfg)  # stays in the Python pass
    cells = sorted(map(tuple, extract_cells(docs, cfg).collect()))
    assert cells == all_jvm(lambda: sorted(map(tuple, extract_cells(docs, cfg).collect())))
    # Jan fragment matches bk106 (13); Feb fragment drops the cell
    assert [(v,) for *_, v in cells].count(("13",)) == 1
