import xml.etree.ElementTree as ET

import pytest

from hadoopxmlextractor_spark.config import ExtractionConfig
from hadoopxmlextractor_spark.scanner import compile_rules, scan_document, scan_with_config
from tests.fixtures import BOOK_CONFIG_XML, INVENTORY_CONFIG_XML, SOHO, make_store_xml

INV_CFG = ExtractionConfig.from_hadoop_xml(INVENTORY_CONFIG_XML, is_text=True)
BOOK_CFG = ExtractionConfig.from_hadoop_xml(BOOK_CONFIG_XML, is_text=True)


def test_scan_document_order_and_counts():
    frags = scan_with_config(make_store_xml(SOHO), INV_CFG)
    # 1 store + 1 address + 2 inventories + 11 books = 15 fragments
    assert len(frags) == 15
    # seq strictly increasing = document order (SeqXmlRecordReader.java:189)
    seqs = [f.seq for f in frags]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    # rule sequence mirrors the hierarchy
    rule_names = [INV_CFG.rules[f.rule_idx].name for f in frags]
    assert rule_names[:3] == ["store", "address", "inventory"]
    assert rule_names.count("book") == 11
    assert rule_names.count("inventory") == 2


def test_fragments_are_wellformed_and_truncated():
    frags = scan_with_config(make_store_xml(SOHO), INV_CFG)
    for f in frags:
        el = ET.fromstring(f.xml)  # re-wrapped fragments parse
        rule = INV_CFG.rules[f.rule_idx]
        assert el.tag == rule.element_name
        if not rule.include_children:
            # include_children=false → start tag only, no children buffered
            assert len(list(el)) == 0 and not (el.text or "").strip()
    address = next(f for f in frags if INV_CFG.rules[f.rule_idx].name == "address")
    phones = ET.fromstring(address.xml).findall("phone")
    assert len(phones) == 1  # children preserved for include_children=true


def test_attribute_filter_hit_and_miss():
    frags = scan_with_config(make_store_xml(SOHO), BOOK_CFG)
    books = [f for f in frags if BOOK_CFG.rules[f.rule_idx].name == "book"]
    assert len(books) == 2  # bk106 appears in both inventories
    assert all('id="bk106"' in f.xml for f in books)
    # non-book fragments unaffected
    assert len(frags) == 2 + 4  # store, address, 2 inventories + 2 books


def test_non_overlap_rule():
    # An element matching rule B nested inside rule A's include_children
    # fragment is NOT extracted separately (SURVEY.md §2.2-8).
    cfg = ExtractionConfig.from_rules(
        [
            ExtractionConfig.parse_rule("outer", "outer;false;true; ;0#//outer;", ";", "#"),
            ExtractionConfig.parse_rule("inner", "inner;false;true; ;1#//inner;", ";", "#"),
        ],
        nr_of_columns=2,
    )
    doc = "<outer><inner>x</inner></outer><inner>y</inner>"
    frags = scan_with_config(doc, cfg)
    names = [cfg.rules[f.rule_idx].name for f in frags]
    assert names == ["outer", "inner"]  # nested <inner>x</inner> swallowed


def test_malformed_fragment_dropped_when_validating():
    cfg = ExtractionConfig.from_rules(
        [ExtractionConfig.parse_rule("a", "a;false;true; ;0#//a;", ";", "#")],
        nr_of_columns=1,
    )
    doc = "<a>ok</a><a>broken < xml</a><a>fine</a>"
    frags = scan_with_config(doc, cfg)
    assert [ET.fromstring(f.xml).text for f in frags] == ["ok", "fine"]


def test_unclosed_fragment_stops_scan():
    cfg = ExtractionConfig.from_rules(
        [ExtractionConfig.parse_rule("a", "a;false;true; ;0#//a;", ";", "#")],
        nr_of_columns=1,
    )
    assert scan_with_config("<a>never closes", cfg) == []


class _CountingStr(str):
    """A document that counts its ``find`` calls and the characters they
    walk (from the start offset to the match's end, or to EOF)."""

    calls = walked = 0

    def find(self, sub, start=0, *rest):
        at = super().find(sub, start, *rest)
        self.calls += 1
        self.walked += (len(self) if at == -1 else at + len(sub)) - start
        return at


def _big_store(n_books: int, pad: int) -> str:
    # one <store >, one <address>, three <inventory >, n_books <book >,
    # with `pad` filler characters inside every book
    books = "".join(
        f'<book id="bk{i:03d}" inStock="{i % 7}"><d>{"x" * pad}</d></book>'
        for i in range(n_books // 3)
    )
    invs = "".join(f'<inventory month="M{k}" day="{k}"><books>{books}</books></inventory>'
                   for k in range(3))
    return f'<store name="S"><address><phone>1</phone></address>{invs}</store>'


@pytest.mark.parametrize("cfg", [INV_CFG, BOOK_CFG], ids=["inventory", "book_filter"])
def test_scan_work_is_linear_in_the_document(cfg):
    """Each rule walks the document once: ``find`` calls are bounded by the
    rules plus three per start-pattern occurrence (a re-search, an end
    search and a ``>`` search), do not grow with the document at a fixed
    fragment count, and the characters walked stay within (rules + 2)
    passes over the document. Searching the rest of the document for every
    rule after every fragment breaks the call and character bounds."""
    compiled = compile_rules(cfg.rules)
    calls = []
    for pad in (10, 2_000):
        doc = _CountingStr(_big_store(330, pad))
        frags = list(scan_document(doc, compiled, validate=False))
        assert len(frags) == (335 if cfg is INV_CFG else 8)  # bk106 once per inventory
        occurrences = sum(doc.count(r.start_pattern) for r in compiled)
        assert doc.calls <= len(compiled) + 3 * occurrences
        assert doc.walked <= (len(compiled) + 2) * len(doc)
        calls.append(doc.calls)
    assert calls[0] == calls[1]
