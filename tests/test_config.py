import re

import pytest

from hadoopxmlextractor_spark.config import ExtractionConfig, ExtractRule, XPathSpec
from tests.fixtures import BOOK_CONFIG_XML, INVENTORY_CONFIG_XML


def test_parse_inventory_config():
    cfg = ExtractionConfig.from_hadoop_xml(INVENTORY_CONFIG_XML, is_text=True)
    assert cfg.nr_of_columns == 6
    assert cfg.output_delimiter == ";"
    assert [r.name for r in cfg.rules] == ["store", "address", "inventory", "book"]

    store = cfg.rules[0]
    assert store.element_name == "store"
    assert store.has_attribute and not store.include_children
    assert store.attribute_value is None  # single space → no filter
    assert store.xpaths == (XPathSpec(0, "//store/@name"),)
    assert store.start_pattern == "<store "
    assert store.end_pattern == ">"
    assert store.buffer_addition == "</store>"

    address = cfg.rules[1]
    assert not address.has_attribute and address.include_children
    assert address.start_pattern == "<address>"
    assert address.end_pattern == "</address>"
    assert address.buffer_addition == ""

    inventory = cfg.rules[2]
    assert inventory.xpaths == (
        XPathSpec(2, "//inventory/@month"),
        XPathSpec(3, "//inventory/@day"),
    )


def test_parse_book_config_attribute_filter():
    cfg = ExtractionConfig.from_hadoop_xml(BOOK_CONFIG_XML, is_text=True)
    book = cfg.rules[3]
    assert book.attribute_value == "bk106"


def test_parse_rule_edge_cases():
    r = ExtractionConfig.parse_rule("x", "el;false;true; ;0#//el/text();", ";", "#")
    assert r.attribute_value is None
    r2 = ExtractionConfig.parse_rule("x", "el;true;false;foo;1#//el/@a", ";", "#")
    assert r2.attribute_value == "foo"
    assert r2.xpaths == (XPathSpec(1, "//el/@a"),)


def test_output_columns_default_and_named():
    cfg = ExtractionConfig.from_rules(
        [ExtractRule("r", "r", False, True, None, (XPathSpec(0, "//r"),))],
        nr_of_columns=2,
    )
    assert cfg.output_columns() == ["c0", "c1"]
    named = ExtractionConfig.from_rules(
        cfg.rules, nr_of_columns=2, column_names=("a", "b")
    )
    assert named.output_columns() == ["a", "b"]


@pytest.mark.parametrize(
    "edit, message",
    [
        (("<property><name>xmlextractor.nr_of_columns</name><value>6</value></property>", ""),
         "xmlextractor.nr_of_columns"),
        (("<property><name>xmlextractor.nodes</name>", "<property><name>unused</name>"),
         "xmlextractor.nodes"),
        (("<property><name>address</name>", "<property><name>unused</name>"), "'address'"),
        (("5#//book/@inStock", "7#//book/@inStock"), "order 7"),
        (("0#//store/@name", "-1#//store/@name"), "order -1"),
    ],
)
def test_invalid_config_raises_value_error(edit, message):
    # A missing property or an order outside [0, nr_of_columns) fails at
    # parse time, naming the key or order, instead of a bare KeyError or
    # a job that silently emits zero rows.
    broken = INVENTORY_CONFIG_XML.replace(*edit)
    assert broken != INVENTORY_CONFIG_XML
    with pytest.raises(ValueError, match=re.escape(message)):
        ExtractionConfig.from_hadoop_xml(broken, is_text=True)


def test_from_rules_checks_order_range():
    rule = ExtractRule("r", "r", False, True, None, (XPathSpec(2, "//r"),))
    assert ExtractionConfig.from_rules([rule], nr_of_columns=3).nr_of_columns == 3
    with pytest.raises(ValueError, match="order 2"):
        ExtractionConfig.from_rules([rule], nr_of_columns=2)
