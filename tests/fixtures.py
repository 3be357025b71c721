"""Synthesized test fixtures matching the reference corpus *shape*
(FIXTURES.md §1-§4): a 3-level store → inventory → book hierarchy with
attributes at every level. Documents are generated from the golden data —
no reference files are copied.
"""

from __future__ import annotations

# (store, phone, [(month, day, [(book_id, in_stock), ...]), ...])
SOHO = (
    "SohoBooks",
    "11553377",
    [
        ("January", "3", [("bk101", "10"), ("bk102", "3"), ("bk103", "22"),
                          ("bk106", "13"), ("bk107", "20"), ("bk108", "4")]),
        ("February", "2", [("bk101", "17"), ("bk103", "32"), ("bk106", "23"),
                           ("bk107", "2"), ("bk108", "3")]),
    ],
)

BANKS = (
    "BanksBooks",
    "22446688",
    [
        ("January", "4", [("bk103", "1"), ("bk104", "12"), ("bk105", "3"),
                          ("bk106", "12"), ("bk107", "40"), ("bk108", "2"),
                          ("bk109", "3"), ("bk110", "14"), ("bk111", "8"),
                          ("bk112", "5")]),
        ("February", "1", [("bk103", "1"), ("bk104", "3"), ("bk105", "2"),
                           ("bk106", "17"), ("bk107", "40"), ("bk108", "1"),
                           ("bk110", "24"), ("bk111", "3"), ("bk112", "7")]),
    ],
)


def make_store_xml(store) -> str:
    name, phone, inventories = store
    parts = ['<?xml version="1.0"?>', f'<store name="{name}">']
    parts.append(
        "   <address>\n      <street>Main</street>\n      <nr>42</nr>\n"
        f"      <city>Town</city>\n      <phone>{phone}</phone>\n   </address>"
    )
    for month, day, books in inventories:
        parts.append(f'   <inventory month="{month}" day="{day}">')
        parts.append("      <books>")
        for book_id, stock in books:
            parts.append(
                f'         <book id="{book_id}" inStock="{stock}">\n'
                f"            <author>Author, {book_id}</author>\n"
                f"            <title>Title {book_id}</title>\n"
                f"            <price>9.95</price>\n"
                f"            <description>Filler text about {book_id} and\n"
                f"            more filler text.</description>\n"
                f"         </book>"
            )
        parts.append("      </books>")
        parts.append("   </inventory>")
    parts.append("</store>")
    return "\n".join(parts)


def golden_rows(stores, book_filter=None) -> list[tuple[str, ...]]:
    """Expected output rows (FIXTURES.md §4): one per book in document
    order, forward-filled context columns."""
    rows = []
    for name, phone, inventories in stores:
        for month, day, books in inventories:
            for book_id, stock in books:
                if book_filter is None or book_id == book_filter:
                    rows.append((name, phone, month, day, book_id, stock))
    return rows


INVENTORY_CONFIG_XML = """<?xml version="1.0"?>
<configuration>
  <property><name>xmlextractor.delimiter_string</name><value>;</value></property>
  <property><name>xmlextractor.sort_order_delimiter_string</name><value>#</value></property>
  <property><name>xmlextractor.output_delimiter_string</name><value>;</value></property>
  <property><name>xmlextractor.nodes</name><value>store;address;inventory;book;</value></property>
  <property><name>xmlextractor.nr_of_columns</name><value>6</value></property>
  <property><name>store</name><value>store;true;false; ;0#//store/@name;</value></property>
  <property><name>address</name><value>address;false;true; ;1#//address/phone/text();</value></property>
  <property><name>inventory</name><value>inventory;true;false; ;2#//inventory/@month;3#//inventory/@day;</value></property>
  <property><name>book</name><value>book;true;false; ;4#//book/@id;5#//book/@inStock;</value></property>
</configuration>
"""

BOOK_CONFIG_XML = INVENTORY_CONFIG_XML.replace(
    "<value>book;true;false; ;4#", "<value>book;true;false;bk106;4#"
)

# The inventory config with its phone XPath outside the xpath_subset
# subset (child:: axis), so extraction takes the JVM xpath() path.
MIXED_CONFIG_XML = INVENTORY_CONFIG_XML.replace(
    "1#//address/phone/text()", "1#//address/child::phone/text()"
)
