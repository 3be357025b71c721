#!/usr/bin/env python
"""Document-size sweep of the fragment scanner: one thread, no Spark.

Generates one store document (address, inventories of books) at
0.03 / 0.3 / 3 / 30 MB, scans it with the ExtractInventory rules the way
``extract_cells`` does (``validate=False``), and prints the best-of-3
scan time per byte and the fragment count. A linear scanner keeps ns/B
flat across sizes; the run exits 1 if ns/B at 30 MB is more than 3x
the value at 0.3 MB.

    python scripts/scan_sweep.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoopxmlextractor_spark.config import ExtractionConfig  # noqa: E402
from hadoopxmlextractor_spark.scanner import compile_rules, scan_document  # noqa: E402

SIZES_MB = (0.03, 0.3, 3, 30)
BOOKS_PER_INVENTORY = 400
RULES = {
    "store": "store;true;false; ;0#//store/@name;",
    "address": "address;false;true; ;1#//address/phone/text();",
    "inventory": "inventory;true;false; ;2#//inventory/@month;3#//inventory/@day;",
    "book": "book;true;false; ;4#//book/@id;5#//book/@inStock;",
}


def _book(i: int) -> str:
    return (
        f'         <book id="bk{i:06d}" inStock="{i % 97}">\n'
        f"            <author>Author {i % 131}</author>\n"
        f"            <title>Title {i}</title>\n"
        f"            <price>{i % 90 + 9}.95</price>\n"
        f"            <description>Filler text about book {i}.</description>\n"
        f"         </book>"
    )


def document(target_bytes: int) -> str:
    parts = ['<?xml version="1.0"?>', '<store name="Sweep">',
             "   <address>\n      <street>Main</street>\n"
             "      <phone>11553377</phone>\n   </address>"]
    size = sum(len(p) + 1 for p in parts)
    i = 0
    while size < target_bytes:
        parts.append(f'   <inventory month="M{i // BOOKS_PER_INVENTORY}" day="1">\n      <books>')
        for _ in range(BOOKS_PER_INVENTORY):
            parts.append(_book(i))
            size += len(parts[-1]) + 1
            i += 1
            if size >= target_bytes:
                break
        parts.append("      </books>\n   </inventory>")
    parts.append("</store>")
    return "\n".join(parts)


def main() -> int:
    cfg = ExtractionConfig.from_rules(
        [ExtractionConfig.parse_rule(name, value, ";", "#") for name, value in RULES.items()],
        nr_of_columns=6,
    )
    compiled = compile_rules(cfg.rules)
    print(f"{'MB':>8} {'fragments':>10} {'scan_s':>9} {'ns/B':>7}")
    ns_per_byte = {}
    for mb in SIZES_MB:
        doc = document(int(mb * 1e6))
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fragments = sum(1 for _ in scan_document(doc, compiled, validate=False))
            best = min(best, time.perf_counter() - t0)
        ns_per_byte[mb] = best * 1e9 / len(doc)
        print(f"{len(doc) / 1e6:8.2f} {fragments:10d} {best:9.4f} {ns_per_byte[mb]:7.1f}")
    ratio = ns_per_byte[SIZES_MB[-1]] / ns_per_byte[SIZES_MB[1]]
    print(f"ns/B at {SIZES_MB[-1]} MB / at {SIZES_MB[1]} MB = {ratio:.2f} (limit 3)")
    return 0 if ratio <= 3 else 1


if __name__ == "__main__":
    sys.exit(main())
