"""Correctness check of one extraction job's text output.

The reference guarantees per-document line order within one reducer's
output file and no order across files, so the check is: the output
lines (trailing delimiter included) equal the expected lines as a
multiset, and each document's lines sit in one file, in document
(``seq``) order. A line's first field is its store name, which the
generator makes unique per document.
"""

from __future__ import annotations

import os
from collections import Counter


def read_part_files(out_dir: str) -> list[list[str]]:
    """Lines of each ``part-*`` file under ``out_dir`` (none if the job
    left no output dir)."""
    parts = []
    if not os.path.isdir(out_dir):
        return parts
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name), encoding="utf-8") as f:
                parts.append(f.read().splitlines())
    return parts


def check_lines(parts: list[list[str]], expected: dict[str, tuple[str, ...]]) -> list[str]:
    """Problems found in ``parts`` against ``expected`` (store name →
    that document's lines in order); an empty list means correct."""
    want = Counter(line for lines in expected.values() for line in lines)
    got = Counter(line for lines in parts for line in lines)
    problems = []
    missing, extra = want - got, got - want
    if missing:
        problems.append(f"{sum(missing.values())} expected lines missing, e.g. {next(iter(missing))!r}")
    if extra:
        problems.append(f"{sum(extra.values())} unexpected lines, e.g. {next(iter(extra))!r}")
    seen_in: dict[str, int] = {}
    for i, lines in enumerate(parts):
        per_doc: dict[str, list[str]] = {}
        for line in lines:
            per_doc.setdefault(line.split(";", 1)[0], []).append(line)
        for store, doc_lines in per_doc.items():
            if seen_in.setdefault(store, i) != i:
                problems.append(f"document {store} is split across output files")
            elif store in expected and tuple(doc_lines) != expected[store]:
                problems.append(f"document {store} lines differ from its expected sequence")
    return problems
