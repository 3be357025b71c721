"""Seeded corpus and config generator for the extraction benchmark.

Owned by the benchmark (not ``tests/fixtures.py``) so that test edits
cannot move the benchmark's inputs. The document grammar is the
reference corpus shape: store(@name) → address(…, phone) →
inventory(@month, @day)+ → books → book(@id, @inStock)+ with child
elements. Every store name is unique within a corpus, so an output
line's first field names the document it came from.

The seed varies names, phones, months, days, book ids, stock values and
books per inventory; byte counts stay within a few percent across seeds
because every varied field has a fixed width or a narrow length range.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

MONTHS = ("January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December")
WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima", "mike", "november")


@dataclass(frozen=True)
class Workload:
    name: str
    docs: int
    inventories: int  # per document
    books: int  # mean books per inventory; the seed jitters it by ±books_jitter
    books_jitter: int
    filtered: bool  # attribute predicate on one book id (ExtractBook shape)
    general: bool  # one XPath outside the fused subset (general JVM-xpath path)


# Sizes are set so one job takes about two seconds at local[4] on a
# 4-vCPU VM: enough work that Spark's fixed cost per job (about one
# second there) does not hide the layer a workload is chosen for, and
# short enough that a measured run holds several jobs. There are two
# workloads because every run pays a JVM start and a first job (about
# 25 s there) and the run count grows with the workload count; the
# general XPath path therefore rides on the large-document workload,
# which carries few fragments, so the fused-path workload keeps a
# counterpart that bypasses the fused path.
WORKLOADS = {
    w.name: w
    for w in (
        # Per-file source cost, fused parse and projection, assembly and
        # sink carry the most rows here.
        Workload("many_small_docs", docs=80, inventories=3, books=40, books_jitter=4,
                 filtered=False, general=False),
        # The scanner (with its rescan of the rest of the document after
        # each fragment) dominates; the predicate keeps 1 book id in 400.
        Workload("few_large_docs_filtered_general", docs=4, inventories=3, books=400,
                 books_jitter=10, filtered=True, general=True),
    )
}

_RULES = {
    # rule name -> element;has_attribute;include_children;attribute_value;order#xpath;...
    "store": "store;true;false; ;0#//store/@name;",
    "address": "address;false;true; ;1#//address/phone/text();",
    "inventory": "inventory;true;false; ;2#//inventory/@month;3#//inventory/@day;",
    "book": "book;true;false; ;4#//book/@id;5#//book/@inStock;",
}


def config_xml(target_id: str | None = None, general: bool = False) -> str:
    """The reference-grammar config: ExtractInventory by default.

    ``target_id`` sets the book rule's attribute predicate (the
    ExtractBook shape). ``general`` writes the phone XPath with an
    explicit ``child::`` axis, which ``compile_subset`` rejects, so the
    whole job takes the general JVM-xpath path while selecting the same
    nodes.
    """
    rules = dict(_RULES)
    if target_id is not None:
        rules["book"] = rules["book"].replace("; ;4#", f";{target_id};4#")
    if general:
        rules["address"] = "address;false;true; ;1#//address/child::phone/text();"
    props = [
        ("xmlextractor.delimiter_string", ";"),
        ("xmlextractor.sort_order_delimiter_string", "#"),
        ("xmlextractor.output_delimiter_string", ";"),
        ("xmlextractor.nodes", "store;address;inventory;book;"),
        ("xmlextractor.nr_of_columns", "6"),
        *rules.items(),
    ]
    body = "\n".join(
        f"  <property><name>{k}</name><value>{v}</value></property>" for k, v in props
    )
    return f'<?xml version="1.0"?>\n<configuration>\n{body}\n</configuration>\n'


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _book_xml(rng: random.Random, book_id: str, stock: str) -> str:
    return (
        f'         <book id="{book_id}" inStock="{stock}">\n'
        f"            <author>{_words(rng, 2).title()}</author>\n"
        f"            <title>{_words(rng, 3).title()}</title>\n"
        f"            <price>{rng.randint(100, 9999) / 100:.2f}</price>\n"
        f"            <publish_date>20{rng.randint(0, 25):02d}-"
        f"{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}</publish_date>\n"
        f"            <description>{_words(rng, 3)}</description>\n"
        f"         </book>"
    )


@dataclass(frozen=True)
class Document:
    file_name: str
    store: str
    xml: str
    lines: tuple[str, ...]  # expected output lines, in document order
    fragments: int  # fragments the scanner yields (after the predicate)


def _document(rng: random.Random, w: Workload, doc_idx: int, store: str,
              id_pool: list[str], target_id: str | None) -> Document:
    phone = f"{rng.randint(10_000_000, 99_999_999)}"
    parts = ['<?xml version="1.0"?>', f'<store name="{store}">',
             "   <address>\n      <street>Main</street>\n      <nr>42</nr>\n"
             f"      <city>Town</city>\n      <phone>{phone}</phone>\n   </address>"]
    lines: list[str] = []
    fragments = 2 + w.inventories  # store, address, each inventory
    for _ in range(w.inventories):
        month, day = rng.choice(MONTHS), str(rng.randint(1, 28))
        parts.append(f'   <inventory month="{month}" day="{day}">')
        parts.append("      <books>")
        n_books = w.books + rng.randint(-w.books_jitter, w.books_jitter)
        ids = rng.sample(id_pool, n_books)
        if target_id is not None and target_id not in ids:
            ids[rng.randrange(n_books)] = target_id
        for book_id in ids:
            stock = str(rng.randint(0, 99))
            parts.append(_book_xml(rng, book_id, stock))
            if target_id is None or book_id == target_id:
                lines.append(f"{store};{phone};{month};{day};{book_id};{stock};")
                fragments += 1
        parts.append("      </books>")
        parts.append("   </inventory>")
    parts.append("</store>")
    return Document(f"doc{doc_idx:05d}.xml", store, "\n".join(parts), tuple(lines), fragments)


@dataclass(frozen=True)
class Corpus:
    workload: Workload
    seed: int
    config_xml: str
    documents: tuple[Document, ...]

    @property
    def input_bytes(self) -> int:
        return sum(len(d.xml.encode("utf-8")) for d in self.documents)

    @property
    def expected_lines(self) -> int:
        return sum(len(d.lines) for d in self.documents)

    @property
    def expected_fragments(self) -> int:
        return sum(d.fragments for d in self.documents)

    def expected(self) -> dict[str, tuple[str, ...]]:
        """Store name → that document's expected output lines, in order."""
        return {d.store: d.lines for d in self.documents}

    def summary(self) -> dict:
        return {
            "workload": self.workload.name,
            "seed": self.seed,
            "docs": len(self.documents),
            "input_bytes": self.input_bytes,
            "expected_fragments": self.expected_fragments,
            "expected_rows": self.expected_lines,
        }


def generate(workload: str, seed: int) -> Corpus:
    """Build the corpus for ``workload`` from ``seed`` (pure, in memory)."""
    w = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    # Four-digit ids, so a predicate on one id cannot match a longer one.
    id_pool = [f"bk{n:04d}" for n in rng.sample(range(10_000), 2 * (w.books + w.books_jitter))]
    target_id = rng.choice(id_pool) if w.filtered else None
    prefix = "".join(rng.choice("ABCDEFGHJKLMNPQRSTUVWXYZ") for _ in range(4))
    docs = tuple(
        _document(rng, w, i, f"{prefix}Books{i:05d}", id_pool, target_id)
        for i in range(w.docs)
    )
    return Corpus(w, seed, config_xml(target_id, w.general), docs)


def write(corpus: Corpus, root: str) -> tuple[str, str]:
    """Write the documents under ``root/in`` and the config to
    ``root/config.xml``; return (input dir, config path)."""
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir, exist_ok=True)
    for d in corpus.documents:
        with open(os.path.join(in_dir, d.file_name), "w", encoding="utf-8") as f:
            f.write(d.xml)
    config_path = os.path.join(root, "config.xml")
    with open(config_path, "w", encoding="utf-8") as f:
        f.write(corpus.config_xml)
    return in_dir, config_path
