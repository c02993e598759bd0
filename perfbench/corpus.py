"""Seeded store → inventory → book XML corpus and the output lines it must yield.

Documents have the ``tests/fixtures.make_store_xml`` shape. Books per
document follow a fixed Zipf-like profile over document rank, so every
seed has the same total size and the same few large documents; the seed
decides which file is large, and every attribute value, and which book
fragments are malformed. A malformed book's start tag carries an unescaped
``&`` in an attribute value (the book rule takes the start tag only, so
that is where malformation reaches the fragment): both extraction paths
drop it, the fused one at parse time and the general one in the scanner's
validation.

``expected_lines`` derives the sink's output from the planted data alone
(``tests/fixtures.golden_rows`` model): one line per well-formed book whose
start tag passes the rule's attribute predicate, context columns filled
forward from its store, address and inventory.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

N_DOCS = 200
N_BOOKS = 10_000
ZIPF_S = 0.9
MALFORMED_SHARE = 0.01
BOOKS_PER_INVENTORY = 40
# tests/fixtures.BOOK_CONFIG_XML's predicate "bk106" matches one id in 40
BOOK_IDS = tuple(f"bk{100 + i}" for i in range(40))
MONTHS = (
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
)

@dataclass(frozen=True)
class Document:
    name: str  # file name inside the corpus directory
    # (store, phone, [(month, day, [(book_id, in_stock), ...]), ...]),
    # the tests/fixtures.py store tuple
    store: tuple
    # (inventory index, book index) of every malformed book fragment
    malformed: frozenset = frozenset()


def books_per_document(n_docs: int = N_DOCS, n_books: int = N_BOOKS) -> list[int]:
    """Books per document by rank: n_r ∝ 1/(r+1)^ZIPF_S, at least one each,
    summing to ``n_books`` exactly (largest remainder)."""
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(n_docs)]
    spare = n_books - n_docs
    total = sum(weights)
    shares = [spare * w / total for w in weights]
    counts = [1 + int(s) for s in shares]
    by_remainder = sorted(range(n_docs), key=lambda r: int(shares[r]) - shares[r])
    for r in by_remainder[: n_books - sum(counts)]:
        counts[r] += 1
    return counts


def make_corpus(seed: int, n_docs: int = N_DOCS, n_books: int = N_BOOKS) -> list[Document]:
    rng = random.Random(seed)
    sizes = books_per_document(n_docs, n_books)
    rng.shuffle(sizes)
    docs = []
    for d, size in enumerate(sizes):
        inventories = []
        malformed = set()
        left = size
        while left:
            k = min(left, rng.randint(1, BOOKS_PER_INVENTORY))
            left -= k
            books = []
            for b in range(k):
                books.append((rng.choice(BOOK_IDS), str(rng.randrange(100))))
                if rng.random() < MALFORMED_SHARE:
                    malformed.add((len(inventories), b))
            inventories.append((rng.choice(MONTHS), str(rng.randint(1, 28)), books))
        store = (f"Store{d:04d}", str(rng.randrange(10_000_000, 100_000_000)), inventories)
        docs.append(Document(f"store{d:04d}.xml", store, frozenset(malformed)))
    return docs


def book_start_tag(book_id: str, stock: str, malformed: bool = False) -> str:
    bad = ' publisher="Smith & Sons"' if malformed else ""
    return f'<book id="{book_id}" inStock="{stock}"{bad}>'


def render(store, malformed=frozenset()) -> str:
    """The document text; equal to ``make_store_xml(store)`` when nothing
    is malformed."""
    name, phone, inventories = store
    parts = ['<?xml version="1.0"?>', f'<store name="{name}">']
    parts.append(
        "   <address>\n      <street>Main</street>\n      <nr>42</nr>\n"
        f"      <city>Town</city>\n      <phone>{phone}</phone>\n   </address>"
    )
    for i, (month, day, books) in enumerate(inventories):
        parts.append(f'   <inventory month="{month}" day="{day}">')
        parts.append("      <books>")
        for b, (book_id, stock) in enumerate(books):
            parts.append(
                f"         {book_start_tag(book_id, stock, (i, b) in malformed)}\n"
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


def expected_rows(store, malformed=frozenset(), predicate: str | None = None) -> list[tuple]:
    """Output rows of one document, in document order."""
    name, phone, inventories = store
    rows = []
    for i, (month, day, books) in enumerate(inventories):
        for b, (book_id, stock) in enumerate(books):
            if (i, b) in malformed:
                continue
            if predicate is not None and predicate not in book_start_tag(book_id, stock):
                continue
            rows.append((name, phone, month, day, book_id, stock))
    return rows


def expected_lines(docs: list[Document], predicate: str | None = None) -> dict[str, list[str]]:
    """Store name → its reference-format lines (trailing ``;``) in order."""
    return {
        d.store[0]: [";".join(r) + ";" for r in expected_rows(d.store, d.malformed, predicate)]
        for d in docs
    }


def write_corpus(docs: list[Document], directory: str) -> int:
    """Write one file per document; returns the bytes written."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for d in docs:
        data = render(d.store, d.malformed).encode()
        with open(os.path.join(directory, d.name), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def check_output(output_dir: str, expected: dict[str, list[str]]) -> str | None:
    """Compare a ``write_reference_format`` directory with the expected
    lines: each store's lines must be present, complete and in document
    order (a document never spans two part files). Returns a description
    of the first difference, or None."""
    got: dict[str, list[str]] = {}
    for fname in sorted(os.listdir(output_dir)):
        if not fname.startswith("part-"):
            continue
        with open(os.path.join(output_dir, fname), encoding="utf-8") as f:
            for line in f.read().splitlines():
                got.setdefault(line.split(";", 1)[0], []).append(line)
    want = {k: v for k, v in expected.items() if v}
    if got.keys() != want.keys():
        missing = sorted(want.keys() - got.keys())[:3]
        extra = sorted(got.keys() - want.keys())[:3]
        return f"stores differ: missing {missing}, unexpected {extra}"
    for store, lines in want.items():
        if got[store] != lines:
            i = next((i for i, (g, w) in enumerate(zip(got[store], lines)) if g != w), None)
            if i is None:
                return f"{store}: {len(got[store])} lines, expected {len(lines)}"
            return f"{store} line {i}: {got[store][i]!r}, expected {lines[i]!r}"
    return None
