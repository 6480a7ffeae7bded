"""Seeded input generators for the benchmark workloads.

The program under test receives only what these functions produce:

* ``pdf_corpus`` draws a raw_docs corpus from the public fixture functions
  (``fixtures.FIXTURES`` and ``fixtures.fx_large``) and pairs every doc
  with the fixture's own expected text, the engine-independent golden.
* ``write_raw_docs`` stores a corpus as a raw_docs parquet table.

The same seed always gives the same bytes.  Draws are stratified and doc
ids do not depend on the seed, so a new seed changes the inputs but not
how much work a pass holds or how Spark spreads it.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field

MIB = 1024 * 1024
LARGE_SHARE = 0.05  # share of fx_large docs in a corpus
LARGE_PAGES = (10, 80)  # page counts of the fx_large docs
GIANT_PAGES = (2300, 2400)  # page counts of the docs of 1 MiB or more
N_FILES = 4  # parquet files per raw_docs table


@dataclass
class Doc:
    doc_id: str
    family: str
    content: bytes
    expected_text: str
    expected_spans: int
    size_class: str  # small | large | giant
    pages: int


@dataclass
class Corpus:
    docs: list[Doc]
    composition: dict = field(default_factory=dict)

    def expected_checksum(self) -> int:
        return sum(text_digest(d.expected_text) for d in self.docs)


def text_digest(text: str) -> int:
    """48-bit md5 prefix of a doc's text; a sum over 2**15 docs fits in a
    signed 64-bit integer, so Spark can compute the same aggregate."""
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:12], 16)


def _expected_spans(family: str, expected: str) -> int:
    from pdf_extract_spark.fixtures import EXPECTED_MEDIA

    return len(expected.split("\n")) + len(EXPECTED_MEDIA.get(family, []))


def pdf_corpus(seed: int, n_docs: int, n_giant: int = 0) -> Corpus:
    """Draw ``n_docs`` docs: ``n_giant`` docs of at least 1 MiB, a
    ``LARGE_SHARE`` of ``fx_large`` docs with page counts in
    ``LARGE_PAGES``, and the rest spread evenly over all fixture
    families.  Page counts are stratified draws, so the total page count
    barely moves between seeds."""
    from pdf_extract_spark.fixtures import EXPECTED_PAGES, FIXTURES, fx_large

    rng = random.Random(seed)
    n_large = round(n_docs * LARGE_SHARE)
    n_small = n_docs - n_large - n_giant
    families = sorted(FIXTURES)
    per_family = {f: n_small // len(families) for f in families}
    for f in rng.sample(families, n_small % len(families)):
        per_family[f] += 1

    built: dict[str, tuple[bytes, str]] = {}
    for f in families:
        pdf, expected = FIXTURES[f]()
        if isinstance(expected, tuple):
            expected = expected[0]
        built[f] = (pdf, expected)

    lo, hi = LARGE_PAGES
    span = hi - lo + 1
    pages_large = [lo + int((i + rng.random()) * span / n_large) for i in range(n_large)]
    glo, ghi = GIANT_PAGES
    pages_giant = [rng.randint(glo, ghi) for _ in range(n_giant)]

    # (doc_id, family, size_class, pages).  A doc's id names its family
    # and its ordinal there, never the seed, so Spark's hash placement of
    # the heavy docs is the same for every seed and the pass cost does not
    # depend on it; the seed moves page counts, the spare small docs and
    # the row order.
    specs: list[tuple[str, str, str, int]] = []
    for f, n in per_family.items():
        specs += [(f"{f}-{j:05d}", f, "small", 0) for j in range(n)]
    specs += [(f"large-{k:05d}", "large", "large", p) for k, p in enumerate(pages_large)]
    specs += [(f"giant-{k:02d}", "large", "giant", p) for k, p in enumerate(pages_giant)]
    rng.shuffle(specs)

    large_cache: dict[int, tuple[bytes, str]] = {}
    docs = []
    for doc_id, family, size_class, pages in specs:
        if size_class == "small":
            pdf, expected = built[family]
        else:
            if pages not in large_cache:
                large_cache[pages] = fx_large(pages=pages)
            pdf, expected = large_cache[pages]
            if size_class == "giant" and len(pdf) < MIB:
                raise ValueError(f"giant doc of {pages} pages is only {len(pdf)} bytes")
        docs.append(
            Doc(
                doc_id=doc_id,
                family=family,
                content=pdf,
                expected_text=expected,
                expected_spans=_expected_spans(family, expected),
                size_class=size_class,
                pages=pages or EXPECTED_PAGES.get(family, 1),
            )
        )
    return Corpus(docs, _composition(docs))


def _composition(docs: list[Doc]) -> dict:
    per_family: dict[str, int] = {}
    for d in docs:
        per_family[d.family] = per_family.get(d.family, 0) + 1
    n = len(docs)
    return {
        "docs": n,
        "bytes": sum(len(d.content) for d in docs),
        "docs_per_family": dict(sorted(per_family.items())),
        "large_share": sum(d.size_class == "large" for d in docs) / n,
        "ge_1mib_share": sum(len(d.content) >= MIB for d in docs) / n,
        "pages": sum(d.pages for d in docs),
    }


def write_raw_docs(corpus: Corpus, path: str) -> None:
    """raw_docs(doc_id, content, byte_len, source) as ``N_FILES`` parquet
    files under ``path`` (replaced if present)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    schema = pa.schema(
        [
            pa.field("doc_id", pa.string(), nullable=False),
            ("content", pa.binary()),
            ("byte_len", pa.int64()),
            ("source", pa.string()),
        ]
    )
    docs = corpus.docs
    for k in range(N_FILES):
        part = docs[k::N_FILES]
        table = pa.table(
            {
                "doc_id": [d.doc_id for d in part],
                "content": [d.content for d in part],
                "byte_len": [len(d.content) for d in part],
                "source": [d.family for d in part],
            },
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))

