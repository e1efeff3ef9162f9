"""Seeded benchmark inputs, written as parquet with pyarrow (no Spark).

Every table is a pure function of the workload seed, so the same seed gives
byte-identical files and two seeds give tables of equal size and shape that
differ in content:

- ``pages``: a window of the fixture page ids. Pages are a pure function of
  their id (``otlp_wire_spark.fixtures``), so the seed picks where the window
  starts; every window has the same row count and id width.
- ``documents``: a fixed base corpus shaped like the sf0.1 ``documents``
  table (30-word vocabulary, 10-100 words, ~5% near-duplicates carrying a
  ``dup`` marker, a few exact copies). The seed permutes ``doc_id`` (ids stay
  dense) or picks an equal-size window of it.
- ``embeddings``: a fixed base of random 64-d unit vectors with a label; the
  seed picks an equal-size subset.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from otlp_wire_spark.fixtures import oracle

PAGE_FILES = 8
PAGE_ID_BASE = 1_000_000_000  # 10-digit ids: every window has equal byte width
BASE_DOCS = 5000
BASE_VECTORS = 2000
EMBED_DIM = 64
_CONTENT_SEED = 20261017  # the base corpora never change with the run seed

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{stream}:{seed}")


def page_window(seed: int, n: int) -> range:
    """The seed's page-id window: ``n`` consecutive 10-digit ids."""
    slot = _rng(seed, "pages").randrange(8_000_000 // max(1, n // 1000 + 1))
    start = PAGE_ID_BASE + slot * (n // 1000 + 1) * 1000
    return range(start, start + n)


def write_pages(path: str, ids: range) -> list[bytes]:
    """Write the ``pages`` table for ``ids`` (the ``generate_pages`` schema)
    in ``PAGE_FILES`` files; returns the html payloads for the reference."""
    os.makedirs(path, exist_ok=True)
    htmls = [oracle.html(i) for i in ids]
    schema = pa.schema([
        ("page_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    base = datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp()
    per_file = -(-len(ids) // PAGE_FILES)
    for f in range(PAGE_FILES):
        sub = ids[f * per_file:(f + 1) * per_file]
        off = f * per_file
        table = pa.table(
            [
                pa.array(list(sub), pa.int64()),
                pa.array([oracle.url(i) for i in sub]),
                pa.array([int((base + i) * 1_000_000) for i in sub],
                         pa.timestamp("us", tz="UTC")),
                pa.array(htmls[off:off + len(sub)], pa.binary()),
                pa.array([oracle.text(i) for i in sub]),
                pa.array([oracle.lang(i) for i in sub]),
            ],
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))
    return htmls


def base_documents() -> list[tuple[str, str, str]]:
    """(text, lang, source) of the fixed base corpus, index = base doc id."""
    rng = _rng(_CONTENT_SEED, "documents")
    docs: list[tuple[str, str, str]] = []
    for i in range(BASE_DOCS):
        lang = rng.choices(LANGS, LANG_WEIGHTS)[0]
        r = rng.random()
        if i > 10 and r < 0.002:  # exact copy of a recent doc
            text = docs[rng.randrange(max(0, i - 50), i)][0]
        elif i > 10 and r < 0.05:  # near-duplicate of a recent doc, edited
            words = docs[rng.randrange(max(0, i - 50), i)][0].split()
            if words[-1] == "dup":
                words.pop()
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words + ["dup"])
        else:
            text = " ".join(rng.choices(VOCAB, k=rng.randint(10, 100)))
        docs.append((text, lang, f"src{i % 20}"))
    return docs


def write_documents(path: str, base_ids: list[int], doc_ids: list[int]) -> None:
    """``documents(doc_id, text, lang, source, n_chars)``: base doc
    ``base_ids[k]`` stored under ``doc_ids[k]``, rows sorted by doc_id."""
    base = base_documents()
    rows = sorted(zip(doc_ids, base_ids))
    texts = [base[b][0] for _, b in rows]
    table = pa.table({
        "doc_id": pa.array([d for d, _ in rows], pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([base[b][1] for _, b in rows]),
        "source": pa.array([base[b][2] for _, b in rows]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)


def permuted_documents(path: str, seed: int, n: int) -> None:
    """The first ``n`` base docs with dense doc_ids 0..n-1 permuted by seed."""
    ids = list(range(n))
    _rng(seed, "doc_ids").shuffle(ids)
    write_documents(path, list(range(n)), ids)


def document_window(path: str, seed: int, n: int) -> None:
    """``n`` consecutive base docs from a seed-chosen start, keeping their
    base ids (near-duplicates sit within 50 docs of their original, so
    every window holds a similar share of them)."""
    start = _rng(seed, "doc_window").randrange(BASE_DOCS - n + 1)
    ids = list(range(start, start + n))
    write_documents(path, ids, ids)


def sampled_embeddings(path: str, seed: int, n: int) -> None:
    """``embeddings(vec_id, embedding float[], label)``: a seed-chosen
    subset of ``n`` fixed base vectors, keeping their base ids."""
    gen = np.random.default_rng(_CONTENT_SEED)
    vecs = gen.standard_normal((BASE_VECTORS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = gen.integers(0, 10, BASE_VECTORS)
    ids = sorted(_rng(seed, "vec_subset").sample(range(BASE_VECTORS), n))
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([vecs[i].tolist() for i in ids],
                              pa.list_(pa.float32())),
        "label": pa.array([int(labels[i]) for i in ids], pa.int32()),
    })
    pq.write_table(table, path)
