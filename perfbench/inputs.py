"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, size): the same seed writes the
same rows. The program under test only ever sees the written parquet.

* ``write_cc_corpus``      — the CC-style ``documents(url, warc_ts, html,
  text, lang)`` corpus rows from ``sources.corpus`` (default payload mix).
* ``write_long_documents`` — ``documents(doc_id, text, lang)`` built from
  the corpus's ``text`` column (long docs, median ~300 words), with a
  seed-independent length distribution.
* ``write_catalog_tables`` — ``documents(doc_id, text, lang, source,
  n_chars)`` and ``embeddings(vec_id, embedding, label)`` shaped like the
  synthetic ``sf*`` testdata tier (30-word vocabulary, 10–100 words per doc, 5%
  " dup" near-copies; 64-d unit vectors around 10 weak label centres), with
  ids re-keyed by a seeded permutation.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from smoldocling_ocr_spark.sources.corpus import generate_rows

ROWS_PER_FILE = 250  # several input splits, so the scan runs at full width
LONG_POOL = 8

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_DUP_FRAC = 0.05
_DIM = 64
_LABELS = 10


def path_kind(url: str) -> str:
    """The payload kind the generator encoded in the url path."""
    return url.split("/")[3]


def _write_split(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for i in range(0, max(table.num_rows, 1), ROWS_PER_FILE):
        part = table.slice(i, ROWS_PER_FILE)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i // ROWS_PER_FILE:05d}.parquet"))


def write_cc_corpus(path: str, rows: list[dict]) -> None:
    table = pa.table(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": pa.array([r["warc_ts"] for r in rows], type=pa.timestamp("us")),
            "html": pa.array([r["html"] for r in rows], type=pa.binary()),
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        }
    )
    _write_split(table, path)


def write_long_documents(path: str, n_docs: int, seed: int) -> None:
    """``n_docs`` corpus texts taken at evenly spaced word-count ranks of a
    seeded pool four times larger: the texts vary with the seed, the length
    distribution (which sets the cost of n-gram work) does not."""
    pool = sorted(generate_rows(LONG_POOL * n_docs, seed), key=lambda r: (len(r["text"].split()), r["url"]))
    rows = [pool[(2 * i + 1) * len(pool) // (2 * n_docs)] for i in range(n_docs)]
    ids = list(range(n_docs))
    random.Random(seed).shuffle(ids)
    table = pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        }
    )
    _write_split(table, path)


def write_catalog_tables(sf_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """``{sf_dir}/documents.parquet`` and ``{sf_dir}/embeddings.parquet`` as
    single-file tables, the layout the catalog queries read."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < _DUP_FRAC:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100))))
    langs = rng.choices(_LANGS, weights=_LANG_WEIGHTS, k=n_docs)
    doc_ids = list(range(n_docs))
    rng.shuffle(doc_ids)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(doc_ids, type=pa.int64()),
                "text": texts,
                "lang": langs,
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )

    np_rng = np.random.default_rng(seed)
    centres = np_rng.normal(0.0, 0.07, size=(_LABELS, _DIM))
    labels = np_rng.integers(0, _LABELS, size=n_vecs)
    vecs = np_rng.normal(0.0, 1.0, size=(n_vecs, _DIM)) + centres[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vec_ids = np_rng.permutation(n_vecs)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(vec_ids, type=pa.int64()),
                "embedding": pa.array(
                    [v.astype(np.float32) for v in vecs], type=pa.list_(pa.float32())
                ),
                "label": pa.array(labels, type=pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
