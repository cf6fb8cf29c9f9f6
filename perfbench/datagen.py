"""Seeded input generation for every workload.

Everything a workload feeds the program is drawn here from one
``numpy.random.Generator`` seeded by ``--seed``: the same seed gives
byte-identical inputs. The program under test only ever receives the
generated rows, vectors, filters and batches.

The table generators mimic the repository's synthetic test tables
(``documents``: 30-word vocabulary, here with Zipf word frequencies,
10..100 words, 5% near-duplicates
that copy another document and append ``dup``; ``embeddings``: 64-d unit
vectors with a 10-way label; ``orders``: TPC-H-like columns), so the
registry queries and their DuckDB oracles run unchanged on them.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
# Zipf word frequencies in VOCAB order: the corpus statistics (and so the
# merges BPE learns from them) are the same for every seed
WORD_P = 1.0 / np.arange(1, len(VOCAB) + 1)
WORD_P /= WORD_P.sum()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
ORDER_STATUS = np.array(["F", "O", "P"])
ORDER_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)


@dataclass(frozen=True)
class TableSizes:
    documents: int
    embeddings: int
    orders: int


def make_texts(rng: np.random.Generator, n: int, dup_frac: float = 0.05) -> list[str]:
    """``n`` documents of 10..100 words drawn with ``WORD_P``; ``dup_frac``
    of them are replaced by another document's text plus a trailing
    ``dup``."""
    lens = rng.integers(10, 101, n)
    words = rng.choice(len(VOCAB), int(lens.sum()), p=WORD_P)
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + k]))
        at += k
    n_dup = int(n * dup_frac)
    for i in rng.choice(n, n_dup, replace=False):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup"
    return texts


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts = make_texts(rng, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def unit_vectors(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = unit_vectors(rng, n, dim)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def orders_table(rng: np.random.Generator, n: int) -> pa.Table:
    start = dt.datetime(1995, 1, 1)
    days = rng.integers(0, (dt.datetime(2001, 8, 1) - start).days + 1, n)
    dates = np.datetime64(start, "us") + days.astype("timedelta64[D]")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(n // 10, 1), n).astype(np.int64)),
            "o_orderstatus": pa.array(ORDER_STATUS[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
            "o_orderdate": pa.array(dates.astype("datetime64[us]")),
            "o_orderpriority": pa.array(ORDER_PRIORITY[rng.integers(0, 5, n)]),
        }
    )


def write_tables(seed: int, out_dir: str, sizes: TableSizes) -> dict[str, int]:
    """Write ``documents``/``embeddings``/``orders`` parquet files under
    ``out_dir``; returns the user bytes of each table (``user_bytes``)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": documents_table(rng, sizes.documents),
        "embeddings": embeddings_table(rng, sizes.embeddings),
        "orders": orders_table(rng, sizes.orders),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: user_bytes(table.to_pylist()) for name, table in tables.items()}


# -- vector-database workloads ------------------------------------------------


@dataclass
class Collection:
    """A generated collection: ids, vectors and scalar fields, row-aligned."""

    ids: list[str]
    vectors: np.ndarray  # (n, dim) float64, unit norm
    label: np.ndarray  # int64 in [0, 10)
    lang: np.ndarray  # str
    text: list[str]

    def doc(self, i: int) -> dict:
        return {
            "id": self.ids[i],
            "vector": self.vectors[i].tolist(),
            "label": int(self.label[i]),
            "lang": str(self.lang[i]),
            "text": self.text[i],
        }


def clustered_vectors(rng: np.random.Generator, n: int, dim: int,
                      n_clusters: int = 32, noise: float = 0.6) -> np.ndarray:
    """Unit vectors around ``n_clusters`` random centres, so an IVF index
    has cells to find."""
    centres = unit_vectors(rng, n_clusters, dim).astype(np.float64)
    v = centres[rng.integers(0, n_clusters, n)]
    v = v + noise * rng.standard_normal((n, dim)) / np.sqrt(dim)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def make_collection(rng: np.random.Generator, n: int, dim: int,
                    id_prefix: str = "d") -> Collection:
    return Collection(
        ids=[f"{id_prefix}{i:06d}" for i in range(n)],
        vectors=clustered_vectors(rng, n, dim),
        label=rng.integers(0, 10, n).astype(np.int64),
        lang=LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        text=make_texts(rng, n),
    )


def doc_user_bytes(doc: dict) -> int:
    """Bytes of user data in one document or row: 8 per number or other
    scalar, 8 per list element, UTF-8 length per string. Every workload's
    ``space_amp`` divides by this rule."""
    total = 0
    for v in doc.values():
        if isinstance(v, str):
            total += len(v.encode())
        elif isinstance(v, list):
            total += 8 * len(v)
        else:
            total += 8
    return total


def user_bytes(rows) -> int:
    return sum(doc_user_bytes(r) for r in rows)


def zipf_pool(rng: np.random.Generator, n_items: int, n_draws: int, s: float = 1.1) -> np.ndarray:
    """``n_draws`` indices into ``range(n_items)`` with Zipf(s) popularity
    over a seeded permutation, so a few items repeat often."""
    ranks = np.arange(1, n_items + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    perm = rng.permutation(n_items)
    return perm[rng.choice(n_items, n_draws, p=p)]


def query_text(rng: np.random.Generator, n_words: int = 3) -> str:
    return " ".join(VOCAB[i] for i in rng.choice(len(VOCAB), n_words, replace=False))
