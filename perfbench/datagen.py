"""Seeded input generators. The same seed always gives the same inputs.

Everything here is plain numpy + pyarrow: the product never sees how
the inputs were made, only the parquet files and SQL text that come
out. Sizes follow TPC-H at scale factor ``sf`` (sf=0.1 gives 150k
orders and ~600k line items, the scale ``bench.py`` measures at).
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
_EPOCH = datetime.datetime(1992, 1, 1)
ROW_GROUP_ROWS = 32_768
EXACT_SHARE = 0.25   # of each micro-batch: copies of indexed documents

# English stop words keep quality scores spread out; the rest are
# synthetic words so that independent documents share few 3-grams.
_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
_SYLLABLES = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da",
              "zu", "fe", "gi", "ho", "ju", "be"]


def vocabulary() -> list[str]:
    words = [a + b + c for a in _SYLLABLES[:8] for b in _SYLLABLES
             for c in _SYLLABLES[8:12]]
    return _STOP + words


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    base = np.datetime64(_EPOCH, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """customer, orders and lineitem with the repository's column names.
    lineitem is ordered by l_orderkey, as TPC-H's dbgen writes it."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    cust = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(850.0, 500_000.0, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, 2400),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, max(10, int(200_000 * sf)), n_li),
        "l_suppkey": rng.integers(0, max(10, int(10_000 * sf)), n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li),
                                    2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _dates(rng, n_li, 2500),
    })
    return {"customer": cust, "orders": orders, "lineitem": lineitem}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, the layout REGISTER
    PARQUET DATASOURCE maps to one table per file."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=ROW_GROUP_ROWS)


def _text(rng: np.random.Generator, vocab: np.ndarray,
          lo: int = 12, hi: int = 60) -> str:
    return " ".join(vocab[rng.integers(0, len(vocab), rng.integers(lo, hi))])


def _near_copy(rng: np.random.Generator, vocab: np.ndarray,
               text: str) -> str:
    """Replace one word in twenty: word 3-gram Jaccard stays well above
    the 0.5 near-duplicate threshold."""
    words = text.split(" ")
    for i in rng.choice(len(words), max(1, len(words) // 20), replace=False):
        words[i] = vocab[rng.integers(0, len(vocab))]
    return " ".join(words)


def documents(seed: int, n: int, dup_share: float = 0.1,
              first_id: int = 0) -> pa.Table:
    """A corpus of ``n`` documents: a ``dup_share`` of them are exact
    copies of an earlier document and another ``dup_share`` are near
    copies (one word in twenty replaced)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(vocabulary())
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if texts and r < dup_share:
            texts.append(texts[rng.integers(0, len(texts))])
        elif texts and r < 2 * dup_share:
            texts.append(_near_copy(rng, vocab,
                                    texts[rng.integers(0, len(texts))]))
        else:
            texts.append(_text(rng, vocab))
    return _doc_table(rng, texts, first_id)


def _doc_table(rng: np.random.Generator, texts: list[str],
               first_id: int) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def ingest_batches(seed: int, corpus_texts: list[str], n_batches: int,
                   batch_size: int, first_id: int
                   ) -> list[tuple[pa.Table, set, set]]:
    """Micro-batches for the stream: each doc is either an exact copy
    of a corpus document (must be rejected), with probability
    ``EXACT_SHARE``, or a fresh random text (must be admitted). Returns
    ``(table, exact_dup_ids, novel_ids)`` per batch."""
    rng = np.random.default_rng(seed + 7919)
    vocab = np.array(vocabulary())
    out = []
    next_id = first_id
    for _ in range(n_batches):
        texts, dups, novel = [], set(), set()
        for j in range(batch_size):
            if rng.random() < EXACT_SHARE:
                texts.append(corpus_texts[rng.integers(0, len(corpus_texts))])
                dups.add(next_id + j)
            else:
                texts.append(_text(rng, vocab))
                novel.add(next_id + j)
        out.append((_doc_table(rng, texts, next_id), dups, novel))
        next_id += batch_size
    return out
