"""Seeded input generators for the connector benchmark.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and returns a ``pyarrow.Table`` with the shape of the matching
test fixture (FIXTURES.md), so the same seed always yields the same
stores, op parameters and keys.  The program under test only ever sees
the generated parquet files.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

EPOCH = dt.datetime(2024, 1, 1)
FLAGS = np.array(["A", "N", "R"])
STATUSES = np.array(["F", "O"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["de", "en", "es", "fr", "zh"])
# The fixture's documents are "word soup" over a small vocabulary.
VOCAB = np.array(
    "the a fast slow big small key value row column table part line order "
    "customer data query filter join merge sort group agg window hash scan "
    "batch stream spark vector dup".split()
)


def _micros(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    us = rng.integers(0, days * 86_400_000_000, n, dtype=np.int64)
    base = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(us + base, pa.timestamp("us"))


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(lo, hi)))])


def _phrases(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """n word-soup strings drawn from a pool, so large tables generate fast."""
    pool = np.array([_words(rng, lo, hi) for _ in range(1024)], dtype=object)
    return pool[rng.integers(0, len(pool), n)].tolist()


def _ids(prefix: str, values: np.ndarray, width: int) -> list[str]:
    return np.char.add(prefix, np.char.zfill(values.astype(str), width)).tolist()


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    """Fact table, hash key l_orderkey + range key l_linenumber."""
    lines = rng.integers(1, 8, n)  # 1..7 lines per order, like TPC-H
    orderkey = np.repeat(np.arange(1, n + 1, dtype=np.int64), lines)[:n]
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = (np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n])) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(1, 15_001, n, dtype=np.int64),
            "l_suppkey": rng.integers(1, 1_001, n, dtype=np.int64),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": FLAGS[rng.integers(0, 3, n)],
            "l_linestatus": STATUSES[rng.integers(0, 2, n)],
            "l_shipdate": _micros(rng, n, 2400),
        }
    )


def part(rng: np.random.Generator, n: int) -> pa.Table:
    """Dimension table, hash key p_partkey."""
    return pa.table(
        {
            "p_partkey": np.arange(1, n + 1, dtype=np.int64),
            "p_name": _phrases(rng, n, 2, 5),
            "p_brand": _ids("Brand#", rng.integers(11, 56, n), 2),
            "p_type": _ids("TYPE", rng.integers(0, 150, n), 3),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900.0, 2100.0, n), 2),
        }
    )


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Event table, hash key event_id; GSI by_user (user_id, ts)."""
    return pa.table(
        {
            "event_id": rng.permutation(np.arange(1, n + 1, dtype=np.int64)),
            "ts": _micros(rng, n, 90),
            "user_id": rng.integers(1, n_users + 1, n, dtype=np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.uniform(0.0, 500.0, n), 3),
            "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}").tolist(),
        }
    )


KV_SCHEMA = pa.schema(
    [("pk", pa.int64()), ("a", pa.int64()), ("b", pa.float64()), ("s", pa.string()), ("t", pa.string())]
)


def kv_item(rng: np.random.Generator, pk: int) -> dict:
    return {
        "pk": int(pk),
        "a": int(rng.integers(0, 1 << 40)),
        "b": float(np.round(rng.uniform(-1e6, 1e6), 4)),
        "s": f"user-{int(rng.integers(0, 1 << 30)):09d}",
        "t": _words(rng, 6, 14),
    }


def kv_table(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "pk": keys.astype(np.int64),
            "a": rng.integers(0, 1 << 40, n, dtype=np.int64),
            "b": np.round(rng.uniform(-1e6, 1e6, n), 4),
            "s": _ids("user-", rng.integers(0, 1 << 30, n), 9),
            "t": _phrases(rng, n, 6, 14),
        },
        schema=KV_SCHEMA,
    )


class Zipf:
    """Ranks 0..n-1 drawn with P(r) ~ 1 / (r + 1) ** s (YCSB-style skew)."""

    def __init__(self, n: int, s: float = 0.99) -> None:
        w = 1.0 / np.arange(1, n + 1) ** s
        self.cdf = np.cumsum(w) / w.sum()

    def draw(self, rng: np.random.Generator, limit: int) -> int:
        """One rank below ``limit`` (rejection keeps the skew's shape)."""
        while True:
            r = int(np.searchsorted(self.cdf, rng.random(), side="right"))
            if r < limit:
                return r


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Landing-zone corpus with the fixture's columns and its duplicate
    structure: benchmark docs (src0), train docs contaminated by a
    benchmark doc, exact copies (case-changed) and near-duplicates (one
    word appended, Jaccard ~0.98 like the fixture's), over fresh word
    soup.  doc_ids are a fresh seeded sample, so duplicate groups and
    pack boundaries move with the seed."""
    ids = np.sort(rng.choice(np.arange(1, 50 * n, dtype=np.int64), n, replace=False))
    texts: list[str] = []
    sources: list[str] = []
    bench: list[str] = []
    for i in range(n):
        src = f"src{int(rng.integers(0, 20))}"
        r = rng.random()
        if src == "src0" or i < 8:
            src = "src0"
            text = _words(rng, 20, 70)
            bench.append(text)
        elif r < 0.05 and bench:
            text = bench[int(rng.integers(0, len(bench)))] + " " + _words(rng, 5, 30)
        elif r < 0.15 and texts:
            text = texts[int(rng.integers(0, len(texts)))].upper()
        elif r < 0.25 and texts:
            text = texts[int(rng.integers(0, len(texts)))] + " " + str(VOCAB[int(rng.integers(0, len(VOCAB)))])
        else:
            text = _words(rng, 20, 75)
        texts.append(text)
        sources.append(src)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n)],
            "source": sources,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
