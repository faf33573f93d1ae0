"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed`` and a size: the same seed
writes byte-identical Parquet tables and the same ETL payloads.  Tables
use the fixture schemas (FIXTURES.md): the TPC-H-style star schema, the
``events`` stream table, ``documents`` and ``embeddings``.  The program
under test only ever sees the files written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Ten fixture tables, the set ``tests/oracle.duckdb_connection`` registers.
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_US_PER_DAY = 86_400 * 1_000_000
_ORDER_START = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
_EVENT_START = np.datetime64("2024-01-01", "us")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_P_TYPES = ("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
_SYLLABLES = (
    "ka", "ro", "mi", "te", "su", "na", "lo", "pe", "di", "fu",
    "ga", "ve", "zo", "ri", "ba", "ne", "to", "chi", "mu", "sa",
)


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated table set."""

    lineitem: int = 0
    events: int = 0
    documents: int = 0
    embeddings: int = 0

    @property
    def orders(self) -> int:
        return max(self.lineitem // 4, 1)

    @property
    def customer(self) -> int:
        return max(self.lineitem // 40, 1)

    @property
    def part(self) -> int:
        return max(self.lineitem // 30, 1)

    @property
    def supplier(self) -> int:
        return max(self.lineitem // 600, 1)

    @property
    def users(self) -> int:
        return max(self.events // 66, 1)


def _ts_us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _star_schema(rng: np.random.Generator, s: Sizes, out_dir: str) -> None:
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = s.customer
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.asarray(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = s.supplier
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = s.part
    _write(out_dir, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"part {i % 997}" for i in range(npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(10, 56, npart)],
        "p_type": np.asarray(_P_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 2000) * 0.1, 2),
    })
    no = s.orders
    order_day = rng.integers(0, _ORDER_DAYS, no)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.asarray(("F", "O", "P"))[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 450000.0, no),
        "o_orderdate": _ts_us(_ORDER_START + order_day * _US_PER_DAY),
        "o_orderpriority": np.asarray(_PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = s.lineitem
    l_order = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.asarray(("A", "N", "R"))[rng.integers(0, 3, nl)],
        "l_linestatus": np.asarray(("F", "O"))[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_us(
            _ORDER_START + (order_day[l_order] + rng.integers(1, 122, nl)) * _US_PER_DAY
        ),
    })


def _events(rng: np.random.Generator, s: Sizes, out_dir: str) -> None:
    n = s.events
    span_us = 30 * _US_PER_DAY
    offs = np.sort(rng.integers(0, span_us, n))
    _write(out_dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts_us(_EVENT_START + offs),
        "user_id": rng.integers(0, s.users, n).astype(np.int64),
        "event_type": np.asarray(_EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 200.0, n),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n).tolist()],
    })


def _vocabulary() -> list[str]:
    """400 two- and three-syllable words, the same for every seed."""
    two = [a + b for a in _SYLLABLES for b in _SYLLABLES]
    return two[::2] + [w + _SYLLABLES[i % 20] for i, w in enumerate(two[1::2])]


def _documents(rng: np.random.Generator, n: int, out_dir: str) -> None:
    """Word-soup documents with planted duplicates: 5% exact copies and 15%
    near-copies (~8% of tokens replaced, 3-shingle Jaccard mostly 0.5-0.8)
    of an earlier original.  Copying only originals keeps every duplicate
    cluster a star, so connected components converge in the same number
    of rounds for every seed."""
    vocab = np.asarray(_vocabulary())
    toks: list[np.ndarray] = []
    originals: list[int] = []
    kind = rng.random(n)
    for i in range(n):
        if len(originals) >= 10 and kind[i] < 0.20:
            base = toks[originals[int(rng.integers(0, len(originals)))]].copy()
            if kind[i] >= 0.05:
                flip = rng.random(base.size) < 0.08
                base[flip] = rng.integers(0, vocab.size, int(flip.sum()))
            toks.append(base)
        else:
            originals.append(i)
            toks.append(rng.integers(0, vocab.size, int(rng.integers(8, 90))))
    text = [" ".join(vocab[t]) for t in toks]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.asarray(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in text], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, out_dir: str) -> None:
    """Unit-norm 64-d float vectors around 24 cluster centres; 10% are
    near-copies of an earlier vector (cosine > 0.95)."""
    centres = rng.normal(size=(24, 64))
    label = rng.integers(0, 24, n)
    vecs = centres[label] + rng.normal(scale=1.2, size=(n, 64))
    copy = np.flatnonzero(rng.random(n) < 0.10)
    copy = copy[copy > 0]
    src = (rng.random(copy.size) * copy).astype(np.int64)
    vecs[copy] = vecs[src] + rng.normal(scale=0.15, size=(copy.size, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, 64).cast(pa.list_(pa.float32())),
        "label": (label % 10).astype(np.int32),
    })


def write_tables(seed: int, sizes: Sizes, out_dir: str) -> None:
    """Write all ten fixture tables for ``sizes`` into ``out_dir``.

    Tables a workload does not use are written at a token size, because
    the DuckDB oracle connection registers every table."""
    os.makedirs(out_dir, exist_ok=True)
    root = np.random.SeedSequence(seed)
    star, ev, docs, emb = (np.random.default_rng(s) for s in root.spawn(4))
    _star_schema(star, Sizes(lineitem=max(sizes.lineitem, 600)), out_dir)
    _events(ev, Sizes(events=max(sizes.events, 100)), out_dir)
    _documents(docs, max(sizes.documents, 50), out_dir)
    _embeddings(emb, max(sizes.embeddings, 50), out_dir)


def etl_keywords(seed: int, n: int) -> list[str]:
    """One distinct search keyword per ETL batch, in a seeded order."""
    words = _vocabulary()
    order = np.random.default_rng(seed).permutation(len(words))
    return [f"{words[order[i % len(words)]]}-{i}" for i in range(n)]
