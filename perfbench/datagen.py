"""Seeded generator for the engine's input tables.

Writes the ten tables of the fixture contract (``FIXTURES.md``: the
TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``)
as one Parquet file each, with the value domains the registry keys and
their DuckDB oracles expect: the same categorical vocabularies, key
ranges, date ranges, the 30-word document vocabulary with planted
``" dup"`` near-duplicates, and unit-norm 64-dim embeddings with
10 labels. The same ``(seed, scale)`` always gives byte-identical
tables, so a run can be repeated exactly and a claim re-checked on a
seed it was not tuned on.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
# Document words come from VOCAB (the fixture's 30 words, which carry
# the curation gates' stopwords) half the time and from RARE_WORDS
# otherwise, so 3-word shingles are mostly distinct across documents and
# the dedup and decontamination stages keep real survivors.
RARE_WORDS = 5000
EMB_DIM = 64

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


@dataclass(frozen=True)
class Sizes:
    """Row counts per table. ``scale`` follows the fixture convention
    (lineitem = 6,000,000 x scale); the text and vector corpora are
    sized on their own because their operators grow faster than
    linearly."""

    scale: float
    docs: int
    vectors: int

    def rows(self) -> dict[str, int]:
        k = self.scale * 1000
        return {
            "region": 5,
            "nation": 25,
            "customer": int(150 * k),
            "supplier": max(int(10 * k), 10),
            "part": int(200 * k),
            "orders": int(1500 * k),
            "lineitem": int(6000 * k),
            "events": int(1000 * k),
            "documents": self.docs,
            "embeddings": self.vectors,
        }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo_day: int, hi_day: int, n: int) -> pa.Array:
    d = rng.integers(lo_day, hi_day + 1, n)
    return pa.array(_EPOCH_1995 + d.astype("timedelta64[D]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 91, n)
    vocab = np.array(VOCAB + [f"w{i}" for i in range(RARE_WORDS)])
    texts = []
    for w in n_words:
        rare = rng.random(w) < 0.5
        idx = np.where(
            rare, rng.integers(len(VOCAB), len(vocab), w), rng.integers(0, len(VOCAB), w)
        )
        texts.append(" ".join(vocab[idx]))
    # Plant near-duplicates: ~5% of documents are another document's
    # text with one extra token, the shape the dedup tier must find.
    dup_ids = rng.choice(n, size=max(n // 20, 1), replace=False)
    for i in dup_ids:
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": lang,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.1, (10, EMB_DIM))
    v = rng.normal(0.0, 1.0, (n, EMB_DIM)) + centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    offsets = np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.ravel()))
    return pa.table(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": labels}
    )


def generate(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """All ten tables for one seed, in memory."""
    rng = np.random.default_rng(seed)
    n = sizes.rows()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -1000, 10000, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -1000, 10000, ns),
        }
    )
    np_ = n["part"]
    pk = np.arange(np_, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": rng.choice(PART_TYPES, np_),
            "p_size": rng.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _days(rng, 0, 2404, no),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    flags = rng.integers(0, 6, nl)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
            "l_linestatus": np.array(["F", "O"])[flags // 3],
            "l_shipdate": _days(rng, 1, 2499, nl),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * _DAY_US / ne, ne).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(int(15 * sizes.scale * 1000), 10), ne).astype(
                np.int64
            ),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write(
    tables: dict[str, pa.Table], out_dir: str, names: tuple[str, ...] = tuple(TABLES)
) -> dict[str, dict[str, int]]:
    """Write one ``<name>.parquet`` per table in ``names``; return rows
    and bytes of each."""
    os.makedirs(out_dir, exist_ok=True)
    desc = {}
    for name in names:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        desc[name] = {"rows": tables[name].num_rows, "bytes": os.path.getsize(path)}
    return desc
