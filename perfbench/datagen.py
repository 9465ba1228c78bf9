"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the engine's catalog knows (TPC-H-shaped star schema
plus ``events``, ``documents`` and ``embeddings``), one parquet file each,
with the column names, types and value domains of the engine's test
fixtures.  The same ``(seed, sizes)`` always gives byte-identical tables;
another seed gives other values with the same row counts and
distributions, so run time does not depend on which seed is drawn.

Documents are random word sequences over a small vocabulary, and one in
eight is a near-copy of an earlier document, so the dedup entries have
real candidate pairs to find.  A near-copy has one or two words of an
original of at least 40 words replaced, so its word 3-gram Jaccard
similarity to the original is at least 0.72; unrelated documents share
almost no 3-grams.  No pair sits near the dedup threshold (0.5), where
MinHash LSH (32 bands of 4 rows) finds a pair only 87% of the time and the
approximate ``ext_dedup_clusters`` would legitimately disagree with its
exact oracle on some seeds.  Embeddings are unit
vectors drawn around ten labelled centres.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "plate", "rod", "gizmo", "bolt", "anvil", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10


@dataclass(frozen=True)
class Sizes:
    """Row counts; ``sf`` scales the TPC-H tables and ``events``."""

    sf: float
    documents: int
    embeddings: int

    @property
    def lineitem(self) -> int:
        return int(6_000_000 * self.sf)

    @property
    def orders(self) -> int:
        return int(1_500_000 * self.sf)

    @property
    def customer(self) -> int:
        return int(150_000 * self.sf)

    @property
    def part(self) -> int:
        return int(200_000 * self.sf)

    @property
    def supplier(self) -> int:
        return max(10, int(10_000 * self.sf))

    @property
    def events(self) -> int:
        return int(1_000_000 * self.sf)

    def tag(self) -> str:
        return f"sf{self.sf:g}_d{self.documents}_e{self.embeddings}"


def _days(rng: np.random.Generator, n: int, start: dt.date, end: dt.date):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "D")
    d = base + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    originals: list[int] = []  # random documents of at least 40 words
    for i in range(n):
        if i % 8 == 7 and originals:
            # near-copy of an earlier original with one or two words replaced
            words = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for j in rng.integers(0, len(words), int(rng.integers(1, 3))):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
            if len(words) >= 40:
                originals.append(i)
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, EMBED_LABELS, n)
    vecs = centres[labels] + rng.normal(scale=0.6 / np.sqrt(EMBED_DIM), size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def make_tables(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    s = sizes
    nat = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
             "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {"n_nationkey": pa.array(nat),
             "n_name": pa.array([f"NATION_{k}" for k in nat]),
             "n_regionkey": pa.array(nat % 5)}
        ),
        "customer": pa.table(
            {"c_custkey": pa.array(np.arange(s.customer, dtype=np.int64)),
             "c_name": pa.array([f"Customer#{k:09d}" for k in range(s.customer)]),
             "c_nationkey": pa.array(rng.integers(0, 25, s.customer).astype(np.int32)),
             "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.customer)),
             "c_mktsegment": _pick(rng, SEGMENTS, s.customer)}
        ),
        "supplier": pa.table(
            {"s_suppkey": pa.array(np.arange(s.supplier, dtype=np.int64)),
             "s_name": pa.array([f"Supplier#{k:09d}" for k in range(s.supplier)]),
             "s_nationkey": pa.array(rng.integers(0, 25, s.supplier).astype(np.int32)),
             "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.supplier))}
        ),
    }
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(s.part, dtype=np.int64)
    tables["part"] = pa.table(
        {"p_partkey": pa.array(pk),
         "p_name": _pick(rng, names, s.part),
         "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, s.part)]),
         "p_type": _pick(rng, PART_TYPES, s.part),
         "p_size": pa.array(rng.integers(1, 51, s.part).astype(np.int32)),
         "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0)}
    )
    tables["orders"] = pa.table(
        {"o_orderkey": pa.array(np.arange(s.orders, dtype=np.int64)),
         "o_custkey": pa.array(rng.integers(0, s.customer, s.orders)),
         "o_orderstatus": _pick(rng, ["F", "O", "P"], s.orders),
         "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, s.orders)),
         "o_orderdate": _days(rng, s.orders, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
         "o_orderpriority": _pick(rng, PRIORITIES, s.orders)}
    )
    n = s.lineitem
    tables["lineitem"] = pa.table(
        {"l_orderkey": pa.array(rng.integers(0, s.orders, n)),
         "l_partkey": pa.array(rng.integers(0, s.part, n)),
         "l_suppkey": pa.array(rng.integers(0, s.supplier, n)),
         "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
         "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
         "l_extendedprice": pa.array(_money(rng, 900.0, 100000.0, n)),
         "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
         "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
         "l_returnflag": _pick(rng, ["A", "N", "R"], n),
         "l_linestatus": _pick(rng, ["F", "O"], n),
         "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4))}
    )
    ne = s.events
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {"event_id": pa.array(np.arange(ne, dtype=np.int64)),
         "ts": pa.array(ts, pa.timestamp("us")),
         "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne)),
         "event_type": _pick(rng, EVENT_TYPES, ne),
         "value": pa.array(np.round(rng.exponential(40.0, ne), 2) + 0.01),
         "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])}
    )
    tables["documents"] = _documents(rng, s.documents)
    tables["embeddings"] = _embeddings(rng, s.embeddings)
    return tables


def write_tables(root: str, seed: int, sizes: Sizes) -> str:
    """Generate into ``root/<sizes>_seed<seed>`` once; return that dir."""
    out = os.path.join(root, f"{sizes.tag()}_seed{seed}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in make_tables(seed, sizes).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    open(done, "w").close()
    return out
