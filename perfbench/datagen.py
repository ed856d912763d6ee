"""Deterministic synthetic input tables for the benchmark.

Writes the ten harness tables (``region nation customer supplier part
orders lineitem events documents embeddings``, one parquet file each) with
the schemas and value domains the engine's query registry expects: a
TPC-H-shaped star schema, an ``events`` interaction log and the document /
embedding corpora.  Row counts follow the harness scale-factor rule (e.g.
sf 0.01: 1 500 customers, 60 000 line items, 10 000 events, 500 documents
and 500 embeddings).  Value domains and distributions follow the engine's
correctness-test tables of the same scale: uniform user activity (150 users
at sf 0.01, about 67 events each), five event types in equal shares, 100
distinct ``props``, a 30-day event window, documents of 10-100 words in
five languages (about 41% ``en``) from 20 sources, and unit-norm 64-d
embeddings around 10 labels.

The data depends only on ``sf`` and a fixed generator seed, never on the
benchmark's ``--seed``: the op set and its inputs stay fixed, the seed only
shuffles op order.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_SHARES = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_SOURCES = 20
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMBED_DIM = 64
_EMBED_LABELS = 10


def _day(year: int, month: int, day: int) -> np.datetime64:
    return np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us")


def _dates(rng: np.random.Generator, n: int, lo: np.datetime64, hi: np.datetime64):
    days = int((hi - lo) / np.timedelta64(1, "D"))
    return lo + rng.integers(0, days + 1, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 20),
        "orders": max(int(1_500_000 * sf), 100),
        "lineitem": max(int(6_000_000 * sf), 400),
        "events": max(int(1_000_000 * sf), 100),
        "users": max(int(15_000 * sf), 5),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
    }


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = table_sizes(sf)
    out: dict[str, pa.Table] = {}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": regions,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    adj = rng.integers(0, len(_PART_ADJ), npart)
    noun = rng.integers(0, len(_PART_NOUN), npart)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _dates(rng, no, _day(1995, 1, 1), _day(2001, 8, 1)),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _dates(rng, nl, _day(1995, 1, 2), _day(2001, 11, 4)),
        }
    )
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, ne))
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": _day(2024, 1, 1) + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    texts = [" ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), k)) for k in lens]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(len(_LANGS), nd, p=_LANG_SHARES)],
            "source": [f"src{i % _SOURCES}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    nv = n["embeddings"]
    centers = rng.standard_normal((_EMBED_LABELS, _EMBED_DIM))
    labels = rng.integers(0, _EMBED_LABELS, nv)
    vecs = centers[labels] + 1.5 * rng.standard_normal((nv, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def _marker(sf: float) -> str:
    """What a finished directory's ``.done`` holds: the scale factor and a
    digest of this generator, so tables from an older generator are redone."""
    with open(__file__, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:16]
    return f"sf={sf} seed={DATA_SEED} generator={digest}\n"


def generate(out_dir: str, sf: float) -> None:
    """Write every table into ``out_dir``; the ``.done`` marker is written
    last, so an interrupted generation is redone rather than half-read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, ".done"), "w") as fh:
        fh.write(_marker(sf))


def ensure(out_dir: str, sf: float) -> str:
    try:
        with open(os.path.join(out_dir, ".done")) as fh:
            current = fh.read() == _marker(sf)
    except OSError:
        current = False
    if not current:
        generate(out_dir, sf)
    return out_dir

