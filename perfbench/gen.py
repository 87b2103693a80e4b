"""Seeded fixture generator for the benchmark.

Writes the ten fixture tables the engine's queries read (the star
schema, ``events``, ``documents``, ``embeddings``) with the schemas
and value distributions of the sf0.1 test fixtures: uniform keys,
two-decimal money, day-grained order/ship dates, time-ordered events
over January 2024, word-salad documents of which 5% are a copy of
another document plus a ``dup`` token, and unit-norm 64-d embeddings.

Column types are the fixtures' physical types, ``events.ts`` included:
INT64 TIMESTAMP(MICROS), the layout the sf0.1 test fixtures carry (the
engine also accepts TIMESTAMP(NANOS), see ``streaming/pipeline.py``).
Every table is one row group, as in those fixtures.

``make_sf1`` scales a generated sf0.1 directory tenfold by running
``scripts/gen_sf1.py``'s key-shifted replication on it.

The same seed always gives byte-identical inputs; every table draws
from its own child stream, so adding a column to one table leaves the
others unchanged.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import importlib.util
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_US_PER_DAY = 86_400_000_000


def _epoch_us(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days * _US_PER_DAY


def _days_us(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_epoch_us(lo) + days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def _tables(sf: float, rng_for) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })

    r = rng_for("customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })

    r = rng_for("supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = rng_for("part")
    keys = np.arange(n_part)
    adj = np.asarray(PART_ADJ, dtype=object)[r.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[r.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })

    r = rng_for("orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days_us(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })

    r = rng_for("lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_li),
        "l_discount": np.round(r.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(r, ["F", "O"], n_li),
        "l_shipdate": _days_us(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
    })

    r = rng_for("events")
    start = _epoch_us(dt.date(2024, 1, 1))
    ts = np.sort(r.integers(start, start + 30 * _US_PER_DAY, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
    })

    r = rng_for("documents")
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[r.integers(0, len(vocab), m)])
        for m in r.integers(10, 100, n_docs)
    ]
    is_dup = r.random(n_docs) < 0.05
    originals = np.flatnonzero(~is_dup)
    for i, src in zip(np.flatnonzero(is_dup), r.choice(originals, is_dup.sum())):
        texts[i] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{k % 20}" for k in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = rng_for("embeddings")
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy",
                   row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def make_fixture(dst: str, seed: int, sf: float) -> None:
    """Write every table at scale ``sf`` into ``dst``."""
    os.makedirs(dst, exist_ok=True)
    root = np.random.SeedSequence(seed)
    children = dict(zip(TABLES, root.spawn(len(TABLES))))

    def rng_for(name: str) -> np.random.Generator:
        return np.random.default_rng(children[name])

    for name, table in _tables(sf, rng_for).items():
        _write(table, os.path.join(dst, f"{name}.parquet"))


def _gen_sf1_module():
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(os.path.dirname(here), "scripts", "gen_sf1.py")
    spec = importlib.util.spec_from_file_location("gen_sf1", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def make_sf1(src: str, dst: str) -> None:
    """Ten key-shifted copies of the sf0.1 fixture in ``src``, written
    by ``scripts/gen_sf1.py`` itself (DuckDB ``COPY``, so its row-group
    size too), into a temporary directory renamed to ``dst`` once whole.
    Its progress lines go to stderr, off the result stream."""
    g = _gen_sf1_module()
    tmp = dst + ".tmp"
    for path in (tmp, dst):
        shutil.rmtree(path, ignore_errors=True)
    g.SRC, g.DST = src, tmp
    with contextlib.redirect_stdout(sys.stderr):
        g.main()
    os.replace(tmp, dst)
