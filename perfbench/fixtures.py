"""Deterministic fixture tables for the benchmark.

Writes the ten engine tables (``schemas.TABLE_NAMES``) as one-row-group
snappy parquet files with the same column types, key ranges and value
distributions as the engine's reference fixtures, so the benchmark needs no
data from outside its checkout. Row counts follow the TPC-H convention
(``lineitem`` = 6M × sf); ``documents`` and ``embeddings`` floor at 500 rows.

The tables depend on ``sf`` and ``seed`` only: the same pair always gives
byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
DUP_SHARE = 0.05  # documents that repeat an earlier document plus " dup"

_ORDER_START = dt.datetime(1995, 1, 1)
_SHIP_START = dt.datetime(1995, 1, 2)
_EVENT_START = dt.datetime(2024, 1, 1)
_DAY_US = 86_400 * 1_000_000


def _epoch_us(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, start: dt.datetime, n_days: int, n: int) -> pa.Array:
    us = _epoch_us(start)
    return pa.array(us + rng.integers(0, n_days, n) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _counts(sf: float) -> dict[str, int]:
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _region(rng, n, counts):
    return {"r_regionkey": pa.array(range(n), pa.int32()), "r_name": REGIONS}


def _nation(rng, n, counts):
    return {
        "n_nationkey": pa.array(range(n), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n)],
        "n_regionkey": pa.array([i % 5 for i in range(n)], pa.int32()),
    }


def _customer(rng, n, counts):
    return {
        "c_custkey": _keys(n),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }


def _supplier(rng, n, counts):
    return {
        "s_suppkey": _keys(n),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }


def _part(rng, n, counts):
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    return {
        "p_partkey": _keys(n),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2),
    }


def _orders(rng, n, counts):
    return {
        "o_orderkey": _keys(n),
        "o_custkey": pa.array(rng.integers(0, counts["customer"], n)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, _ORDER_START, 2405, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }


def _lineitem(rng, n, counts):
    return {
        "l_orderkey": pa.array(rng.integers(0, counts["orders"], n)),
        "l_partkey": pa.array(rng.integers(0, counts["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, counts["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, _SHIP_START, 2498, n),
    }


def _events(rng, n, counts):
    ts = _epoch_us(_EVENT_START) + np.sort(rng.integers(0, 30 * _DAY_US, n))
    return {
        "event_id": _keys(n),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng, n, counts):
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = vocab[rng.integers(0, len(VOCAB), int(rng.integers(8, 101)))]
            texts.append(" ".join(words))
    return {
        "doc_id": _keys(n),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n, counts):
    vec = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": _keys(n),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def table(name: str, sf: float, seed: int = 42) -> pa.Table:
    """One fixture table. Each table draws from its own random stream, so
    a table does not depend on which other tables are built."""
    rng = np.random.default_rng([seed, list(BUILDERS).index(name)])
    counts = _counts(sf)
    return pa.table(BUILDERS[name](rng, counts[name], counts))


def write_table(table: pa.Table, path: str, dictionary: bool = True) -> None:
    """One row group, snappy: the layout the engine's sizing rules expect."""
    tmp = path + ".tmp"
    pq.write_table(
        table,
        tmp,
        compression="snappy",
        row_group_size=len(table) or 1,
        use_dictionary=dictionary,
    )
    os.replace(tmp, path)


def generate(
    out_dir: str, sf: float, seed: int = 42, tables_wanted: list[str] | None = None
) -> str:
    """Write the fixture tables (all by default) under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables_wanted or list(BUILDERS):
        write_table(table(name, sf, seed), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# key columns shifted per copy by the 10x rule (same rule as
# tools/scale_probe.py): each copy joins only within itself, and the
# label block key grows in number of blocks, not in block density
SHIFT = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "embeddings": ["vec_id", "label"],
}
SHIFT_STEP = {"label": 1_000}
SHIFT_OFFSET = 10_000_000


def key_shifted_copy(src_dir: str, out_dir: str, copies: int, table_names: list[str]) -> str:
    """``copies``-times copy of ``table_names``: tables in ``SHIFT`` are
    unioned with their keys moved by ``i * offset`` for copy ``i``; any other
    table is copied unscaled. Copies are written without dictionary pages,
    so repeated values cost their full bytes on disk as they would in a
    genuinely larger corpus, and the size-gated kernels see the volume."""
    os.makedirs(out_dir, exist_ok=True)
    for name in table_names:
        src = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        if name in SHIFT:
            parts = []
            for i in range(copies):
                t = src
                for col in SHIFT[name]:
                    idx = t.schema.get_field_index(col)
                    step = SHIFT_STEP.get(col, SHIFT_OFFSET)
                    arr = t.column(col).to_numpy() + i * step
                    t = t.set_column(idx, col, pa.array(arr, t.schema.field(col).type))
                parts.append(t)
            src = pa.concat_tables(parts)
        write_table(src, os.path.join(out_dir, f"{name}.parquet"), dictionary=False)
    return out_dir
