"""Seeded input generator.

Writes the ten lakehouse tables the engine reads (`sources.catalog.TABLES`)
as single-row-group parquet files with the same column names, types and
value domains as the engine's fixtures: a TPC-H-like star schema, a
30-day `events` tick stream, a text corpus with near-duplicates and
clustered unit-norm embeddings. The values come from the fixed
`BASE_SEED`; a run's seed only permutes the entity keys
(`events.user_id`, `documents.doc_id`, `embeddings.vec_id`) within their
value sets. So every seed has the same table sizes and the same data
distributions (per-user event counts, document lengths, clusters), and
the work a query does hardly depends on the seed.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the engine's sf0.01 fixture shape.
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

EVENT_START_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00
EVENT_SPAN_US = 30 * 86400 * 1_000_000
ORDER_START_DAY = 9131  # 1995-01-01
ORDER_DAYS = 2404  # .. 2001-08-01
SHIP_START_DAY = 9132  # 1995-01-02
SHIP_DAYS = 2498  # .. 2001-11-04

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
BASE_SEED = 20240101
# the entity keys a run's seed permutes, by table
ENTITY_KEYS = {"events": "user_id", "documents": "doc_id", "embeddings": "vec_id"}
EMBED_DIM = 64
N_LABELS = 10
N_SOURCES = 20


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: int, span: int, n: int) -> pa.Array:
    us = (start + rng.integers(0, span + 1, n)).astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]) for _ in range(n)]
    # ~5% near-duplicates: another document with its head trimmed, one
    # word swapped and a "dup" marker appended
    for i in np.flatnonzero(rng.random(n) < 0.05):
        base = texts[int(rng.integers(0, n))].split()
        base = base[int(rng.integers(0, 3)):]
        base[int(rng.integers(0, len(base)))] = str(words[rng.integers(0, len(words))])
        texts[i] = " ".join(base + ["dup"])
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.standard_normal((N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, n).astype(np.int32)
    x = rng.standard_normal((n, EMBED_DIM)) / np.sqrt(EMBED_DIM) + 0.14 * centroids[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(label, pa.int32()),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    # strictly increasing, so (ts, event_id) and ts alone order alike
    ts = np.maximum.accumulate(ts - np.arange(n)) + np.arange(n)
    k = rng.integers(0, 100, n)
    # timestamp without time zone in microseconds, as the engine's
    # fixtures store it; the engine's TIMESTAMP(NANOS) read path is not
    # exercised by these inputs
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EVENT_START_US + ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in k], pa.string()),
    })


def permute_keys(table: pa.Table, column: str, rng: np.random.Generator) -> pa.Table:
    """Relabel `column` through a seeded permutation of its distinct values."""
    keys = table.column(column).to_numpy()
    distinct = np.unique(keys)
    relabel = rng.permutation(distinct)
    new = pa.array(relabel[np.searchsorted(distinct, keys)], table.schema.field(column).type)
    return table.set_column(table.schema.get_field_index(column), column, new)


def make_tables(seed: int) -> dict[str, pa.Table]:
    tables = base_tables()
    rng = np.random.default_rng(seed)
    for name, column in ENTITY_KEYS.items():
        tables[name] = permute_keys(tables[name], column, rng)
    return tables


def base_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    n = SIZES
    nk = np.arange(n["nation"], dtype=np.int32)
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(n["region"], dtype=np.int32),
            "r_name": pa.array(REGIONS[: n["region"]], pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": nk,
            "n_name": pa.array([f"NATION_{i}" for i in nk], pa.string()),
            "n_regionkey": (nk % n["region"]).astype(np.int32),
        }),
    }
    c = np.arange(n["customer"], dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": c,
        "c_name": pa.array([f"Customer#{i:09d}" for i in c], pa.string()),
        "c_nationkey": rng.integers(0, n["nation"], len(c)).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10000, len(c)),
        "c_mktsegment": _pick(rng, SEGMENTS, len(c)),
    })
    s = np.arange(n["supplier"], dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": s,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in s], pa.string()),
        "s_nationkey": rng.integers(0, n["nation"], len(s)).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10000, len(s)),
    })
    p = np.arange(n["part"], dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": p,
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (len(p), 2))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(p))], pa.string()),
        "p_type": _pick(rng, PART_TYPES, len(p)),
        "p_size": rng.integers(1, 51, len(p)).astype(np.int32),
        "p_retailprice": np.round(900 + (p % 1000) / 10.0, 1),
    })
    o = np.arange(n["orders"], dtype=np.int64)
    tables["orders"] = pa.table({
        "o_orderkey": o,
        "o_custkey": rng.integers(0, n["customer"], len(o)).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(o)),
        "o_totalprice": _money(rng, 1000, 500000, len(o)),
        "o_orderdate": _days(rng, ORDER_START_DAY, ORDER_DAYS, len(o)),
        "o_orderpriority": _pick(rng, PRIORITIES, len(o)),
    })
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, SHIP_START_DAY, SHIP_DAYS, m),
    })
    tables["events"] = _events(rng, n["events"], n["customer"] // 10)
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_inputs(seed: int, out_dir: str) -> str:
    """Write every table to ``out_dir/<name>.parquet``; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
