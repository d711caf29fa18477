"""Seeded benchmark inputs: a fixed base star schema and seeded subsets of it.

The base tables follow the engine's test data (TPC-H-like ``region
nation customer supplier part orders lineitem`` plus ``events``,
``documents`` and ``embeddings``): the same schemas, value domains and
distributions, at the row counts in ``SIZES``. They are generated from
one fixed base seed, so they are the same in every run. A benchmark seed
then picks an FK-consistent subset:

- about 90% of ``orders`` by a seeded hash of ``o_orderkey``, together
  with exactly their ``lineitem`` rows;
- about 90% of ``documents``, ``embeddings`` and ``events`` by the same
  kind of hash on ``doc_id``, ``vec_id`` and ``event_id``;
- every dimension table whole.

Each table is written as one parquet file whatever the seed, so a seed
changes rows and never layout, and every subset keeps the base schema
exactly. Each variant is written to a new directory; an existing one is
never rewritten.

Run ``python3 perfbench/inputs.py --self-check`` to check that the same
seed gives the same content hash and different seeds give different rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

BASE_SEED = 42
#: Share of each subsetted table dropped by the seeded hash (1 in 10).
DROP_MODULUS = 10

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
EMBED_DIM = 64
US_PER_DAY = 86_400 * 1_000_000

#: Base row counts: those of the engine's sf0.01 test data (60k lineitem,
#: 15k orders, 10k events of 150 users, 500 documents and embeddings).
#: At this size every operation is bound by per-job overhead on 4 cores,
#: but larger inputs do not fit the time budget of a run: at 1k
#: documents the DuckDB brute-force pair oracle of ``dedup_then_jaccard``
#: alone took 11 s (sf0.1's 5k take 145 s).
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}
#: Event-time span of ``events``. The test data spreads its events over
#: 30 days, one per user every ~11 hours, so nearly every 30-minute
#: session is a single event. One day gives each user ~3 events an hour
#: and sessions of 3.4 events on average.
EVENT_SPAN_DAYS = 1
#: The CSV export holds the ``lineitem`` rows of orders below this key,
#: a thirtieth of the table. ``read_csv`` infers types with one aggregate
#: job whose time grows with the rows: on 4 cores a warm read of 200 rows
#: took 2 s, of 15k rows 4 s and of all 60k rows 12 s.
CSV_ORDERKEY_BELOW = SIZES["orders"] // 30

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    ),
}

#: Subsetted tables and the id column the seeded hash is taken on.
#: lineitem follows orders through l_orderkey.
SUBSET_KEYS = {
    "orders": "o_orderkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
}


def _table(name: str, cols: dict) -> pa.Table:
    return pa.Table.from_pydict(cols, schema=SCHEMAS[name])


def _days(start: dt.date, n: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (n.astype(np.int64) * US_PER_DAY).astype("timedelta64[us]")


def base_tables() -> dict[str, pa.Table]:
    """The fixed base schema at the ``SIZES`` row counts (base seed only)."""
    rng = np.random.default_rng(BASE_SEED)
    n_c, n_s, n_p = SIZES["customer"], SIZES["supplier"], SIZES["part"]
    n_o, n_l, n_e = SIZES["orders"], SIZES["lineitem"], SIZES["events"]
    n_d, n_v, n_u = SIZES["documents"], SIZES["embeddings"], SIZES["users"]
    t: dict[str, pa.Table] = {}
    t["region"] = _table(
        "region",
        {
            "r_regionkey": list(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    t["nation"] = _table(
        "nation",
        {
            "n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)],
        },
    )
    t["customer"] = _table(
        "customer",
        {
            "c_custkey": np.arange(n_c),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c
            ),
        },
    )
    t["supplier"] = _table(
        "supplier",
        {
            "s_suppkey": np.arange(n_s),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
        },
    )
    t["part"] = _table(
        "part",
        {
            "p_partkey": np.arange(n_p),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_p
            ),
            "p_size": rng.integers(1, 51, n_p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2),
        },
    )
    order_day = rng.integers(0, 2404, n_o)
    t["orders"] = _table(
        "orders",
        {
            "o_orderkey": np.arange(n_o),
            "o_custkey": rng.integers(0, n_c, n_o),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
            "o_orderdate": _days(dt.date(1995, 1, 1), order_day),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o
            ),
        },
    )
    l_order = rng.integers(0, n_o, n_l)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    t["lineitem"] = _table(
        "lineitem",
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_p, n_l),
            "l_suppkey": rng.integers(0, n_s, n_l),
            "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_l),
            "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": _days(
                dt.date(1995, 1, 1), order_day[l_order] + rng.integers(1, 122, n_l)
            ),
        },
    )
    # events: sorted microsecond timestamps
    ts_us = np.sort(rng.integers(0, EVENT_SPAN_DAYS * US_PER_DAY, n_e))
    t["events"] = _table(
        "events",
        {
            "event_id": np.arange(n_e),
            "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_u, n_e),
            "event_type": rng.choice(list(EVENT_TYPES), n_e),
            "value": np.round(rng.exponential(50.0, n_e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
        },
    )
    # documents: random word sequences; 5% are an earlier document plus
    # " dup" (near duplicates) and a few are exact copies
    texts: list[str] = []
    for i in range(n_d):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n_words)))
    t["documents"] = _table(
        "documents",
        {
            "doc_id": np.arange(n_d),
            "text": texts,
            "lang": rng.choice(list(LANGS), n_d, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_d)],
            "n_chars": [len(x) for x in texts],
        },
    )
    # embeddings: unit vectors around 10 weak cluster centres
    labels = rng.integers(0, 10, n_v).astype(np.int32)
    centres = rng.normal(size=(10, EMBED_DIM))
    vecs = rng.normal(size=(n_v, EMBED_DIM)) + 0.6 * centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = _table(
        "embeddings",
        {"vec_id": np.arange(n_v), "embedding": list(vecs), "label": labels},
    )
    return t


def _keep_mask(keys: np.ndarray, seed: int) -> np.ndarray:
    """Seeded splitmix64 hash of each key; keeps about 9 in 10."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64((seed * 0x9E3779B97F4A7C15) % (1 << 64))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z % np.uint64(DROP_MODULUS)) != 0


def subset(base: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """The seed's FK-consistent subset of ``base``; dimensions stay whole."""
    out = dict(base)
    for name, key in SUBSET_KEYS.items():
        mask = _keep_mask(base[name][key].to_numpy(), seed)
        out[name] = base[name].filter(pa.array(mask))
    return _lineitem_of_orders(out)


def shrink(tables: dict[str, pa.Table], divisor: int) -> dict[str, pa.Table]:
    """The first 1/``divisor`` of every subsetted table, FK-consistent: a
    small variant with the same schema, for warming a session up."""
    out = dict(tables)
    for name in SUBSET_KEYS:
        out[name] = tables[name].slice(0, tables[name].num_rows // divisor)
    return _lineitem_of_orders(out)


def _lineitem_of_orders(tables: dict[str, pa.Table]) -> dict[str, pa.Table]:
    """``tables`` with ``lineitem`` cut to the rows of the kept orders."""
    li = tables["lineitem"]
    kept = np.isin(li["l_orderkey"].to_numpy(), tables["orders"]["o_orderkey"].to_numpy())
    return {**tables, "lineitem": li.filter(pa.array(kept))}


def content_hash(tables: dict[str, pa.Table]) -> str:
    """sha256 over every table's Arrow IPC bytes, in table-name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_variant(tables: dict[str, pa.Table], out_dir: str) -> str:
    """Write each table as ``<out_dir>/<name>.parquet``; refuses an existing dir."""
    os.makedirs(out_dir, exist_ok=False)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def write_exports(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """CSV export of part of lineitem and JSON-lines export of events for the ingest ops."""
    os.makedirs(out_dir, exist_ok=False)
    csv_path = os.path.join(out_dir, "lineitem.csv")
    li = tables["lineitem"]
    pacsv.write_csv(li.filter(pa.array(li["l_orderkey"].to_numpy() < CSV_ORDERKEY_BELOW)), csv_path)
    json_path = os.path.join(out_dir, "events.jsonl")
    with open(json_path, "w") as fh:
        for row in tables["events"].to_pylist():
            fh.write(json.dumps({**row, "ts": row["ts"].isoformat()}) + "\n")
    return {"csv": csv_path, "json": json_path}


def write_split(table: pa.Table, out_dir: str, n_files: int) -> str:
    """``table`` as ``n_files`` parquet files in row order (a stream source).

    A file stream source replays files in modification-time order, and
    files written within the same millisecond tie. Each file is stamped
    one second after the one before, as if it had arrived later.
    """
    os.makedirs(out_dir, exist_ok=False)
    step = -(-table.num_rows // n_files)
    arrived = time.time() - n_files
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(i * step, step), path)
        os.utime(path, (arrived + i, arrived + i))
    return out_dir


def self_check(base: dict[str, pa.Table], seed: int) -> list[str]:
    """Problems found (empty when fine): determinism, seed sensitivity,
    schema identity and FK consistency of the seed's subset."""
    problems = []
    a, b = subset(base, seed), subset(base, seed)
    if content_hash(a) != content_hash(b):
        problems.append("same seed gave different content")
    other = subset(base, seed + 1)
    for name, key in SUBSET_KEYS.items():
        if a[name][key].equals(other[name][key]):
            problems.append(f"seeds {seed} and {seed + 1} kept the same {name} rows")
    for name, table in a.items():
        if not table.schema.equals(base[name].schema, check_metadata=True):
            problems.append(f"{name} schema differs from the base")
    orders = set(a["orders"]["o_orderkey"].to_pylist())
    if not set(a["lineitem"]["l_orderkey"].to_pylist()) <= orders:
        problems.append("lineitem keeps rows of dropped orders")
    return problems


if __name__ == "__main__":
    if sys.argv[1:] != ["--self-check"]:
        raise SystemExit("usage: python3 perfbench/inputs.py --self-check")
    base = base_tables()
    found = [p for s in (1, 2, 3) for p in self_check(base, s)]
    print("\n".join(found) or "inputs self-check: ok")
    raise SystemExit(1 if found else 0)
