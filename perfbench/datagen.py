"""Deterministic synthetic inputs for the benchmark.

The benchmark must build its inputs inside the checkout it runs in, so it
does not read any pre-generated test data.  ``make_base`` writes the ten
catalog tables (``sql2all_spark.tables.TABLE_NAMES``) with the same column
names, types and value distributions as the engine's TPC-H-like test
data, from a fixed generator seed.  ``tools/gen_scale.py`` (imported, not
copied) then tiles that base into a larger dataset, and ``make_export_sources``
converts ``lineitem`` into the four export source formats.

The ``--seed`` of a run never changes these tables; it picks the
predicates, projections and op order (``workloads.py``), so one cached copy
of the data serves every run in a checkout.
"""

from __future__ import annotations

import os
import sqlite3
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.ipc as ipc
import pyarrow.parquet as pq

DATA_SEED = 42

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = (["en"] * 44) + (["zh"] * 14) + (["es"] * 14) + (["de"] * 14) + (["fr"] * 14)
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PART_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
PART_ADJ = ["small", "hot", "red", "blue", "large", "old", "cold", "new"]
PART_NOUN = ["widget", "gear", "plate", "bolt", "ring", "rod", "gizmo", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

TS = pa.timestamp("us")


def _days(rng, n, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")
    return pa.array(d, type=TS)


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document with its head trimmed and
            # a marker token appended, the shape dedup operators look for
            src = texts[int(rng.integers(0, i))].split(" ")
            cut = int(rng.integers(0, max(1, len(src) // 8)))
            texts.append(" ".join(src[cut:] + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def base_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten catalog tables at scale factor ``sf`` (lineitem = 6M × sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(1, int(150_000 * sf)), max(1, int(10_000 * sf))
    n_part, n_ord = max(1, int(200_000 * sf)), max(1, int(1_500_000 * sf))
    n_li, n_evt = max(1, int(6_000_000 * sf)), max(1, int(1_000_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    t["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    t["part"] = pa.table({
        "p_partkey": i64(range(n_part)),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    t["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105_000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _choice(rng, ["R", "A", "N"], n_li),
        "l_linestatus": _choice(rng, ["O", "F"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    start = np.datetime64(datetime(2024, 1, 1), "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(start, start + span_us, n_evt)).astype("datetime64[us]")
    t["events"] = pa.table({
        "event_id": i64(range(n_evt)),
        "ts": pa.array(ts, type=TS),
        "user_id": i64(rng.integers(0, max(1, int(15_000 * sf)), n_evt)),
        "event_type": _choice(rng, EVENT_TYPES, n_evt),
        "value": pa.array(_money(rng, n_evt, 0.01, 330.0)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    t["documents"] = _documents(rng, max(500, int(50_000 * sf)))
    t["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def make_base(out_dir: str, sf: float) -> None:
    write_tables(base_tables(sf), out_dir)


def make_tiled(src_dir: str, out_dir: str, tiles: int) -> None:
    """``tiles``× copy of ``src_dir`` through ``tools/gen_scale.py``'s tiling
    (key-offset copies, renamed document vocabularies, rotated vectors)."""
    import gen_scale  # tools/ is on sys.path (see run.py)

    strides: dict[str, int] = {}
    for domain, (tbl, col) in gen_scale.DOMAIN_SOURCE.items():
        keys = pq.read_table(os.path.join(src_dir, f"{tbl}.parquet"), columns=[col])
        strides[domain] = int(pc.max(keys.column(col)).as_py()) + 1
    tables = {}
    for name in gen_scale.DIM_TABLES + list(gen_scale.KEY_DOMAINS):
        src = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        tables[name] = (
            src if name in gen_scale.DIM_TABLES
            else gen_scale._tile(name, src, strides, tiles)
        )
    write_tables(tables, out_dir)


def make_export_sources(lineitem_parquet: str, out_dir: str) -> None:
    """``lineitem`` as the four export sources, ``lineitem.<scheme>``.

    The parquet copy is the master the DuckDB oracle reads.  SQLite has no
    timestamp type, so ``l_shipdate`` is stored there as ISO text, the
    value SQLite users hold for it."""
    os.makedirs(out_dir, exist_ok=True)
    tbl = pq.read_table(lineitem_parquet)
    paths = {
        "parquet": os.path.join(out_dir, "lineitem.parquet"),
        "csv": os.path.join(out_dir, "lineitem.csv"),
        "sqlite": os.path.join(out_dir, "lineitem.sqlite"),
        "arrow": os.path.join(out_dir, "lineitem.arrow"),
    }
    pq.write_table(tbl, paths["parquet"])
    pacsv.write_csv(tbl, paths["csv"])
    with ipc.new_file(paths["arrow"], tbl.schema) as w:
        w.write_table(tbl)
    df = tbl.to_pandas()
    df["l_shipdate"] = df["l_shipdate"].dt.strftime("%Y-%m-%d %H:%M:%S")
    with sqlite3.connect(paths["sqlite"]) as con:
        df.to_sql("lineitem", con, index=False)
