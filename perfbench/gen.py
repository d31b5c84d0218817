"""Seeded input generator for the benchmark.

Everything the package sees is written here with pyarrow/numpy, never with
the package itself: the ten TPC-H-style tables of the catalog (same names,
columns and types as the catalog's fixtures), the ingestion source directory
with watermark columns and its per-cycle increments, and the CDC batches of
the upsert workload. The same ``(seed, sf)`` always yields the same files.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
FACT_TABLES = ("events", "orders", "lineitem")
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = "red blue hot old new large small green".split()
_NOUN = "bolt ring plate rod anvil gear nut pipe".split()
_US = 1_000_000


def _ts(us: np.ndarray, mask: np.ndarray | None = None) -> pa.Array:
    """int64 epoch-microseconds -> naive timestamp[us] (NULL where mask)."""
    return pa.array(us.astype("int64"), type=pa.int64(), mask=mask).cast(
        pa.timestamp("us")
    )


def _epoch_us(d: datetime) -> int:
    return int((d - datetime(1970, 1, 1)).total_seconds()) * _US


def _rows(n_at_01: float, sf: float, floor: int) -> int:
    return max(floor, int(round(n_at_01 * sf / 0.1)))


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": _rows(15000, sf, 50),
        "supplier": _rows(1000, sf, 10),
        "part": _rows(20000, sf, 100),
        "orders": _rows(150000, sf, 500),
        "lineitem": _rows(600000, sf, 2000),
        "events": _rows(100000, sf, 500),
        "documents": _rows(5000, sf, 500),
        "embeddings": _rows(2000, sf, 500),
    }


def base_tables(seed: int, sf: float, only=TABLES) -> dict[str, pa.Table]:
    """The tables named in ``only``. Each table draws from a generator of
    its own, so a table is the same whichever others are built with it."""
    n = _counts(sf)
    return {
        name: _BUILD[name](np.random.default_rng([seed, 1, TABLES.index(name)]), n)
        for name in only
    }


def _region(rng, n) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })


def _nation(rng, n) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, n) -> pa.Table:
    k = n["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return pa.table({
        "c_custkey": np.arange(k, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, k), 2),
        "c_mktsegment": segs[rng.integers(0, 5, k)],
    })


def _supplier(rng, n) -> pa.Table:
    k = n["supplier"]
    return pa.table({
        "s_suppkey": np.arange(k, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, k), 2),
    })


def _part_price(pkeys: np.ndarray) -> np.ndarray:
    return np.round(900.0 + (pkeys % 1000) / 10.0, 2)


def _part(rng, n) -> pa.Table:
    k = n["part"]
    pkeys = np.arange(k, dtype="int64")
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    return pa.table({
        "p_partkey": pkeys,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, k), rng.integers(0, 8, k))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": types[rng.integers(0, 6, k)],
        "p_size": rng.integers(1, 51, k).astype("int32"),
        "p_retailprice": _part_price(pkeys),
    })


_DAY0 = _epoch_us(datetime(1995, 1, 1))


def _orders(rng, n) -> pa.Table:
    k = n["orders"]
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": np.arange(k, dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], k).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, k), 2),
        "o_orderdate": _ts(_DAY0 + rng.integers(0, 2404, k) * 86400 * _US),
        "o_orderpriority": prios[rng.integers(0, 5, k)],
    })


def _lineitem(rng, n) -> pa.Table:
    k = n["lineitem"]
    lpart = rng.integers(0, n["part"], k).astype("int64")
    qty = rng.integers(1, 51, k).astype("float64")
    return pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k).astype("int64"),
        "l_partkey": lpart,
        "l_suppkey": rng.integers(0, n["supplier"], k).astype("int64"),
        "l_linenumber": rng.integers(1, 8, k).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _part_price(lpart), 2),
        "l_discount": np.round(rng.integers(0, 11, k) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, k) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
        "l_shipdate": _ts(_DAY0 + rng.integers(1, 2500, k) * 86400 * _US),
    })


def _events(rng, n) -> pa.Table:
    k = n["events"]
    ev0 = _epoch_us(datetime(2024, 1, 1))
    return pa.table({
        "event_id": np.arange(k, dtype="int64"),
        "ts": _ts(np.sort(ev0 + rng.integers(0, 30 * 86400 * _US, k))),
        "user_id": rng.integers(0, max(10, n["customer"]), k).astype("int64"),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, k)
        ],
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })


def _embeddings(rng, n) -> pa.Table:
    k = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, k)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(k, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })


def _documents(rng: np.random.Generator, counts: dict[str, int]) -> pa.Table:
    """Random word soup with ~5% near-duplicates (a few words swapped, a
    trailing 'dup') and a handful of exact copies, so the dedup and
    similarity operators have real pairs to find."""
    n = counts["documents"]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 6, n)]
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


_BUILD = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# -- ingestion source ---------------------------------------------------------

# watermark timeline: the history covers the two years before T0, cycle k
# adds rows in (T0 + (k-1) days, T0 + k days] plus late rows that fall inside
# the orchestrator's 80 h lookback
T0 = datetime(2026, 1, 1)
BACKFILL_DAYS = 730
NEW_SHARE = 0.01
LATE_SHARE = 0.002
LATE_MAX_HOURS = 60
KEY_COL = {"events": "event_id", "orders": "o_orderkey", "lineitem": "l_orderkey"}


def _with_watermarks(
    rng: np.random.Generator, t: pa.Table, lo_us: int, hi_us: int
) -> pa.Table:
    """Add ``createddate`` (10% NULL, forcing the COALESCE onto
    ``modifieddate``) and ``modifieddate`` (set where createddate is NULL
    and on 30% of the others, 0-2 h after createddate)."""
    n = t.num_rows
    wm = rng.integers(lo_us, hi_us, n) if hi_us > lo_us else np.full(n, hi_us)
    created_null = rng.random(n) < 0.10
    has_mod = created_null | (rng.random(n) < 0.30)
    bump = rng.integers(0, 2 * 3600 * _US, n) * (~created_null)
    mod = wm + bump
    return t.append_column("createddate", _ts(wm, created_null)).append_column(
        "modifieddate", _ts(mod, ~has_mod)
    )


def ingest_source(seed: int, sf: float, src_db_dir: str) -> dict[str, int]:
    """Write the source's history: fact tables with watermarks, dimensions
    without. Each table is a directory of parquet parts, so cycles append
    by adding a part. Returns the next free key per fact table."""
    rng = np.random.default_rng([seed, 2])
    base = base_tables(seed, sf, FACT_TABLES + DIM_TABLES)
    hi = _epoch_us(T0)
    lo = _epoch_us(T0 - timedelta(days=BACKFILL_DAYS))
    next_key = {}
    for name in FACT_TABLES:
        t = _with_watermarks(rng, base[name], lo, hi)
        _write_part(src_db_dir, name, "part-00000", t)
        next_key[name] = int(pc.max(t[KEY_COL[name]]).as_py()) + 1
    for name in DIM_TABLES:
        _write_part(src_db_dir, name, "part-00000", base[name])
    return next_key


def _write_part(src_db_dir: str, name: str, part: str, t: pa.Table) -> None:
    d = os.path.join(src_db_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(t, os.path.join(d, f"{part}.parquet"))


def ingest_increment(
    seed: int, src_db_dir: str, cycle: int, next_key: dict[str, int]
) -> None:
    """Append cycle ``cycle``'s part to every fact table: ~1% new rows in
    the cycle's day plus late rows up to 60 h before the previous cycle's
    end. Dimensions are unchanged (they reload in full every run)."""
    rng = np.random.default_rng([seed, 3, cycle])
    end = _epoch_us(T0 + timedelta(days=cycle))
    start = _epoch_us(T0 + timedelta(days=cycle - 1))
    for name in FACT_TABLES:
        proto = pq.read_table(
            os.path.join(src_db_dir, f"{name}.parquet", "part-00000.parquet")
        )
        n_new = max(1, int(proto.num_rows * NEW_SHARE))
        n_late = max(1, int(proto.num_rows * LATE_SHARE))
        pick = rng.integers(0, proto.num_rows, n_new + n_late)
        t = proto.take(pa.array(pick)).drop_columns(["createddate", "modifieddate"])
        key = KEY_COL[name]
        idx = t.schema.get_field_index(key)
        keys = np.arange(next_key[name], next_key[name] + t.num_rows, dtype="int64")
        t = t.set_column(idx, key, pa.array(keys))
        next_key[name] += t.num_rows
        new = _with_watermarks(rng, t.slice(0, n_new), start, end)
        late = _with_watermarks(
            rng, t.slice(n_new), start - LATE_MAX_HOURS * 3600 * _US, start
        )
        _write_part(
            src_db_dir, name, f"part-c{cycle:05d}", pa.concat_tables([new, late])
        )


# -- upsert CDC batches -------------------------------------------------------

def cdc_batch(
    seed: int,
    batch: int,
    current: np.ndarray,
    next_key: int,
    n_cust: int,
    size: int,
) -> pa.Table:
    """One CDC batch over ``orders``-shaped rows: 80% updates of existing
    keys (3 in 4 drawn from the newest tenth of the key space, the rest
    uniform), 20% inserts of new keys. Keys within a batch are unique."""
    rng = np.random.default_rng([seed, 4, batch])
    n_ins = max(1, size // 5)
    n_upd = size - n_ins
    keys = np.sort(current)
    newest = keys[-max(1, len(keys) // 10):]
    hot = rng.choice(newest, min(len(newest), (n_upd * 3) // 4), replace=False)
    pool = np.setdiff1d(keys, hot, assume_unique=True)
    cold = rng.choice(pool, min(len(pool), n_upd - len(hot)), replace=False)
    upd = np.concatenate([hot, cold]).astype("int64")
    ins = np.arange(next_key, next_key + n_ins, dtype="int64")
    k = np.concatenate([upd, ins])
    n = len(k)
    return pa.table({
        "o_orderkey": k,
        "o_custkey": rng.integers(0, n_cust, n).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _ts(_DAY0 + rng.integers(0, 2404, n) * 86400 * _US),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n)],
    })
