"""Deterministic sf0.1 input tables for the benchmark.

``generate_tables`` reproduces the engine's sf0.1 test data (TESTDATA.md:
TPC-H-ish tables plus ``events``, ``documents`` and ``embeddings``,
generated with seed 42) value for value: same schemas, row counts, draw
sequence and row order.  ``python3 perfbench/datagen.py --compare DIR``
checks that against a copy of that data.  A benchmark run may read only
its checkout, so it generates the tables instead of reading them.

Every benchmark seed sees the same rows; a benchmark seed only permutes
row order (``permuted_copy``) or the order of work.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = "sf0.1-v2"

# rows per source table at sf0.1
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

VOCAB = (
    "the a spark query table join group filter window data order customer part "
    "line fast slow big small hash sort merge scan agg stream batch vector key "
    "value row column"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EMBED_DIM = 64
NEAR_DUPS = 250


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> np.ndarray:
    """n random midnight timestamps (us) between two ISO dates, inclusive."""
    d0 = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - d0).astype(int) + 1
    return (d0 + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator) -> pa.Table:
    n = SIZES["documents"]
    texts = []
    for _ in range(n):
        k = rng.integers(10, 100)
        texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k)))
    # near duplicates: a copy of another document with one word appended;
    # two copies of the same source are exact duplicates of each other
    targets = rng.choice(n, NEAR_DUPS, replace=False)
    for t, src in zip(targets, rng.integers(0, n, NEAR_DUPS)):
        texts[t] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def generate_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    s = SIZES
    n_nat = s["nation"]
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(n_nat), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(n_nat)],
                "n_regionkey": pa.array(np.arange(n_nat) % 5, pa.int32()),
            }
        ),
    }
    n = s["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": _names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, n_nat, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )
    n = s["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, n_nat, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = s["part"]
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
        }
    )
    n = s["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n, rng),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )
    n = s["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": rng.choice(["R", "A", "N"], n),
            "l_linestatus": rng.choice(["O", "F"], n),
            "l_shipdate": _days("1995-01-02", "2001-11-04", n, rng),
        }
    )
    n = s["events"]
    # ns offsets over 30 days, truncated to the file's microseconds
    offsets_ns = (np.sort(rng.uniform(0, 30 * 86_400, n)) * 1e9).astype(np.int64)
    t0 = np.datetime64(datetime(2024, 1, 1), "us")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(t0 + (offsets_ns // 1000).astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    tables["documents"] = _documents(rng)
    n = s["embeddings"]
    vec = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    return tables


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table, path, version="2.6", compression="snappy", row_group_size=table.num_rows
    )


def _is_complete(out_dir: str, names) -> bool:
    try:
        with open(os.path.join(out_dir, "_DONE")) as f:
            done = json.load(f)
    except (OSError, ValueError):
        return False
    return done.get("version") == VERSION and set(done.get("tables", [])) >= set(names)


def ensure_base(out_dir: str) -> str:
    """Write every table once into ``out_dir``; later calls reuse it."""
    if _is_complete(out_dir, SIZES):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate_tables().items():
        if table.num_rows != SIZES[name]:
            raise RuntimeError(f"{name}: {table.num_rows} rows, want {SIZES[name]}")
        _write(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump({"version": VERSION, "tables": sorted(SIZES)}, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


def permuted_copy(base_dir: str, out_dir: str, seed: int, shuffle: list[str]) -> str:
    """A view of ``base_dir`` whose ``shuffle`` tables have their rows in
    a seed-chosen order (same rows, so order-insensitive outputs are
    seed-independent); the other tables are hard links to the base."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)
    for name in sorted(SIZES):
        src = os.path.join(base_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name in shuffle:
            table = pq.read_table(src)
            _write(table.take(rng.permutation(table.num_rows)), dst)
        else:
            os.link(src, dst)
    return out_dir


def compare(ref_dir: str) -> int:
    """Compare every generated table with ``ref_dir``'s; 0 iff all equal."""
    bad = 0
    for name, table in generate_tables().items():
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        same = table.equals(ref.replace_schema_metadata(None))
        bad += not same
        print(f"{name}: {ref.num_rows} rows, {'equal' if same else 'DIFFERENT'}")
    return 1 if bad else 0


def input_bytes(data_dir: str, names) -> int:
    return sum(os.path.getsize(os.path.join(data_dir, f"{n}.parquet")) for n in names)


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="compare the generated tables with a directory")
    ap.add_argument("--compare", metavar="DIR", required=True)
    raise SystemExit(compare(ap.parse_args().compare))
