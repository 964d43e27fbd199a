"""Deterministic benchmark inputs.

``write_tables`` writes the star schema plus the ``events``, ``documents``
and ``embeddings`` tables that the catalog queries read, with the same schemas, row counts per scale
factor and value distributions as the engine's synthetic test data: uniform
keys and categories, ~5 % near-duplicate documents over a 30-word
vocabulary. The tables depend only on the scale factor, so one set of
committed output fingerprints (``expected.json``) holds for every
workload seed.

``dbt_batches`` turns the workload seed into the ``dbt_dag`` inputs: one
initial event-time slice of orders (a year), then one slice of 20-40 days
per incremental run plus some orders of the previous 60 days re-sent with
a changed status and price, and a customer table in which a seeded 1 % of
rows changes every run.

``python3 perfbench/gen.py OUT_DIR [--sf SF] [--dbt-seed N --dbt-runs R]``
writes the tables to ``OUT_DIR/tables`` and the batches to ``OUT_DIR/dbt``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: fixed data seed: the base tables never depend on the workload seed
DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2405
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2499


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n, endpoint=True) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days_us(day0: np.datetime64, offsets: np.ndarray) -> np.ndarray:
    return (day0 + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i and roll < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i and roll < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def build_tables(sf: float) -> dict[str, pd.DataFrame]:
    """Every benchmark table at scale factor ``sf``, from ``DATA_SEED``."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    i32 = np.int32
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _pick(rng, names, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days_us(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days_us(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n_line)),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, month_us, n_evt)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_evt).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    n_vec = max(500, int(20_000 * sf))
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32) * np.float32(0.1)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vec).astype(i32),
        }
    )
    return t


def write_tables(out_dir: str, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in build_tables(sf).items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )


def dbt_batches(orders: pd.DataFrame, customers: pd.DataFrame, seed: int, runs: int):
    """Yield ``(orders_batch, customers_state, expect)`` for the full build
    (index 0) and ``runs`` incremental runs.

    ``expect`` holds what the engine's tables must read after that run:
    ``fct_rows`` (distinct orders seen so far), ``customers`` and
    ``snapshot_rows`` (one row per customer version seen so far)."""
    rng = np.random.default_rng(seed)
    day = ((orders["o_orderdate"] - pd.Timestamp(ORDER_DAY0)).dt.days).to_numpy()
    state = customers.copy()
    seen = np.zeros(len(orders), dtype=bool)
    snapshot_rows = len(state)
    lo, hi = 0, 365
    for run in range(runs + 1):
        if run:
            lo, hi = hi, hi + int(rng.integers(20, 41))
            changed = rng.choice(len(state), size=max(1, len(state) // 100), replace=False)
            delta = rng.integers(1, 50_000, len(changed)) / 100.0
            state.loc[changed, "c_acctbal"] = np.round(
                state.loc[changed, "c_acctbal"].to_numpy() + delta, 2
            )
            snapshot_rows += len(changed)
        fresh = (day >= lo) & (day < hi)
        batch = orders[fresh].copy()
        if run:  # late updates to orders loaded in the last 60 days
            old = np.flatnonzero(seen & (day >= lo - 60))
            resend = orders.iloc[
                rng.choice(old, size=min(len(old), max(1, fresh.sum() // 3)), replace=False)
            ].copy()
            resend["o_orderstatus"] = "F"
            resend["o_totalprice"] = np.round(resend["o_totalprice"] + 1.0, 2)
            batch = pd.concat([batch, resend], ignore_index=True)
        seen |= fresh
        yield batch.reset_index(drop=True), state.copy(), {
            "fct_rows": int(seen.sum()),
            "customers": len(state),
            "snapshot_rows": snapshot_rows,
        }


def write_dbt_batches(out_dir: str, tables_dir: str, seed: int, runs: int) -> list[dict]:
    """Write the seeded ``dbt_dag`` batches under ``out_dir/run<k>/``;
    return, per run, the batch directory, its size in bytes and what the
    engine's tables must read after it."""
    orders = pd.read_parquet(os.path.join(tables_dir, "orders.parquet"))
    customers = pd.read_parquet(os.path.join(tables_dir, "customer.parquet"))
    out = []
    for k, (batch, state, expect) in enumerate(dbt_batches(orders, customers, seed, runs)):
        batch_dir = os.path.join(out_dir, f"run{k}")
        os.makedirs(batch_dir, exist_ok=True)
        for name, df in (("raw_orders", batch), ("raw_customers", state)):
            pq.write_table(
                pa.Table.from_pandas(df, preserve_index=False),
                os.path.join(batch_dir, f"{name}.parquet"),
            )
        size = sum(os.path.getsize(os.path.join(batch_dir, f)) for f in os.listdir(batch_dir))
        out.append({"dir": batch_dir, "bytes": size, "expect": expect})
    return out


def write_inputs(out_dir: str, sf: float, dbt_seed: int | None, dbt_runs: int) -> None:
    tables = os.path.join(out_dir, "tables")
    write_tables(tables, sf)
    if dbt_seed is not None:
        dbt_dir = os.path.join(out_dir, "dbt")
        batches = write_dbt_batches(dbt_dir, tables, dbt_seed, dbt_runs)
        with open(os.path.join(dbt_dir, "batches.json"), "w") as fh:
            json.dump(batches, fh)


def main(argv: list[str]) -> None:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("out_dir")
    parser.add_argument("--sf", type=float, default=0.1)
    parser.add_argument("--dbt-seed", type=int, help="also write dbt_dag batches")
    parser.add_argument("--dbt-runs", type=int, default=1)
    args = parser.parse_args(argv)
    write_inputs(args.out_dir, args.sf, args.dbt_seed, args.dbt_runs)


if __name__ == "__main__":
    main(sys.argv[1:])
