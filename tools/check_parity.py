"""Local oracle-parity harness — mimics the driver's t2 correctness gate.

For every catalog query: run the Spark DataFrame impl and the DuckDB oracle
on the same sf dir, sort columns by name and rows by value, compare exactly.
Exact equality here is a strictly stronger bar than the driver's value-hash,
so green here ⇒ green in CORRECTNESS_r{N}.json.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from dbt_glue_spark.plans.catalog import SPECS
from dbt_glue_spark.session import get_spark
from dbt_glue_spark.sources.registry import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            # directory-style table (standard Spark writer layout)
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(v):
        if v is None:
            return (0, "")
        return (1, str(v))

    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple(key(v) for v in r))


def values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb  # exact — we engineered determinism upstream
    return str(a) == str(b)


def compare(spark, spec, sf_dir: str, con=None) -> str | None:
    """Exact compare of one spec's Spark result against its DuckDB oracle.

    Returns None when the two agree, else a description of the first
    difference. A spec without an oracle passes once its Spark side runs.
    ``con`` defaults to a fresh :func:`duck_con` over ``sf_dir``.
    """
    if con is None:
        with duck_con(sf_dir) as own:
            return compare(spark, spec, sf_dir, own)
    try:
        sdf = spec.fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001
        return f"spark error: {e}"
    if spec.oracle is None:
        return None
    try:
        rel = con.sql(spec.oracle)
        dcols = rel.columns
        drows = rel.fetchall()
    except Exception as e:  # noqa: BLE001
        return f"duckdb error: {e}"
    if sorted(scols) != sorted(dcols):
        return f"columns differ spark={sorted(scols)} duck={sorted(dcols)}"
    sn, dn = normalize(srows, scols), normalize(drows, dcols)
    if len(sn) != len(dn):
        return f"rowcount spark={len(sn)} duck={len(dn)}"
    for i, (sr, dr) in enumerate(zip(sn, dn)):
        if not all(values_equal(a, b) for a, b in zip(sr, dr)):
            return f"first diff at sorted row {i}:\n      spark: {sr}\n      duck : {dr}"
    return None


def run_parity(sf_dir: str, only=None, spark=None) -> list[str]:
    """Run the sweep; return the list of failing query names.

    Importable entry point so the same exact-compare gate runs as an
    opt-in pytest marker (tests/test_parity_sweep.py, ``-m parity``) —
    a refactor can't silently break an oracle between rounds.
    """
    only = set(only or ())
    specs = SPECS()
    unknown = only - set(specs)
    if unknown:
        # a renamed/removed catalog query must fail the gate, not
        # silently shrink the sweep to a vacuous green
        raise ValueError(f"unknown catalog queries in only=: {sorted(unknown)}")
    spark = spark or get_spark("parity-check")
    con = duck_con(sf_dir)
    failures = []
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        err = compare(spark, spec, sf_dir, con)
        if err:
            failures.append(name)
            print(f"FAIL  {name}: {err}")
        else:
            print(f"{'PASS' if spec.oracle else 'ok  '}  {name}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    return 1 if run_parity(sf_dir, only=sys.argv[2:]) else 0


if __name__ == "__main__":
    raise SystemExit(main())
