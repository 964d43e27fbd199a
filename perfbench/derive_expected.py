"""Derive ``expected.json``: the fingerprint of every read op's output,
taken from the catalog's DuckDB oracle on the generated inputs.

    python3 perfbench/derive_expected.py [SF ...]      (default: 0.02 0.001)

For each scale factor it generates the tables, requires the exact
Spark-versus-oracle compare of ``tools/check_parity.py`` to pass on the
benchmark's queries, then loads each query's oracle rows into Spark under
the query's own result schema and fingerprints them with the expressions
the benchmark observes on every op. Run it again whenever the generator or
a benchmarked query's oracle changes.
"""

from __future__ import annotations

import decimal
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql.types import (  # noqa: E402
    ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType,
)

from dbt_glue_spark.plans.catalog import SPECS  # noqa: E402
from dbt_glue_spark.session import get_spark  # noqa: E402
from perfbench import gen, workloads  # noqa: E402
from tools.check_parity import duck_con, run_parity  # noqa: E402

NAMES = workloads.TPCH + workloads.NEARDUP


def _spark_value(v, dtype):
    if v is None:
        return None
    if isinstance(dtype, DecimalType):
        return decimal.Decimal(str(v)) if isinstance(v, float) else decimal.Decimal(v)
    if isinstance(dtype, (DoubleType, FloatType)):
        return float(v)
    if isinstance(dtype, (LongType, IntegerType, ShortType, ByteType)):
        return int(v)
    return v


def fingerprints(spark, sf_dir: str) -> dict:
    failures = run_parity(sf_dir, only=NAMES, spark=spark)
    if failures:
        raise SystemExit(f"oracle parity fails on {failures}")
    con = duck_con(sf_dir)
    specs = SPECS()
    out = {}
    for name in NAMES:
        df = specs[name].fn(spark, sf_dir)
        rel = con.sql(specs[name].oracle)
        pos = {c: i for i, c in enumerate(rel.columns)}
        rows = [
            tuple(_spark_value(r[pos[f.name]], f.dataType) for f in df.schema.fields)
            for r in rel.fetchall()
        ]
        oracle = spark.createDataFrame(rows, df.schema)
        want = oracle.agg(*workloads.fingerprint_exprs(oracle)).first().asDict()
        got = df.agg(*workloads.fingerprint_exprs(df)).first().asDict()
        if want != got:
            raise SystemExit(f"{name}: oracle fingerprint {want} != Spark's {got}")
        out[name] = want
        print(f"{name}: {want}")
    return out


def main(argv: list[str]) -> None:
    spark = get_spark("perfbench-derive")
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
    with open(path) as fh:
        expected = json.load(fh)
    for sf in argv or ["0.02", "0.001"]:
        tmp = tempfile.mkdtemp(prefix="perfbench-derive-")
        try:
            gen.write_tables(tmp, float(sf))
            expected[str(float(sf))] = fingerprints(spark, tmp)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main(sys.argv[1:])
