"""The three benchmark workloads and their output checks.

``tpch_analytics`` and ``neardup_corpus`` run catalog queries, each forced
with the ``noop`` write that ``bench.py`` uses. The write carries an
``Observation`` of the result's row count and an order-insensitive hash
(``fingerprint_exprs``), and after the timed region each op's observation
is compared with the fingerprint in ``expected.json``.

``dbt_dag`` runs a fixed eight-model project through ``Engine.run`` — one
full build, then incremental runs over seeded batches — followed by the
schema tests; after every run it checks the merge target's unique key and
that the snapshot holds exactly one open row per key.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from perfbench import gen

#: ``bench.py``'s HEADLINE set: TPC-H shapes plus the relational headliners
TPCH = [
    "flagship_revenue_by_nation", "pricing_summary", "top_orders",
    "order_priority_count", "customer_order_distribution",
    "q3_shipping_priority", "q5_local_supplier_volume", "q7_nation_volume",
    "q8_market_share", "q9_profit_by_nation_year", "q21_waiting_suppliers",
    "window_top_orders_per_customer", "window_running_total",
    "json_extract_events", "events_hourly", "region_nation_rollup",
]
#: near-duplicate detection; ext_exact_dedup is the control with no LSH
#: or clustering
NEARDUP = [
    "ext_minhash_lsh_pairs", "ext_dup_clusters", "ext_prefix_jaccard_join",
    "ext_ngram_dup_fraction", "ext_exact_dedup",
]
READ_WORKLOADS = {"tpch_analytics": TPCH, "neardup_corpus": NEARDUP}
#: untimed op that warms the JVM and the workload's tables during set-up
WARMUP = {"tpch_analytics": "order_priority_count", "neardup_corpus": "ext_exact_dedup"}


def fingerprint_exprs(df: DataFrame) -> list:
    """Row count and an order-insensitive hash of ``df``'s rows: the sum of
    per-row xxhash64 over every column, in column-name order, cast to
    string (doubles get ``+ 0.0`` so that -0.0 and 0.0 agree)."""
    canon = []
    for field in sorted(df.schema.fields, key=lambda f: f.name):
        col = F.col(f"`{field.name}`")
        if isinstance(field.dataType, (DoubleType, FloatType)):
            col = col + F.lit(0.0)
        canon.append(col.cast("string"))
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.xxhash64(*canon).cast("decimal(38,0)")), F.lit(0))
        .cast("string")
        .alias("hash"),
    ]


def pass_orders(names: list[str], seed: int, passes: int) -> list[list[str]]:
    """The seeded op order of every pass."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out


def run_reads(h, specs, spark, sf_dir: str, orders: list[list[str]], expected: dict | None) -> None:
    """Time every op, then check each op's observed fingerprint (unless
    ``expected`` is None)."""
    observed = []
    for order in orders:
        for name in order:
            with h.op(name) as rec:
                with h.span("plans.build"):
                    df = specs[name].fn(spark, sf_dir)
                obs = Observation()
                df = df.observe(obs, *fingerprint_exprs(df))
                with h.span("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()
                observed.append((rec, obs))
    for rec, obs in observed if expected is not None else ():
        want = expected.get(rec["name"])
        if rec["ok"] and (want is None or dict(obs.get) != want):
            rec["ok"] = False
            rec["error"] = f"fingerprint {dict(obs.get)} != expected {want}"


# -- dbt_dag ----------------------------------------------------------------

def _seed_csv() -> str:
    rows = [f"{i},NATION_{i},{gen.REGIONS[i % 5]}" for i in range(25)]
    return "n_nationkey,n_name,r_name\n" + "\n".join(rows)


def dbt_models():
    """The project. The view references models, never ``source()``: a view
    over a source fails with INVALID_TEMP_OBJ_REFERENCE, because sources
    are session temp views (a known engine gap, see NOTES.md)."""
    from dbt_glue_spark.engine import Model, ModelConfig

    money = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
    return [
        Model("nation_seed", seed_csv=_seed_csv(), config=ModelConfig(materialized="seed")),
        Model(
            "stg_customers",
            sql="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
            "FROM {{ source('raw_customers') }}",
        ),
        Model(
            "stg_orders",
            sql="SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "o_orderdate, CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS order_month, "
            "o_orderpriority "
            "FROM {{ source('raw_orders') }}",
        ),
        Model(
            "customer_nation",
            sql="SELECT c.c_custkey, c.c_mktsegment, s.n_name, s.r_name "
            "FROM {{ ref('stg_customers') }} c "
            "JOIN {{ ref('nation_seed') }} s ON c.c_nationkey = s.n_nationkey",
            config=ModelConfig(materialized="view"),
        ),
        Model(
            "fct_orders",
            sql="SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice, "
            "o.o_orderdate, o.order_month, o.o_orderpriority, cn.n_name, cn.r_name "
            "FROM {{ ref('stg_orders') }} o "
            "JOIN {{ ref('customer_nation') }} cn ON o.o_custkey = cn.c_custkey",
            config=ModelConfig(
                materialized="incremental", incremental_strategy="merge",
                unique_key=["o_orderkey"],
            ),
            tests={
                "o_orderkey": ["unique", "not_null"],
                "o_custkey": [{"relationships": {"to": "stg_customers", "field": "c_custkey"}}],
            },
        ),
        Model(
            # recomputes, from the merged facts, every month the batch touched
            "orders_monthly",
            sql=f"SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders, "
            f"{money} AS revenue, order_month FROM {{{{ ref('fct_orders') }}}} "
            "WHERE order_month IN (SELECT order_month FROM {{ ref('stg_orders') }}) "
            "GROUP BY order_month, o_orderpriority",
            config=ModelConfig(
                materialized="incremental", incremental_strategy="insert_overwrite",
                partition_by=["order_month"],
            ),
            tests={"order_month": ["not_null"]},
        ),
        Model(
            "customers_snapshot",
            sql="SELECT * FROM {{ ref('stg_customers') }}",
            config=ModelConfig(
                materialized="snapshot", strategy="check", unique_key=["c_custkey"],
                check_cols=["c_acctbal", "c_mktsegment"],
            ),
            tests={"dbt_scd_id": ["unique"]},
        ),
        Model(
            "revenue_by_nation",
            sql=f"SELECT n_name, r_name, CAST(COUNT(*) AS BIGINT) AS n_orders, "
            f"{money} AS revenue FROM {{{{ ref('fct_orders') }}}} GROUP BY n_name, r_name",
            tests={"n_name": ["unique", "not_null"]},
        ),
    ]


def _files(root: str) -> set[str]:
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs}


def run_dbt(h, spark, warehouse: str, schema: str, batches: list[dict]) -> dict:
    """Full build plus incremental runs into a fresh ``schema``; returns
    storage counters (files written, bytes ingested)."""
    from dbt_glue_spark.engine import Engine
    from dbt_glue_spark.sources.registry import register_sources

    clock = {"run": 0}
    engine = Engine(
        spark, warehouse, schema=schema,
        now=lambda: f"2030-01-01 00:{clock['run'] // 60:02d}:{clock['run'] % 60:02d}",
    )
    for model in dbt_models():
        engine.add(model)
    built = {}
    model_run = engine.run_model

    def timed_model(model):
        with h.op(model.name) as rec:
            built[model.name] = rec
            return model_run(model)
        return None

    engine.run_model = timed_model  # Engine.run calls self.run_model per model
    files, ingested, before = 0, 0, _files(warehouse)
    for k, batch in enumerate(batches):
        clock["run"] = k
        ingested += batch["bytes"]
        with h.step("sources"):
            register_sources(spark, batch["dir"], tables=("raw_orders", "raw_customers"))
        engine.run(threads=1)
        with h.op("schema_tests") as rec:
            report = engine.test()
            bad = [tuple(r) for r in report.filter("NOT passed").collect()]
            if bad:
                rec["ok"], rec["error"] = False, f"failing schema tests: {bad}"
        _check_dbt_run(spark, engine, built, batch["expect"])
        after = _files(warehouse)
        files += len(after - before)
        before = after
    return {"files_written": files, "ingested_b": ingested}


def _check_dbt_run(spark, engine, built: dict, expect: dict) -> None:
    """Invariants after one dbt run; a violation marks the model's op wrong."""
    def table(name: str) -> str:
        return engine.relation_for(name).render()

    def merge_keys() -> str | None:
        rows, keys = spark.sql(
            f"SELECT COUNT(*), COUNT(DISTINCT o_orderkey) FROM {table('fct_orders')}"
        ).first()
        if rows == keys == expect["fct_rows"]:
            return None
        return f"merge target rows={rows} keys={keys}, expected {expect['fct_rows']}"

    def snapshot_open_rows() -> str | None:
        total, open_rows, open_keys = spark.sql(
            "SELECT COUNT(*), COUNT_IF(dbt_valid_to IS NULL), COUNT(DISTINCT CASE "
            "WHEN dbt_valid_to IS NULL THEN c_custkey END) "
            f"FROM {table('customers_snapshot')}"
        ).first()
        if open_rows == open_keys == expect["customers"] and total == expect["snapshot_rows"]:
            return None
        return (
            f"snapshot rows={total} open={open_rows} open_keys={open_keys}, expected "
            f"{expect['snapshot_rows']} rows, one open row for each of {expect['customers']} keys"
        )

    def monthly_totals() -> str | None:
        n = spark.sql(f"SELECT SUM(n_orders) FROM {table('orders_monthly')}").first()[0]
        return None if n == expect["fct_rows"] else f"monthly orders sum to {n}"

    for model, check in (
        ("fct_orders", merge_keys),
        ("customers_snapshot", snapshot_open_rows),
        ("orders_monthly", monthly_totals),
    ):
        try:
            msg = check()
        except Exception as exc:  # noqa: BLE001 — a missing table is a failed check
            msg = f"check raised {type(exc).__name__}: {exc}"[:300]
        rec = built.get(model)
        if msg and rec is not None and rec["ok"]:
            rec["ok"], rec["error"] = False, msg
