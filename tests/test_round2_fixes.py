"""Round-2 regression tests for the advisor-flagged defects:

1. custom_location models get versioned generations (no in-place
   overwrite; DML on a custom-location table is safe; time travel works).
2. snapshot timestamp strategy NULL-guards the changed predicate (a NULL
   updated_at must mean "unchanged", not "silently delete history").
3. _write_swap commits write-then-repoint: a failed write leaves the old
   table fully intact and queryable.
4. partial-update MERGE raises on source cardinality violations instead of
   silently fanning out duplicates; dedup_source_on opts out.
5. dedup operators register their caches; release_caches() frees them.
6. delete_rows/update_rows return correct counts from the single-pass
   observed rewrite.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from dbt_glue_spark.engine import Engine, Model, ModelConfig


@pytest.fixture()
def engine(spark, warehouse):
    schema = f"r2_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse, schema=schema)
    yield eng
    eng.catalog.drop_schema(schema)


def test_custom_location_versioned_rewrites(engine, warehouse, spark):
    custom = os.path.join(warehouse, "custom_spot", "mytbl")
    m = Model(
        "cust",
        sql="select id, id * 2 as v from range(10)",
        config=ModelConfig(custom_location=custom, auto_vacuum=False),
    )
    engine.add(m)
    engine.run(["cust"])
    v1 = engine.versions("cust")
    assert len(v1) == 1
    # rewrite (self-read into _write_swap) — previously corrupted the
    # single unversioned custom dir; now lands a second generation
    deleted = engine.delete_rows("cust", "id >= 5")
    assert deleted == 5
    assert engine.ref_df("cust").count() == 5
    v2 = engine.versions("cust")
    assert len(v2) == 2
    # time travel sees the pre-delete generation at the custom location
    old = engine.read_version("cust", v2[-1])
    assert old.count() == 10
    # the physical dirs are versioned siblings of the configured path
    parent = os.path.dirname(custom)
    gens = [d for d in os.listdir(parent) if d.startswith("mytbl__v")]
    assert len(gens) == 2


def test_custom_location_auto_vacuum(engine, warehouse):
    custom = os.path.join(warehouse, "custom_spot2", "vactbl")
    m = Model(
        "vac",
        sql="select id from range(4)",
        config=ModelConfig(custom_location=custom, auto_vacuum=True),
    )
    engine.add(m)
    engine.run(["vac"])
    engine.update_rows("vac", {"id": "id + 100"}, "id = 1")
    parent = os.path.dirname(custom)
    gens = [d for d in os.listdir(parent) if d.startswith("vactbl__v")]
    assert len(gens) == 1  # superseded custom-location generation vacuumed
    assert engine.ref_df("vac").filter("id = 101").count() == 1


def test_snapshot_timestamp_null_updated_at_keeps_history(engine, spark):
    spark.createDataFrame(
        [(1, "a@x", "2024-01-01 00:00:00"), (2, "b@x", "2024-01-01 00:00:00")],
        "id int, email string, updated_at string",
    ).createOrReplaceTempView("snap_src_r2")
    snap = Model(
        "snap_null_ts",
        sql="select id, email, cast(updated_at as timestamp) as updated_at from snap_src_r2",
        config=ModelConfig(
            materialized="snapshot",
            unique_key=["id"],
            strategy="timestamp",
            updated_at="updated_at",
        ),
    )
    engine.add(snap)
    engine.run(["snap_null_ts"])
    assert engine.ref_df("snap_null_ts").count() == 2
    # second run: id=1 now has NULL updated_at — comparison is SQL NULL;
    # the open row must survive unchanged (reference MERGE leaves the
    # target row untouched), not vanish from the snapshot
    spark.createDataFrame(
        [(1, "a@x", None), (2, "b@x", "2024-01-01 00:00:00")],
        "id int, email string, updated_at string",
    ).createOrReplaceTempView("snap_src_r2")
    engine.run_model(snap)
    out = engine.ref_df("snap_null_ts")
    assert out.count() == 2
    assert out.filter("id = 1 and dbt_valid_to is null").count() == 1


def test_failed_write_leaves_old_table_intact(engine, spark):
    m = Model("fragile", sql="select id, 'ok' as tag from range(5)")
    engine.add(m)
    engine.run(["fragile"])
    assert engine.ref_df("fragile").count() == 5
    # next build's job fails mid-write (assert_true trips per-row)
    m.sql = "select id, assert_true(id < 2) as boom from range(5)"
    with pytest.raises(Exception):
        engine.run_model(m)
    # old table survives the failed rewrite: still listed, still queryable
    out = engine.ref_df("fragile")
    assert out.count() == 5
    assert out.columns == ["id", "tag"]


def test_merge_cardinality_violation_raises(spark):
    from dbt_glue_spark.operators.merge import merge_upsert

    tgt = spark.createDataFrame([(1, "t1", 0), (2, "t2", 0)], "id int, v string, n int")
    dup_src = spark.createDataFrame(
        [(1, "s1", 1), (1, "s1b", 2), (3, "s3", 3)], "id int, v string, n int"
    )
    out = merge_upsert(tgt, dup_src, ["id"], update_columns=["v"])
    with pytest.raises(Exception, match="[Cc]ardinality|MERGE"):
        out.collect()
    # dedup_source_on picks the latest-wins row — no error, no fan-out
    ok = merge_upsert(tgt, dup_src, ["id"], update_columns=["v"], dedup_source_on="n")
    rows = {r["id"]: r["v"] for r in ok.collect()}
    assert rows == {1: "s1b", 2: "t2", 3: "s3"}


def test_merge_unique_source_still_clean(spark):
    from dbt_glue_spark.operators.merge import merge_upsert

    tgt = spark.createDataFrame([(1, "t1"), (2, "t2")], "id int, v string")
    src = spark.createDataFrame([(2, "s2"), (3, "s3")], "id int, v string")
    out = merge_upsert(tgt, src, ["id"], update_columns=["v"])
    assert {r["id"]: r["v"] for r in out.collect()} == {1: "t1", 2: "s2", 3: "s3"}


def _persistent_rdd_ids(spark):
    # java map id -> JavaRDD; ids survive as a set even while the
    # ContextCleaner concurrently drops OTHER tests' unreferenced caches
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_release_caches_frees_persisted_intermediates(spark):
    # Absolute getPersistentRDDs().size() comparisons are flaky in the
    # shared session (foreign caches can be cleaned between the before
    # and after reads, r9 verdict "What's wrong #1") — assert on the SET
    # DIFFERENCE of persistent-RDD ids instead: a new id appears after
    # exact_dedup, and exactly those ids are gone after release_caches.
    from dbt_glue_spark.extensions import dedup

    df = spark.createDataFrame(
        [(i, f"doc text number {i % 3}") for i in range(30)], "doc_id int, text string"
    )
    dedup.release_caches()  # drain registry entries left by earlier tests
    before_ids = _persistent_rdd_ids(spark)
    deduped = dedup.exact_dedup(df)
    assert deduped.count() == 3
    new_ids = _persistent_rdd_ids(spark) - before_ids
    assert new_ids  # dedup's persisted intermediate is pinned by the registry
    released = dedup.release_caches()
    assert released >= 1
    assert not (new_ids & _persistent_rdd_ids(spark)), new_ids


def test_evolve_partitioning_relays_out_and_prunes(engine, spark):
    m = Model(
        "evo",
        sql="select id, cast(id % 4 as int) as g, cast(id % 2 as int) as h from range(40)",
        config=ModelConfig(partition_by=["g"], auto_vacuum=False),
    )
    engine.add(m)
    engine.run(["evo"])
    res = engine.evolve_partitioning("evo", ["h"])
    assert res == {"previous": ["g"], "current": ["h"]}
    df = engine.ref_df("evo").filter("h = 1")
    # new generation is physically laid out by the new key and pruned scans
    # touch only the matching partition directory
    files = df.inputFiles()
    assert files and all("h=1" in f for f in files), files
    assert df.count() == 20
    # old generation (old layout) is still retained for time travel
    vs = engine.versions("evo")
    assert len(vs) == 2
    assert engine.read_version("evo", vs[-1]).count() == 40


def test_check_constraints_enforced_on_write(engine):
    m = Model(
        "checked",
        sql="select id, cast(id * 10 as int) as amount from range(5)",
        config=ModelConfig(check_constraints=["amount >= 0", "id < 100"]),
    )
    engine.add(m)
    engine.run(["checked"])  # all rows satisfy → builds
    assert engine.ref_df("checked").count() == 5
    # violating rewrite fails mid-job AND the old generation survives
    m.sql = "select id, cast(id - 3 as int) as amount from range(5)"
    with pytest.raises(Exception, match="CHECK constraint"):
        engine.run_model(m)
    assert engine.ref_df("checked").count() == 5
    assert engine.ref_df("checked").filter("amount < 0").count() == 0
    # NULL predicate passes (SQL CHECK semantics)
    m.sql = "select id, cast(null as int) as amount from range(5)"
    engine.run_model(m)
    assert engine.ref_df("checked").count() == 5


def test_shallow_clone_pins_generation(engine):
    m = Model(
        "src_tbl",
        sql="select id, cast(id as int) as v from range(6)",
        config=ModelConfig(auto_vacuum=False),
    )
    engine.add(m)
    engine.run(["src_tbl"])
    clone = engine.clone_table("src_tbl", "src_tbl_snap")
    # source moves ahead; the clone stays on the cloned generation
    assert engine.update_rows("src_tbl", {"v": "v + 100"}, "id >= 0") == 6
    assert engine.ref_df("src_tbl").agg(F.min("v")).collect()[0][0] == 100
    snap = engine.spark.table(clone.render())
    assert snap.count() == 6
    assert snap.agg(F.max("v")).collect()[0][0] == 5  # pre-update values
    # vacuum-enabled sources refuse to clone (would dangle)
    m2 = Model("vac_src", sql="select 1 as a")
    engine.add(m2)
    engine.run(["vac_src"])
    with pytest.raises(ValueError, match="auto_vacuum"):
        engine.clone_table("vac_src", "nope")


def test_commit_history_describes_writes(engine):
    m = Model(
        "hist",
        sql="select id, cast(id as int) as v from range(10)",
        config=ModelConfig(auto_vacuum=False),
    )
    engine.add(m)
    engine.run(["hist"])
    engine.update_rows("hist", {"v": "v + 1"}, "id < 3")
    engine.delete_rows("hist", "id >= 8")
    engine.compact("hist")
    h = engine.history("hist")
    assert [e["op"] for e in h] == ["OPTIMIZE", "DELETE", "UPDATE", "CREATE TABLE AS"]
    assert [e["rows"] for e in h] == [8, 8, 10, 10]  # rows written per commit
    assert all(e["retained"] for e in h)  # auto_vacuum off → all generations live
    assert h[0]["version"] == engine.versions("hist")[0]
    # vacuum-enabled models keep full history but only the newest data dir
    m2 = Model("hist2", sql="select 1 as a")
    engine.add(m2)
    engine.run(["hist2"])
    engine.update_rows("hist2", {"a": "2"}, "a = 1")
    h2 = engine.history("hist2")
    assert len(h2) == 2
    assert h2[0]["retained"] and not h2[1]["retained"]


def test_restore_rolls_back_to_retained_generation(engine):
    m = Model(
        "rest",
        sql="select id, cast(id as int) as v from range(5)",
        config=ModelConfig(auto_vacuum=False),
    )
    engine.add(m)
    engine.run(["rest"])
    v0 = engine.versions("rest")[0]
    engine.update_rows("rest", {"v": "v * 100"}, "id >= 0")
    assert engine.ref_df("rest").agg(F.max("v")).collect()[0][0] == 400
    engine.restore("rest", v0)
    # catalog now points at the pre-update generation, data unchanged
    assert engine.ref_df("rest").agg(F.max("v")).collect()[0][0] == 4
    assert engine.history("rest")[0]["op"] == f"RESTORE v{v0}"
    with pytest.raises(KeyError):
        engine.restore("rest", 123)
    # a later rewrite moves forward normally from the restored state
    assert engine.delete_rows("rest", "id = 0") == 1
    assert engine.ref_df("rest").count() == 4


def test_store_failures_materializes_audit_tables(engine, spark):
    m = Model(
        "sf_model",
        sql="select id, case when id = 2 then null else cast(id % 2 as int) end as flag from range(6)",
        tests={"flag": ["not_null", {"accepted_values": {"values": [0], "quote": False}}]},
    )
    engine.add(m)
    engine.run(["sf_model"])
    report = engine.test(store_failures=True)
    rows = {r["test"]: r["n_failures"] for r in report.collect()}
    assert rows["not_null"] == 1  # id 2
    # accepted_values reports one row per offending VALUE (dbt grouped
    # form): the single disallowed value 1 (NULLs excluded by isin)
    assert rows["accepted_values"] == 1
    audit_schema = f"{engine.schema}_dbt_test__audit"
    audit = spark.table(f"`{audit_schema}`.`sf_model__flag__not_null`")
    assert audit.count() == 1
    av = spark.table(f"`{audit_schema}`.`sf_model__flag__accepted_values`")
    assert av.count() == rows["accepted_values"]
    engine.catalog.drop_schema(audit_schema)


def test_unit_test_runs_model_on_mocked_inputs(engine):
    engine.add(Model("stg_orders", sql="select 1 as id"))  # never built
    engine.add(
        Model(
            "order_totals",
            sql=(
                "select customer, sum(amount) as total "
                "from {{ ref('stg_orders') }} group by customer"
            ),
        )
    )
    res = engine.unit_test(
        "order_totals",
        given={
            "stg_orders": (
                [("a", 10), ("a", 5), ("b", 7)],
                "customer string, amount int",
            )
        },
        expect=([("a", 15), ("b", 7)], "customer string, total bigint"),
    )
    assert res["passed"], res
    bad = engine.unit_test(
        "order_totals",
        given={"stg_orders": ([("a", 1)], "customer string, amount int")},
        expect=([("a", 2)], "customer string, total bigint"),
    )
    assert not bad["passed"]
    assert bad["actual"] == [("a", 1)] and bad["expected"] == [("a", 2)]


def test_unit_test_inlines_ephemeral_deps(engine):
    """A unit test compiles the model like ``compile()`` does: an
    unmocked ephemeral dep is inlined, and mocks apply inside it."""
    engine.add(Model("ut_raw", sql="select 1 as id"))  # never built
    engine.add(
        Model(
            "ut_eph",
            sql="select id from {{ ref('ut_raw') }} where id > 1",
            config=ModelConfig(materialized="ephemeral"),
        )
    )
    engine.add(Model("ut_top", sql="select id from {{ ref('ut_eph') }}"))
    res = engine.unit_test(
        "ut_top",
        given={"ut_raw": ([(1,), (2,), (3,)], "id int")},
        expect=([(2,), (3,)], "id int"),
    )
    assert res["passed"], res


def test_run_select_by_tag(engine):
    engine.add(Model("tagged_a", sql="select 1 as x", tags=["nightly"]))
    engine.add(
        Model(
            "tagged_b",
            sql="select x + 1 as y from {{ ref('tagged_a') }}",
            tags=["nightly"],
        )
    )
    engine.add(Model("untagged", sql="select 99 as z"))
    engine.run(select="tag:nightly")
    assert engine.ref_df("tagged_b").collect()[0]["y"] == 2
    import pytest as _pt

    with _pt.raises(Exception):
        engine.ref_df("untagged").collect()  # not selected, never built
    with _pt.raises(KeyError):
        engine.run(select="tag:nope")


def test_dml_counts_single_pass(engine):
    m = Model("dmltbl", sql="select id, cast(id % 3 as int) as g from range(12)")
    engine.add(m)
    engine.run(["dmltbl"])
    assert engine.update_rows("dmltbl", {"g": "g + 10"}, "id < 4") == 4
    assert engine.delete_rows("dmltbl", "g >= 10") == 4
    assert engine.ref_df("dmltbl").count() == 8
    # NULL predicate rows: kept by DELETE, untouched by UPDATE
    m2 = Model("dmlnull", sql="select id, cast(null as int) as x from range(3)")
    engine.add(m2)
    engine.run(["dmlnull"])
    assert engine.delete_rows("dmlnull", "x > 0") == 0
    assert engine.ref_df("dmlnull").count() == 3


def test_analyze_table_and_column_stats(engine):
    m = Model(
        "stats_tbl",
        sql="select id, cast(id % 5 as int) as g, "
        "case when id = 7 then null else concat('u', id) end as label "
        "from range(50)",
    )
    engine.add(m)
    engine.run(["stats_tbl"])
    stats = engine.analyze_table("stats_tbl", columns=["id", "g", "label"])
    assert stats["rows"] == 50
    assert stats["bytes"] > 0
    cs = engine.column_stats("stats_tbl", "g")
    assert cs["distinct_count"] == 5
    assert cs["num_nulls"] == 0
    assert cs["min"] == 0 and cs["max"] == 4
    cl = engine.column_stats("stats_tbl", "label")
    assert cl["num_nulls"] == 1


def test_profile_columns_matches_exact_aggregates(spark):
    from dbt_glue_spark.quality.profile import profile_columns

    df = spark.range(0, 100).selectExpr(
        "id", "case when id % 10 = 0 then null else cast(id as double) end as v"
    )
    rows = {r.col_name: r for r in profile_columns(df, ["id", "v"]).collect()}
    assert rows["id"].n_rows == 100 and rows["id"].n_nulls == 0
    assert rows["id"].n_distinct == 100
    assert rows["id"].min_value == 0.0 and rows["id"].max_value == 99.0
    assert rows["v"].n_nulls == 10 and rows["v"].n_distinct == 90
