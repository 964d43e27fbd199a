"""``Engine.test``: one Spark action per test pass, and a report that runs no
job. A small project with passing and failing tests of all four generic
kinds; every count is checked against a per-test ``.count()`` of the
``quality.tests`` operators it is defined by.
"""

from __future__ import annotations

import shutil
import tempfile
import time
import uuid

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dbt_glue_spark.engine import Engine, Model, run_tests
from dbt_glue_spark.quality import tests as dq

REPORT_SCHEMA = StructType(
    [StructField(c, StringType(), True) for c in ("model", "column", "test")]
    + [StructField("n_failures", LongType(), True), StructField("passed", BooleanType(), True)]
)
PLAIN = "plain_dim_keys"

DIM_SQL = (
    "select * from values (1, 'a', 0), (2, 'b', 1), (3, 'a', 2), (4, null, 1), "
    "(4, 'c', 5), (null, 'a', 0), (null, 'b', 1) as t(id, cat, code)"
)
FACT_SQL = "select * from values (10, 1), (11, 4), (12, 9), (13, null), (14, 9) as t(fid, dim_id)"
DIM_TESTS = {
    # 4 and the NULL group are duplicated; two NULL ids
    "id": ["unique", "not_null"],
    "cat": [{"accepted_values": {"values": ["a", "b"]}}, "not_null"],
    "code": [{"accepted_values": {"values": [0, 1], "quote": False}}, "not_null"],
}
FACT_TESTS = {
    "fid": ["unique"],
    "dim_id": [
        {"relationships": {"to": "dim", "field": "id"}},
        {"relationships": {"to": PLAIN, "field": "k"}},
    ],
}
# (model, column, test) → failures, in declaration order
EXPECTED = [
    ("dim", "id", "unique", 2),
    ("dim", "id", "not_null", 2),
    ("dim", "cat", "accepted_values", 1),
    ("dim", "cat", "not_null", 1),
    ("dim", "code", "accepted_values", 2),
    ("dim", "code", "not_null", 0),
    ("fact", "fid", "unique", 0),
    ("fact", "dim_id", "relationships", 1),
    ("fact", "dim_id", "relationships", 0),
]


@pytest.fixture(scope="module")
def project(spark):
    warehouse = tempfile.mkdtemp(prefix="dgs_wh_")
    schema = f"stp_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse, schema=schema)
    eng.add(Model("dim", sql=DIM_SQL, tests=DIM_TESTS))
    eng.add(Model("fact", sql=FACT_SQL, tests=FACT_TESTS))
    eng.add(Model("untested", sql="select 1 as x"))
    eng.run()
    spark.sql("select * from values (1), (4), (9) as t(k)").createOrReplaceTempView(PLAIN)
    yield eng
    spark.catalog.dropTempView(PLAIN)
    eng.catalog.drop_schema(f"{schema}_dbt_test__audit")
    eng.catalog.drop_schema(schema)
    shutil.rmtree(warehouse, ignore_errors=True)


def operator_counts(eng: Engine, names: list[str]) -> list[tuple]:
    """(model, column, test, n_failures, passed) per test, one ``.count()``
    of its ``quality.tests`` operator each."""
    rows = []
    for name in names:
        df = eng.ref_df(name)
        for column, specs in eng.models[name].tests.items():
            for spec in specs:
                if spec in ("unique", "not_null"):
                    label, fails = spec, getattr(dq, spec)(df, column)
                elif "accepted_values" in spec:
                    cfg = spec["accepted_values"]
                    label = "accepted_values"
                    fails = dq.accepted_values(df, column, cfg["values"], cfg.get("quote", True))
                else:
                    cfg = spec["relationships"]
                    to = cfg["to"]
                    parent = eng.ref_df(to) if to in eng.models else eng.spark.table(to)
                    label = "relationships"
                    fails = dq.relationships(df, column, parent, cfg["field"])
                n = fails.count()
                rows.append((name, column, label, n, n == 0))
    return rows


def jobs_run(spark, fn):
    """(fn's result, Spark jobs it submitted), read from the status tracker
    under a fresh job group. The tracker fills from the listener bus, so a
    one-job sentinel in a second group is awaited first: once it shows,
    every earlier job's start event has been processed."""
    sc = spark.sparkContext
    group = f"stp_{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(f"{group}_end", group)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(f"{group}_end"):
        assert time.time() < deadline, "sentinel job never reached the status tracker"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def test_report_equals_per_test_operator_counts(project):
    report = project.test()
    assert report.schema == REPORT_SCHEMA
    rows = [tuple(r) for r in report.collect()]
    assert rows == operator_counts(project, ["dim", "fact"])
    assert rows == [(*t, n, n == 0) for *t, n in EXPECTED]


def test_names_subset_keeps_order_and_counts(project):
    for names in (["fact"], ["fact", "dim"], ["untested", "dim"]):
        tested = [n for n in names if project.models[n].tests]
        assert [tuple(r) for r in project.test(names).collect()] == operator_counts(
            project, tested
        )


def test_run_tests_matches_engine_test(project):
    res = run_tests(
        project,
        "dim",
        [
            ("unique", {"column": "id"}),
            ("not_null", {"column": "cat"}),
            ("accepted_values", {"column": "code", "values": [0, 1], "quote": False}),
        ],
    )
    assert res == {"unique:id": 2, "not_null:cat": 1, "accepted_values:code": 2}
    res = run_tests(
        project, "fact", [("relationships", {"column": "dim_id", "to": "dim", "field": "id"})]
    )
    assert res == {"relationships:dim_id": 1}


def test_reading_the_report_runs_no_job(spark, project):
    report = project.test()
    _, jobs = jobs_run(
        spark,
        lambda: (report.collect(), report.collect(), report.filter("NOT passed").collect()),
    )
    assert jobs == 0
    assert len(report.filter("NOT passed").collect()) == sum(1 for *_, n in EXPECTED if n)


def test_no_tests_selected_runs_no_job(spark, project):
    def run():
        report = project.test(["untested"])
        return report.schema, report.collect()

    (schema, rows), jobs = jobs_run(spark, run)
    assert jobs == 0
    assert schema == REPORT_SCHEMA
    assert rows == []


def test_unknown_spec_raises_before_any_job(spark, project):
    def run(fn):
        with pytest.raises(ValueError, match="unknown test spec"):
            fn()

    project.add(Model("bad", sql="select 1 as x", tests={"x": ["unique", {"positive": {}}]}))
    try:
        project.run(["bad"])
        _, jobs = jobs_run(spark, lambda: run(lambda: project.test(["dim", "bad"])))
    finally:
        del project.models["bad"]
    assert jobs == 0
    bad = [("unique", {"column": "id"}), ("positive", {"column": "id"})]
    _, jobs = jobs_run(spark, lambda: run(lambda: run_tests(project, "dim", bad)))
    assert jobs == 0


def test_store_failures_materializes_only_failing_tests(spark, project):
    report = project.test(store_failures=True)
    failing = {f"{m}__{c}__{t}": n for m, c, t, n, _ in report.collect() if n}
    audit_schema = f"{project.schema}_dbt_test__audit"
    stored = {t.name for t in spark.catalog.listTables(audit_schema) if not t.isTemporary}
    assert stored == set(failing)
    for table, n in failing.items():
        assert spark.table(f"`{audit_schema}`.`{table}`").count() == n


def test_unit_test_drops_mock_views_on_error(spark, project):
    project.add(Model("ut_model", sql="select missing_col from {{ ref('dim') }}"))
    try:
        with pytest.raises(AnalysisException, match="missing_col"):
            project.unit_test(
                "ut_model",
                given={"dim": ([(1, "a", 0)], "id int, cat string, code int")},
                expect=([(1,)], "missing_col int"),
            )
    finally:
        del project.models["ut_model"]
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("__ut_")]
