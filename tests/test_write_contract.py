"""The write contract holds for every engine table write.

In-place incremental writes (``append``, partitioned ``insert_overwrite``)
go through the same ``Engine._write_swap`` as the rewriting ones, so they
enforce the model's CHECK constraints, log one commit-history entry naming
the generation the rows landed in, and regenerate the Athena manifest.
"""

from __future__ import annotations

import os
import uuid
from urllib.parse import urlparse

import pytest

from dbt_glue_spark.engine import Engine, Model, ModelConfig


@pytest.fixture()
def engine(spark, warehouse):
    schema = f"wc_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse, schema=schema)
    yield eng
    eng.catalog.drop_schema(schema)


def _source(spark, name: str, rows: str) -> None:
    """(id, amount, p) rows from a VALUES list, as temp view ``name``."""
    spark.sql(
        f"SELECT CAST(id AS BIGINT) id, CAST(amount AS INT) amount, CAST(p AS INT) p "
        f"FROM VALUES {rows} AS t(id, amount, p)"
    ).createOrReplaceTempView(name)


def _incremental(engine, strategy: str, **cfg) -> Model:
    src = f"src_{engine.schema}"
    m = Model(
        f"inc_{strategy}",
        sql=f"SELECT id, amount, p FROM {{{{ source('{src}') }}}}",
        config=ModelConfig(
            materialized="incremental",
            incremental_strategy=strategy,
            partition_by=["p"] if strategy == "insert_overwrite" else [],
            **cfg,
        ),
    )
    engine.add(m)
    return m


def _rows(engine, name: str) -> list[tuple]:
    return sorted(tuple(r) for r in engine.ref_df(name).collect())


@pytest.mark.parametrize("strategy", ["append", "insert_overwrite"])
def test_in_place_write_enforces_check_constraints(spark, engine, strategy):
    m = _incremental(engine, strategy, check_constraints=["amount >= 0"])
    src = f"src_{engine.schema}"
    _source(spark, src, "(1, 10, 0), (2, 20, 1)")
    engine.run_model(m)
    before = _rows(engine, m.name)
    # one violating row fails the whole batch, and nothing lands
    _source(spark, src, "(3, 30, 1), (4, -1, 2)")
    with pytest.raises(Exception, match="CHECK constraint"):
        engine.run_model(m)
    assert _rows(engine, m.name) == before
    # a NULL predicate passes (SQL CHECK semantics)
    _source(spark, src, "(5, NULL, 2)")
    engine.run_model(m)
    assert _rows(engine, m.name) == sorted(before + [(5, None, 2)])


def test_in_place_writes_are_in_history(spark, engine):
    src = f"src_{engine.schema}"
    app = _incremental(engine, "append")
    ovw = _incremental(engine, "insert_overwrite")
    _source(spark, src, "(1, 10, 0), (2, 20, 1)")
    engine.run_model(app)
    engine.run_model(ovw)
    _source(spark, src, "(3, 30, 1), (4, 40, 2), (5, 50, 2)")
    engine.run_model(app)
    engine.run_model(ovw)
    _source(spark, src, "(6, 60, 2)")
    engine.run_model(app)
    h = engine.history(app.name)
    assert [(e["op"], e["rows"]) for e in h] == [
        ("APPEND", 1), ("APPEND", 3), ("CREATE TABLE AS", 2),
    ]
    # an in-place commit names the generation its rows landed in
    assert all(e["retained"] for e in h)
    assert {e["version"] for e in h} == set(engine.versions(app.name))
    assert [(e["op"], e["rows"]) for e in engine.history(ovw.name)] == [
        ("INSERT OVERWRITE", 3), ("CREATE TABLE AS", 2),
    ]
    # p=1 replaced, p=2 added, p=0 untouched
    assert _rows(engine, ovw.name) == [(1, 10, 0), (3, 30, 1), (4, 40, 2), (5, 50, 2)]


def test_manifest_lists_every_file_after_append(spark, engine):
    m = _incremental(engine, "append", athena_manifest=True)
    src = f"src_{engine.schema}"
    _source(spark, src, "(1, 10, 0), (2, 20, 1)")
    engine.run_model(m)
    built = set(engine.ref_df(m.name).inputFiles())
    _source(spark, src, "(3, 30, 1), (4, 40, 2)")
    engine.run_model(m)
    files = sorted(engine.ref_df(m.name).inputFiles())
    assert built < set(files)  # the append's files as well as the build's
    root = engine.catalog.location(engine.relation_for(m.name))
    manifest = os.path.join(urlparse(root).path, "_symlink_format_manifest", "manifest")
    with open(manifest) as fh:
        assert sorted(fh.read().split()) == files


def test_stats_on_a_column_that_needs_quoting(engine):
    m = Model("stats_q", sql="SELECT id, CAST(id % 3 AS INT) AS `n-items` FROM range(12)")
    engine.add(m)
    engine.run_model(m)
    assert engine.analyze_table("stats_q", columns=["n-items"])["rows"] == 12
    cs = engine.column_stats("stats_q", "n-items")
    assert cs["distinct_count"] == 3
    assert cs["min"] == 0 and cs["max"] == 2
