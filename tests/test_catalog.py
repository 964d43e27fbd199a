"""The catalog's name set and its one registration path."""

from __future__ import annotations

import ast
import glob
import os

import pytest

from dbt_glue_spark.plans.catalog import SPECS, register

MANIFEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_names.txt")


def test_catalog_names_match_manifest():
    """Adding, renaming or dropping a catalog query is deliberate: the
    same change updates tests/catalog_names.txt (one name per line,
    sorted)."""
    with open(MANIFEST) as fh:
        want = fh.read().split()
    assert sorted(SPECS()) == want


def test_register_rejects_duplicate_name():
    name, spec = next(iter(SPECS().items()))
    with pytest.raises(ValueError, match="already registered"):
        register(name, None)(lambda spark, sf_dir: None)
    assert SPECS()[name] is spec


def test_streaming_specs_go_through_the_runner():
    """Waiting for a query, staging its files and scoping the state-store
    partitioning belong to plans/streams.py, which fails loud on a
    timeout and cleans up after itself; a plan that hand-rolls any of
    them regrows the silent-partial-answer path. (The batch
    materialization specs' warehouse dirs are not stream staging, so
    ``mkdtemp`` is held against the ``streaming_*`` specs only.)"""
    plans = os.path.join(os.path.dirname(MANIFEST), "..", "dbt_glue_spark", "plans")
    offenders = []
    for path in sorted(glob.glob(os.path.join(plans, "*.py"))):
        if os.path.basename(path) == "streams.py":
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for c in ast.walk(fn):
                if not (isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)):
                    continue
                what = c.func.attr
                if (
                    what == "awaitTermination"
                    or (what == "mkdtemp" and fn.name.startswith("streaming_"))
                    or (
                        what == "set"
                        and c.args
                        and getattr(c.args[0], "value", None)
                        == "spark.sql.shuffle.partitions"
                    )
                ):
                    where = f"{os.path.basename(path)}:{c.lineno}"
                    offenders.append(f"{where} {fn.name} {what}")
    assert not offenders
