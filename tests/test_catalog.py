"""The catalog's name set and its one registration path."""

from __future__ import annotations

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
