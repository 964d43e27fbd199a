"""Query catalog: every operator claimed in SURVEY.md §2 has an entry here.

Each :class:`QuerySpec` pairs a Spark DataFrame implementation (a callable
``(spark, sf_dir) -> DataFrame``) with an equivalent ANSI/DuckDB oracle SQL
string (or ``None`` for non-SQL-expressible operators → the driver records a
rows-only check).

Cross-engine determinism rules used throughout (so the driver's
order-insensitive value-hash matches):

- money/double aggregates go through exact DECIMAL summation and are cast
  back to DOUBLE (`sum(cast(x as decimal(18,6)))` is associative and
  engine-identical; a parallel double sum is not);
- any genuinely floating result (cosine similarity, ratios) is rounded with
  the explicit half-up formula ``floor(x*10^d + 0.5)/10^d`` on BOTH sides;
- every computed column is aliased identically in Spark and SQL;
- window orderings always include a unique tie-break column.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"catalog query {name!r} is already registered")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return deco


def _load_all() -> None:
    # imports populate _REGISTRY via the register decorator; this order is
    # the registration order _interleave keeps within each family
    from dbt_glue_spark.plans import relational  # noqa: F401
    from dbt_glue_spark.plans import tpch_suite  # noqa: F401
    from dbt_glue_spark.plans import materialization_queries  # noqa: F401
    from dbt_glue_spark.plans import extension_queries  # noqa: F401
    from dbt_glue_spark.plans import udf_queries  # noqa: F401
    from dbt_glue_spark.plans import analytics_queries  # noqa: F401
    from dbt_glue_spark.plans import span_interval_queries  # noqa: F401
    from dbt_glue_spark.plans import drift_audit_queries  # noqa: F401
    from dbt_glue_spark.plans import curation_queries  # noqa: F401
    from dbt_glue_spark.plans import media_dedup_queries  # noqa: F401
    from dbt_glue_spark.plans import crossmodal_queries  # noqa: F401
    from dbt_glue_spark.plans import embedding_curation_queries  # noqa: F401


def _family(name: str) -> str:
    """Coarse operator family, by naming convention."""
    for prefix in ("ext_", "mat_", "dq_", "udf_", "udtf_", "streaming_"):
        if name.startswith(prefix):
            return prefix
    if name.startswith("q") and name[1:2].isdigit():
        return "tpch"
    return "relational"


def _previously_checked(root: str | None = None) -> set[str]:
    """Query names with a fully GREEN driver CORRECTNESS_r*.json row.

    The external correctness gate samples a prefix of this catalog each
    round; without rotation the same prefix gets re-checked forever while
    the tail never earns a hard row. Reading the accumulated result files
    (written to the repo root by the harness) lets the catalog deprioritize
    already-checked queries so each round's sample automatically covers the
    largest never-checked set. Deterministic within a round: the result
    files only change between rounds.

    Only a query whose LATEST row passed counts as checked: a query whose
    most recent row is an ``err`` or a mismatch re-enters the sampled
    prefix, so a fix earns a fresh green driver row the following round
    instead of being deprioritized alongside genuine passes (this bit r2's
    two err rows — both green in r1, red in r2 — which never got
    re-sampled in r3/r4 because *any* historical row counted). Rows-only
    checks (oracle-less queries, where the driver records null matches but
    no ``err``) still count — re-sampling them would never produce a
    stronger signal.
    """
    if root is None:
        root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    latest_green: dict[str, bool] = {}

    def _round_no(path: str) -> int:
        # numeric round order, NOT lexicographic: "r100.json" would sort
        # between r10 and r11 and let older rows overwrite newer ones
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        return int(m.group(1)) if m else -1

    # later files overwrite, so each query's entry reflects its latest row
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")), key=_round_no):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                latest_green[name] = True
                continue
            matches = [
                row.get("rows_match"),
                row.get("schema_match"),
                row.get("hash_match"),
            ]
            green = not row.get("err") and not any(m is False for m in matches)
            latest_green[name] = green
    return {name for name, green in latest_green.items() if green}


def _interleave(specs: list[QuerySpec]) -> list[QuerySpec]:
    """Round-robin a spec list across operator families.

    Catalog consumers that sample a prefix (the driver correctness gate
    checks the first N entries) would otherwise only ever see the first
    registered module's queries — all relational. Interleaving makes any
    prefix of the catalog span relational + TPC-H + materializations +
    extensions + UDF families, so sampled correctness carries signal for
    every operator class. Deterministic: intra-family registration order
    is preserved, families rotate in fixed order.
    """
    buckets: dict[str, list[QuerySpec]] = {}
    for spec in specs:
        buckets.setdefault(_family(spec.name), []).append(spec)
    order = ["relational", "ext_", "mat_", "tpch", "dq_", "udf_", "udtf_", "streaming_"]
    families = [buckets[f] for f in order if f in buckets]
    families += [b for f, b in buckets.items() if f not in order]
    out: list[QuerySpec] = []
    i = 0
    while any(families):
        for fam in families:
            if i < len(fam):
                out.append(fam[i])
        i += 1
        if all(i >= len(fam) for fam in families):
            break
    return out


def _interleaved() -> dict[str, QuerySpec]:
    """Family-interleaved catalog with never-driver-checked queries first.

    Two-tier ordering: queries with no row in any past CORRECTNESS_r*.json
    come first (family-interleaved), then the already-checked remainder
    (also family-interleaved). A prefix sample therefore (a) spans operator
    families and (b) rotates across rounds — as result files accumulate,
    the unchecked tier shrinks and previously-tail queries surface.
    """
    checked = _previously_checked()
    fresh = [s for s in _REGISTRY.values() if s.name not in checked]
    stale = [s for s in _REGISTRY.values() if s.name in checked]
    return {s.name: s for s in _interleave(fresh) + _interleave(stale)}


def QUERIES() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: spec.fn for name, spec in _interleaved().items()}


def ORACLES() -> dict[str, str]:
    _load_all()
    return {
        name: spec.oracle for name, spec in _interleaved().items() if spec.oracle
    }


def SPECS() -> dict[str, QuerySpec]:
    _load_all()
    return _interleaved()
