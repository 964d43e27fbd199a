"""The engine: project/model API + materialization state machines.

This is the re-expression of the reference's materialization macros
(dbt/include/glue/macros/materializations/*) as in-process Spark code: the
decision trees of incremental.sql:46-114, table.sql:1-52, view.sql:1-3,
snapshot.sql:99-226 and seed.sql:7-49, minus Jinja, minus the remote
statement protocol, minus boto3.

Ref resolution uses ``{{ ref('x') }}`` / ``{{ source('t') }}`` / ``{{ this }}``
placeholders in model SQL (regex-substituted — no Jinja dependency);
ephemeral models inline as parenthesized subqueries exactly like dbt CTE
inlining (SURVEY §2.12 M11).

Storage model: external tables in ``__v{n}`` generation directories under
``{warehouse}/{schema}`` (reference location policy, impl.py:415-444).
Every table write goes through ``_write_swap``, under one contract: CHECK
filter, observed row count, catalog refresh, one commit-log line, vacuum
and the Athena manifest. Rewriting materializations (table, full refresh,
merge, snapshot, DML, compaction) swap: write a fresh generation, then
re-point the catalog — plain parquet has no transaction log, so the swap
is the atomicity boundary. Incremental ``append`` and partitioned
``insert_overwrite`` write in place, into the current generation. On a
real cluster Delta/Iceberg make both a metadata commit; the write path is
isolated in ``_write_swap`` for exactly that substitution.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dbt_glue_spark.catalog import Catalog
from dbt_glue_spark.materializations.seed import infer_seed_df
from dbt_glue_spark.materializations.snapshot import scd2_apply
from dbt_glue_spark.operators import governance
from dbt_glue_spark.operators.governance import scan_versions
from dbt_glue_spark.operators.merge import merge_upsert
from dbt_glue_spark.operators.schema_evolution import evolve
from dbt_glue_spark.relations import Relation, quote
from dbt_glue_spark.session import local_frame

TRANSACTIONAL_FORMATS = {"delta", "iceberg", "hudi"}
#: formats the reference accepts (validate.sql:4)
ACCEPTED_FORMATS = {
    "text", "csv", "json", "jdbc", "parquet", "orc", "hive",
    "delta", "iceberg", "libsvm", "hudi",
}
ACCEPTED_STRATEGIES = {"append", "insert_overwrite", "merge"}


@dataclass
class ModelConfig:
    materialized: str = "table"  # view|table|incremental|snapshot|seed|ephemeral
    file_format: str = "parquet"
    partition_by: list[str] = field(default_factory=list)
    clustered_by: list[str] = field(default_factory=list)
    buckets: int | None = None
    incremental_strategy: str = "insert_overwrite"  # reference default (incremental.sql:4)
    unique_key: list[str] | None = None
    merge_update_columns: list[str] | None = None
    merge_exclude_columns: list[str] | None = None
    incremental_predicates: list[str] | None = None
    on_schema_change: str = "ignore"
    # snapshot-only
    strategy: str = "check"
    updated_at: str | None = None
    check_cols: list[str] | None = None
    invalidate_hard_deletes: bool = False
    # misc
    custom_location: str | None = None
    full_refresh: bool = False
    # storage maintenance: drop superseded __v{n} generations after each
    # rewrite — plain-parquet analogue of the reference's default-on
    # iceberg_expire_snapshots (impl.py:1053-1085, incremental.sql:24)
    auto_vacuum: bool = True
    # dbt model contract: declared column name → Spark type. The reference
    # wires get_assert_columns_equivalent into CTAS but leaves enforcement
    # TODO (adapters.sql:175-181); we enforce. Comparison strips
    # parametrization/nesting like connections.py:33-40.
    contract: dict[str, str] | None = None
    # strict reference parity: reject merge on non-transactional formats
    # (validate.sql:38-47). Off by default because this environment has no
    # Delta/Iceberg jars — the engine composes merge semantics instead.
    require_transactional_merge: bool = False
    # row-level CHECK constraints (Delta ``ADD CONSTRAINT ... CHECK``
    # analogue): SQL boolean predicates enforced on EVERY write of this
    # model. SQL CHECK semantics — a row violates only when the predicate
    # is FALSE; NULL passes. Enforced in-plan (assert_true riding the
    # write, no extra pass); a violating write fails mid-job and leaves
    # the table unchanged (see ``Engine._write_swap``).
    check_constraints: list[str] | None = None
    # regenerate the Athena/Presto symlink manifest after EVERY write of
    # this model (reference ties delta_update_manifest to the write path,
    # impl.py:766-793 + MSCK for partitioned tables) — engines that read
    # the manifest instead of the table format never see a stale file list
    athena_manifest: bool = False


@dataclass
class Model:
    name: str
    sql: str | None = None
    fn: Callable[..., DataFrame] | None = None  # python model: fn(ctx, spark)
    # python model as SOURCE TEXT defining model(dbt, session) — the
    # reference's submission channel ships exactly this string to Glue
    # (python_utils.sql:1-49); exec'd in-process with the same contract
    python_source: str | None = None
    seed_csv: str | None = None
    column_types: dict[str, str] | None = None
    config: ModelConfig = field(default_factory=ModelConfig)
    # dbt schema tests, column → list of test specs; each spec is
    # "unique" | "not_null" | {"accepted_values": {"values": [...],
    # "quote": bool}} | {"relationships": {"to": model_or_view,
    # "field": col}} — the reference's generic tests (T1-T3,
    # tests/generic/builtin.sql + dbt-core built-ins)
    tests: dict[str, list] | None = None
    # dbt pre/post hooks: SQL statements run immediately before/after the
    # materialization, with {{ ref }}/{{ source }}/{{ this }} resolved.
    # Post-hooks are the dbt idiom for GRANTs, audit-log inserts, ANALYZE.
    pre_hook: list[str] = field(default_factory=list)
    post_hook: list[str] = field(default_factory=list)
    # dbt node tags — the selection axis of `dbt run --select tag:x`
    tags: list[str] = field(default_factory=list)


_REF = re.compile(r"\{\{\s*(ref|source)\s*\(\s*'([^']+)'\s*\)\s*\}\}")
_THIS = re.compile(r"\{\{\s*this\s*\}\}")


class DbtContext:
    """The python-model ``dbt`` object (reference: python_utils.sql:20-49):
    ref/source/this/is_incremental/config."""

    def __init__(self, engine: "Engine", model: Model, is_incremental: bool):
        self._engine = engine
        self._model = model
        self._is_incremental = is_incremental
        self.this = engine.relation_for(model.name)

    def ref(self, name: str) -> DataFrame:
        return self._engine.ref_df(name)

    def source(self, name: str) -> DataFrame:
        return self._engine.spark.table(name)

    def is_incremental(self) -> bool:
        return self._is_incremental

    def config(self, **kwargs) -> None:  # accepted for API parity; no-op
        return None


def sanitize_sql(sql: str) -> str:
    """Statement sanitation, reference cursor parity (P6).

    dbt prepends every compiled statement with a ``/* ... */`` metadata
    comment header; the reference strips it before shipping the statement
    to Glue (reference: dbt/adapters/glue/gluedbapi/cursor.py:57-65
    ``remove_comments_header``) and pads statements ending in a single
    quote (cursor.py:67-74 ``add_end_space_if_single_quote`` — the Glue
    statement channel chokes on a trailing quote). In-process Spark parses
    comments fine, but the engine keeps the same observable contract so a
    dbt-generated script behaves identically.
    """
    comment_start, comment_end = "/*", "*/\n"
    if sql.startswith(comment_start) and comment_end in sql:
        sql = sql[sql.index(comment_end) + len(comment_end):]
    if sql.endswith("'"):
        sql += " "
    return sql


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        schema: str = "analytics",
        now: Callable[[], Any] | None = None,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.schema = schema
        self.catalog = Catalog(spark)
        self.catalog.create_schema(schema)
        self.models: dict[str, Model] = {}
        self._now = now or (lambda: time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime()))
        # default driver-side row cap for fetch() — the reference's results
        # channel is implicitly bounded by the Glue statement payload; an
        # unbounded in-process collect() is the one way a metadata call can
        # OOM the driver at scale. None = unbounded (opt-in).
        self.fetch_max_rows: int | None = 100_000

    # -- registration / resolution ---------------------------------------
    def add(self, model: Model) -> None:
        self.models[model.name] = model

    def relation_for(self, name: str) -> Relation:
        return Relation(self.schema, name)

    def _resolve_sql(
        self,
        model: Model,
        sql: str | None = None,
        views: dict[str, str] | None = None,
    ) -> str:
        """Compile ``sql`` (default: the model's own) in ``model``'s
        context: ``{{ source }}`` → the registered temp view,
        ``{{ ref }}`` → the relation or an inlined ephemeral subquery,
        ``{{ this }}`` → the model's relation. ``views`` maps ref/source
        names to the temp views that stand in for them (unit-test mocks),
        ephemeral bodies included."""
        views = views or {}

        def sub(m: re.Match) -> str:
            kind, name = m.group(1), m.group(2)
            if name in views:
                return views[name]
            if kind == "source":
                return name  # registered temp view
            dep = self.models.get(name)
            if dep and dep.config.materialized == "ephemeral":
                return f"({self._resolve_sql(dep, views=views)}) AS __ephemeral_{name}"
            return self.relation_for(name).render()

        sql = _REF.sub(sub, (model.sql or "") if sql is None else sql)
        return sanitize_sql(_THIS.sub(self.relation_for(model.name).render(), sql))

    def ref_df(self, name: str) -> DataFrame:
        dep = self.models.get(name)
        if dep and dep.config.materialized == "ephemeral":
            return self.spark.sql(self._resolve_sql(dep))
        return self.spark.table(self.relation_for(name).render())

    def _deps(self, model: Model) -> list[str]:
        if not model.sql:
            return []
        return [
            name
            for kind, name in _REF.findall(model.sql)
            if kind == "ref" and name in self.models
        ]

    def run(
        self,
        names: list[str] | None = None,
        threads: int = 1,
        select: str | None = None,
    ) -> None:
        """Topological DAG execution (dbt-core's orchestration role).

        ``threads > 1`` materializes independent models concurrently,
        level-by-level — the reference inherits exactly this from dbt-core's
        ``threads`` profile setting. Spark job submission is thread-safe;
        concurrent model builds keep a large cluster busy while one model's
        shuffle is in flight. Dependents still wait for their full
        dependency level (a level barrier, like dbt's scheduler).

        ``select`` is the ``dbt run --select`` axis: ``"tag:x"`` picks every
        model tagged ``x`` (their upstream dependencies build implicitly,
        like dbt's auto-included ancestors); any other string selects the
        model of that name. Mutually exclusive with ``names``.
        """
        if select is not None:
            if names is not None:
                raise ValueError("pass either names or select, not both")
            if select.startswith("tag:"):
                tag = select[4:]
                names = [n for n, m in self.models.items() if tag in m.tags]
                if not names:
                    raise KeyError(f"no models tagged {tag!r}")
            elif select.startswith("+") or select.endswith("+"):
                # dbt graph selectors: ``+name`` = name and its ancestors,
                # ``name+`` = name and its descendants, ``+name+`` = both
                # (dbt-core node selection syntax, inherited by the
                # reference through dbt)
                base = select.strip("+")
                if base not in self.models:
                    raise KeyError(f"unknown model {base!r}")
                picked = {base}
                if select.startswith("+"):
                    frontier = [base]
                    while frontier:
                        n = frontier.pop()
                        for d in self._deps(self.models[n]):
                            if d not in picked:
                                picked.add(d)
                                frontier.append(d)
                if select.endswith("+"):
                    changed = True
                    while changed:
                        changed = False
                        for n, m in self.models.items():
                            if n not in picked and any(
                                d in picked for d in self._deps(m)
                            ):
                                picked.add(n)
                                changed = True
                names = [n for n in self.models if n in picked]
            else:
                names = [select]
        order: list[str] = []
        seen: dict[str, int] = {}

        def visit(n: str) -> None:
            state = seen.get(n, 0)
            if state == 1:
                raise ValueError(f"cycle at {n}")
            if state == 2:
                return
            seen[n] = 1
            for d in self._deps(self.models[n]):
                visit(d)
            seen[n] = 2
            order.append(n)

        for n in names or list(self.models):
            visit(n)
        if threads <= 1:
            for n in order:
                self.run_model(self.models[n])
            return
        # level = longest dependency path; nodes in a level are independent
        level: dict[str, int] = {}
        for n in order:  # topological ⇒ deps already labeled
            deps = self._deps(self.models[n])
            level[n] = 1 + max((level[d] for d in deps), default=-1)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=threads) as pool:
            for lvl in sorted(set(level.values())):
                batch = [n for n in order if level[n] == lvl]
                # list() propagates the first worker exception
                list(pool.map(lambda n: self.run_model(self.models[n]), batch))

    # -- materializations -------------------------------------------------
    def run_model(self, model: Model) -> Relation:
        cfg = model.config
        if cfg.file_format not in ACCEPTED_FORMATS:
            raise ValueError(  # validate.sql:1-10 semantics
                f"invalid file_format {cfg.file_format}; expected one of "
                f"{sorted(ACCEPTED_FORMATS)}"
            )
        mat = cfg.materialized
        if mat == "ephemeral":
            return self.relation_for(model.name)  # nothing to build
        self._run_hooks(model, model.pre_hook)
        if mat == "view":
            rel = self._mat_view(model)
        elif mat == "table":
            rel = self._mat_table(model)
        elif mat == "incremental":
            rel = self._mat_incremental(model)
        elif mat == "snapshot":
            rel = self._mat_snapshot(model)
        elif mat == "seed":
            rel = self._mat_seed(model)
        else:
            raise ValueError(f"unknown materialization {mat}")
        self._run_hooks(model, model.post_hook)
        return rel

    def _run_hooks(self, model: Model, hooks: list[str]) -> None:
        """Execute hook SQL with the same ref/source/this resolution as the
        model body (dbt pre_hook/post_hook semantics: statements run in
        order; a failure aborts the model run)."""
        for hook in hooks:
            self.spark.sql(self._resolve_sql(model, hook))

    @staticmethod
    def _check_contract(df: DataFrame, contract: dict[str, str]) -> None:
        """Name+type equivalence, outer-constructor comparison
        (``decimal(10,2)`` ≡ ``decimal``, per connections.py:33-40)."""

        def outer(t: str) -> str:
            return t.split("(")[0].split("<")[0].strip().upper()

        actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        problems = []
        for name, typ in contract.items():
            if name not in actual:
                problems.append(f"missing column {name}")
            elif outer(actual[name]) != outer(typ):
                problems.append(f"{name}: {actual[name]} != declared {typ}")
        for name in actual:
            if name not in contract:
                problems.append(f"undeclared column {name}")
        if problems:
            raise ValueError("contract violation: " + "; ".join(problems))

    def _model_df(self, model: Model, is_incremental: bool = False) -> DataFrame:
        fn = model.fn
        if fn is None and model.python_source is not None:
            # U4: arbitrary PySpark source string — the reference ships the
            # compiled python model text to Glue for exec with a `model(dbt,
            # session)` entry point (python_utils.sql:1-49 wraps exactly
            # this shape); in-process we exec the same contract. Same trust
            # model as the reference: model code is user-authored code.
            ns: dict = {}
            exec(  # noqa: S102 — the python-model execution channel
                compile(model.python_source, f"<python model {model.name}>", "exec"),
                ns,
            )
            if "model" not in ns or not callable(ns["model"]):
                raise ValueError(
                    f"python model {model.name} must define model(dbt, session)"
                )
            fn = ns["model"]
        if fn is not None:
            ctx = DbtContext(self, model, is_incremental)
            out = fn(ctx, self.spark)
            if not isinstance(out, DataFrame):
                try:  # pandas / pandas-on-Spark conversion chain
                    import pandas as pd

                    if isinstance(out, pd.DataFrame):
                        out = self.spark.createDataFrame(out)
                    else:
                        out = out.to_spark()  # pyspark.pandas
                except Exception as e:  # noqa: BLE001
                    raise TypeError(
                        "python model must return a Spark/pandas DataFrame"
                    ) from e
        else:
            out = self.spark.sql(self._resolve_sql(model))
        if model.config.contract:
            self._check_contract(out, model.config.contract)
        return out

    def _version_scan_args(self, model: Model) -> tuple[str, str]:
        """(directory, base-name) where this model's ``__v{n}`` generations
        and its ``{base}__log.jsonl`` commit log live — beside a custom
        location, else under {warehouse}/{schema}. Custom locations are
        versioned too: an unversioned custom path would make every rewrite
        an in-place overwrite of the directory a concurrent (or self-)
        read is scanning."""
        custom = model.config.custom_location
        if custom:
            custom = custom.rstrip("/")
            return os.path.dirname(custom) or ".", os.path.basename(custom)
        return os.path.join(self.warehouse, self.schema), model.name

    def _write_swap(self, df: DataFrame, model: Model, op: str = "WRITE") -> Relation:
        """Commit ``df`` as one write of ``model`` — the engine's only table
        write. Every write, whatever its strategy, gets the same contract:
        the model's CHECK constraints filter the rows, the written row count
        is observed on the write itself (no extra pass), the catalog is
        refreshed, one commit-log line is appended, and the Athena manifest
        is regenerated when configured. A failed write commits nothing and
        logs nothing.

        Two writes fulfil it, picked by ``op`` (the strategy the
        materialization already holds):

        - **in place** (``APPEND``, and ``INSERT OVERWRITE`` of a
          partitioned table): ``insertInto`` the current generation, with
          overwrite off, or on to replace only the batch's partitions
          (the session's partitionOverwriteMode is dynamic). Spark's output
          committer publishes the files only when the job succeeds.
        - **swap** (everything else): write a fresh ``__v{n}`` generation
          under a *staging* identifier, then drop the old entry and rename
          the staging one over it (two metadata-only statements). Readers
          of the old generation — including a lazy self-read feeding this
          very write, as merge and snapshot do — stay valid until the
          catalog flips, and a failed or killed write leaves the previous
          generation intact. Superseded generations are vacuumed when
          ``auto_vacuum`` is on.

        The substitution point for transactional formats: with
        Delta/Iceberg the two writes become ``INSERT INTO`` / ``INSERT
        OVERWRITE`` and ``CREATE OR REPLACE TABLE`` / ``MERGE INTO``
        (reference: adapters.sql:161-167), and the log is the format's own.
        """
        cfg = model.config
        rel = self.relation_for(model.name)
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        for c in cfg.check_constraints or []:
            df = df.filter(
                F.coalesce(
                    F.assert_true(
                        F.coalesce(F.expr(c), F.lit(True)),  # NULL passes (SQL CHECK)
                        F.lit(f"CHECK constraint violated on {model.name}: {c}"),
                    ).cast("boolean"),
                    F.lit(True),
                )
            )
        in_place = op == "APPEND" or (op == "INSERT OVERWRITE" and bool(cfg.partition_by))
        ts_ms = None  # an in-place commit is stamped when it lands
        if in_place:
            # the rows land in the generation the newest commit names
            commits = self._commits(model)
            version = commits[-1]["version"] if commits else None
            df.write.insertInto(rel.render(), overwrite=op != "APPEND")
        else:
            version = ts_ms = int(time.time() * 1000)
            log_dir, base = self._version_scan_args(model)
            loc = os.path.join(log_dir, f"{base}__v{version}")
            writer = df.write.format(cfg.file_format).mode("overwrite")
            if cfg.partition_by:
                writer = writer.partitionBy(*cfg.partition_by)
            writer = writer.option("path", loc)
            if cfg.clustered_by and cfg.buckets:
                writer = writer.bucketBy(cfg.buckets, *cfg.clustered_by).sortBy(
                    *cfg.clustered_by
                )
            stage = Relation(self.schema, f"{model.name}__stg{version}")
            try:
                writer.saveAsTable(stage.render())
            except Exception:
                self.catalog.drop(stage)
                raise
            self.catalog.drop(rel)
            self.catalog.rename(stage, rel)
            # committed generation's location — lets callers (compact)
            # account for the files they just wrote without building a
            # second Spark FileIndex over the new table (one listing per
            # rewrite, not two; at 100 TB object-store listing is a real cost)
            self._last_swap_location = loc
        self.catalog.refresh(rel)
        try:
            rows = int(obs.get["rows"] or 0)
        except Exception:  # noqa: BLE001 — metric loss must not fail the commit
            rows = -1
        self._commit(model, op, rows, version, ts_ms)
        if cfg.auto_vacuum and not in_place:  # an in-place write supersedes nothing
            governance.vacuum_versions_at(*self._version_scan_args(model), keep=1)
        if cfg.athena_manifest:
            self.generate_symlink_manifest(model.name, strict=False)
        return rel

    def _log_path(self, model: Model) -> str:
        log_dir, base = self._version_scan_args(model)
        return os.path.join(log_dir, f"{base}__log.jsonl")

    def _commits(self, model: Model) -> list[dict]:
        """The model's commit log, oldest first."""
        path = self._log_path(model)
        if not os.path.exists(path):
            return []
        with open(path) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def _commit(
        self, model: Model, op: str, rows: int, version: int | None, ts_ms: int | None = None
    ) -> None:
        """Append one line to the model's commit log. ``version`` names the
        generation the table points at after the commit — the new one for
        a swap (whose ``ts_ms`` is its version), the current one for an
        in-place write, the restored one for a restore."""
        path = self._log_path(model)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        entry = {
            "version": version,
            "ts_ms": int(time.time() * 1000) if ts_ms is None else ts_ms,
            "op": op,
            "rows": rows,
        }
        with open(path, "a") as fh:
            fh.write(json.dumps(entry) + "\n")

    def _register(self, rel: Relation, model: Model, location: str) -> None:
        """Catalog ``rel`` over an existing generation directory of
        ``model`` — metadata only, no data moves (generations are immutable
        once written); a partitioned table re-discovers its partitions."""
        self.spark.sql(
            f"CREATE TABLE {rel.render()} USING {model.config.file_format} "
            f"LOCATION '{location}'"
        )
        if model.config.partition_by:
            self.spark.sql(f"MSCK REPAIR TABLE {rel.render()}")
        self.catalog.refresh(rel)

    def execute_script(self, script: str, splitter: str = "dbt_next_query") -> DataFrame:
        """Multi-statement batch: split on the marker, run sequentially,
        return the last result — the reference's ``dbt_next_query``
        protocol (connection.py:417-427, used by strategies.sql:14-15).
        Each statement passes through :func:`sanitize_sql` (comment-header
        strip + quote pad), the reference's cursor-side behavior."""
        result = None
        for stmt in script.split(splitter):
            stmt = sanitize_sql(stmt.strip())
            if stmt.strip():
                result = self.spark.sql(stmt)
        if result is None:
            raise ValueError("empty script")
        return result

    def fetch(self, df: DataFrame, limit: int | None = None) -> dict:
        """Results channel (reference SqlWrapper2.execute, connection.py:
        429-446): rowcount + rows + column description — in-process, so the
        JSON/Arrow transport collapses to a collect.

        Without an explicit ``limit`` the collect is bounded by
        ``Engine.fetch_max_rows`` (default 100k; the reference's channel
        is bounded by the Glue statement payload). The cap collects one
        extra row to detect truncation and reports it via ``truncated``
        so callers never mistake a capped result for a complete one; set
        ``engine.fetch_max_rows = None`` to opt into unbounded collects.
        """
        cap = limit if limit is not None else self.fetch_max_rows
        probe = df.limit(cap + 1) if limit is None and cap is not None else (
            df.limit(cap) if cap is not None else df
        )
        rows = probe.collect()
        truncated = limit is None and cap is not None and len(rows) > cap
        if truncated:
            rows = rows[:cap]
        return {
            "rowcount": len(rows),
            "results": [r.asDict(recursive=True) for r in rows],
            "description": [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
            "truncated": truncated,
        }

    def backfill(
        self,
        name: str,
        start: str,
        end: str,
        batch_days: int = 1,
    ) -> list[tuple[str, str]]:
        """Event-time backfill: run an incremental model once per period of
        ``batch_days`` between ``start`` and ``end`` (dbt's microbatch
        pattern). The model's SQL references ``{{ batch_start }}`` /
        ``{{ batch_end }}`` (half-open interval) to constrain its read.

        With ``insert_overwrite`` + ``partition_by`` on a period-derived
        column, every batch replaces exactly its own partitions — each
        period is independently retryable and idempotent, and a historical
        reload touches only the partitions of the reloaded window. This is
        the orchestration shape that keeps a 100 TB table's backfill cost
        proportional to the window, never the table. Returns the list of
        (batch_start, batch_end) run.
        """
        import dataclasses
        import datetime as _dt

        model = self.models[name]
        if model.sql is None or "batch_start" not in model.sql:
            raise ValueError(
                f"model {name} must reference {{{{ batch_start }}}} to backfill"
            )
        lo = _dt.date.fromisoformat(start)
        end_d = _dt.date.fromisoformat(end)
        ran: list[tuple[str, str]] = []
        while lo < end_d:
            hi = min(lo + _dt.timedelta(days=batch_days), end_d)
            sql = model.sql.replace("{{ batch_start }}", f"'{lo.isoformat()}'").replace(
                "{{ batch_end }}", f"'{hi.isoformat()}'"
            )
            self.run_model(dataclasses.replace(model, sql=sql))
            ran.append((lo.isoformat(), hi.isoformat()))
            lo = hi
        return ran

    def test(
        self, names: list[str] | None = None, store_failures: bool = False
    ) -> DataFrame:
        """Run every declared schema test (``Model.tests``) — the ``dbt
        test`` command. Returns a report DataFrame (model, column, test,
        n_failures, passed) with one row per test, in model, column and
        spec declaration order; overall health = ``report.filter("NOT
        passed")`` empty.

        Every spec is checked before anything runs (an unknown one raises
        ``ValueError`` without submitting a job). Then the failure COUNTS
        of all selected tests come from one Spark action (dbt likewise
        stores/counts failures) — failing-row payloads stay distributed;
        fetch them by re-running the underlying quality operator when
        debugging. The report itself is a local relation: reading or
        filtering it runs no Spark job.

        ``store_failures=True`` is dbt's ``store_failures`` flag: each
        FAILING test additionally materializes its failing rows as a table
        ``{model}__{column}__{test}`` in the ``{schema}_dbt_test__audit``
        schema (dbt's audit-schema convention), so triage queries run
        against persisted evidence instead of re-deriving it. Passing
        tests store nothing, and a re-run replaces prior audit tables
        through the same versioned write path as any other table.
        """
        selected: list[tuple[str, str, str, DataFrame]] = []
        for name in names or list(self.models):
            model = self.models[name]
            if not model.tests:
                continue
            df = self.ref_df(name)
            for column, specs in model.tests.items():
                for spec in specs:
                    selected.append((name, column, *self._failing_rows(name, df, column, spec)))
        counts = _count_rows([fails for *_, fails in selected])
        if store_failures and any(counts):
            audit = Engine(
                self.spark, self.warehouse, schema=f"{self.schema}_dbt_test__audit"
            )
            for (name, column, label, fails), n in zip(selected, counts):
                if n > 0:
                    audit_model = Model(f"{name}__{column}__{label}")
                    audit.add(audit_model)
                    audit._write_swap(fails, audit_model, op="STORE FAILURES")
        rows = [(*test[:3], n, n == 0) for test, n in zip(selected, counts)]
        return _report(self.spark, rows)

    def _failing_rows(
        self, name: str, df: DataFrame, column: str, spec: Any
    ) -> tuple[str, DataFrame]:
        """(label, failing-row frame) of one generic test ``spec`` on
        column ``column`` of model ``name`` (read as ``df``): the one
        dispatch ``test`` and ``run_tests`` share. Builds the plan only."""
        from dbt_glue_spark.quality import tests as dq

        if spec == "unique":
            return "unique", dq.unique(df, column)
        if spec == "not_null":
            return "not_null", dq.not_null(df, column)
        if isinstance(spec, dict) and "accepted_values" in spec:
            cfg = spec["accepted_values"]
            fails = dq.accepted_values(df, column, cfg["values"], cfg.get("quote", True))
            return "accepted_values", fails
        if isinstance(spec, dict) and "relationships" in spec:
            cfg = spec["relationships"]
            to = cfg["to"]
            parent = self.ref_df(to) if to in self.models else self.spark.table(to)
            return "relationships", dq.relationships(df, column, parent, cfg["field"])
        raise ValueError(f"unknown test spec {spec!r} on {name}.{column}")

    def unit_test(
        self,
        name: str,
        given: dict[str, Any],
        expect: Any,
    ) -> dict:
        """dbt 1.8-style unit test: run a model's SQL against MOCKED
        inputs and compare to expected rows — no tables built, no state
        touched, so model logic is testable before anything materializes.

        ``given`` maps ref/source names to mock rows: a DataFrame, or a
        ``(rows, schema)`` tuple for ``spark.createDataFrame``. Unmocked
        refs resolve to their real tables (dbt requires full mocking; we
        allow partial for pragmatism). ``expect`` is the same shapes.
        Comparison is order-insensitive over the EXPECTED columns only
        (dbt semantics — extra output columns don't fail the test).
        Returns {"passed", "actual", "expected"} with the row diffs.
        """
        model = self.models[name]
        if model.sql is None:
            raise ValueError("unit tests cover SQL models")

        def to_df(data: Any) -> DataFrame:
            if isinstance(data, DataFrame):
                return data
            if isinstance(data, tuple):
                return self.spark.createDataFrame(*data)
            return self.spark.createDataFrame(data)

        views: dict[str, str] = {}
        for dep, data in given.items():
            vname = f"__ut_{self.schema}_{dep}"
            to_df(data).createOrReplaceTempView(vname)
            views[dep] = vname

        try:
            actual_df = self.spark.sql(self._resolve_sql(model, views=views))
            expect_df = to_df(expect)
            cols = expect_df.columns
            actual = sorted(
                (tuple(r[c] for c in cols) for r in actual_df.select(*cols).collect())
            )
            expected = sorted((tuple(r[c] for c in cols) for r in expect_df.collect()))
        finally:
            for v in views.values():
                self.spark.catalog.dropTempView(v)
        return {"passed": actual == expected, "actual": actual, "expected": expected}

    def compact(
        self,
        name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> dict[str, int]:
        """Small-files compaction — the plain-parquet analogue of Iceberg
        ``rewrite_data_files`` / Delta ``OPTIMIZE`` (SURVEY §7.1 step 11).

        Incremental appends accumulate one small file per batch×partition;
        at scale that death-by-a-thousand-files dominates scan planning and
        task startup. Rewrite the table into ``ceil(bytes/target)``
        partitions through the same versioned-location swap every other
        rewrite uses (readers of the old generation stay valid until the
        catalog flips). Returns files/bytes before and after.

        ``sort_by`` additionally range-clusters the rewrite on those
        columns (repartitionByRange + sortWithinPartitions — the
        OPTIMIZE ZORDER-lite): each output file then covers a disjoint
        key range, so parquet min/max row-group stats let point/range
        scans on those columns skip whole files. At 100 TB this is the
        difference between touching every file and touching the few whose
        stats overlap the predicate.

        ``zorder_by`` clusters along a Morton z-curve instead (Delta
        ``OPTIMIZE ZORDER BY`` semantics, operators/zorder.py): linear
        sort prunes only its leading column; z-order makes files
        axis-aligned tiles so min/max stats prune on EVERY listed column
        independently. Mutually exclusive with ``sort_by``.
        """
        import math
        import os
        from urllib.parse import urlparse

        model = self.models[name]
        rel = self.relation_for(name)
        df = self.spark.table(rel.render())

        def _stat(frame: DataFrame) -> tuple[int, int]:
            files = frame.inputFiles()
            total = 0
            for uri in files:
                p = urlparse(uri).path or uri
                try:
                    total += os.path.getsize(p)
                except OSError:  # non-local FS: sizes unavailable, count only
                    pass
            return len(files), total

        if sort_by and zorder_by:
            raise ValueError("compact: pass sort_by or zorder_by, not both")
        n_before, bytes_before = _stat(df)
        n_target = max(1, math.ceil(bytes_before / target_file_bytes)) if bytes_before else 1
        if zorder_by:
            from dbt_glue_spark.operators.zorder import zorder_rewrite

            rewritten = zorder_rewrite(df, zorder_by, n_target)
        elif sort_by:
            rewritten = df.repartitionByRange(
                n_target, *[F.col(c) for c in sort_by]
            ).sortWithinPartitions(*sort_by)
        else:
            rewritten = df.repartition(n_target)
        self._write_swap(rewritten, model, op="OPTIMIZE")
        # after-stats from ONE driver-side walk of the generation we just
        # committed — not a second Spark FileIndex over the new table (on
        # an object store that second listing is not free; with a
        # transactional format this becomes a manifest read instead)
        n_after, bytes_after = 0, 0
        for root, _dirs, files in os.walk(
            urlparse(self._last_swap_location).path or self._last_swap_location
        ):
            # prune hidden/metadata dirs (_symlink_format_manifest etc.) —
            # their files are not data and must not inflate after-stats
            _dirs[:] = [d for d in _dirs if not d.startswith((".", "_"))]
            for f in files:
                if f.startswith((".", "_")) or f.endswith(".crc"):
                    continue
                n_after += 1
                try:
                    bytes_after += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return {
            "files_before": n_before,
            "files_after": n_after,
            "bytes_before": bytes_before,
            "bytes_after": bytes_after,
        }

    def compile(self, name: str) -> str:
        """``dbt compile``: the model's SQL with every ``{{ ref }}`` /
        ``{{ source }}`` / ``{{ this }}`` resolved (ephemeral deps inlined
        as subqueries) and the comment header stripped — exactly what
        ``run_model`` would execute."""
        return self._resolve_sql(self.models[name])

    def source_freshness(
        self,
        source: str | DataFrame,
        loaded_at_field: str,
        warn_after_s: float,
        error_after_s: float,
    ) -> dict:
        """``dbt source freshness``: age of the newest row vs thresholds.

        The reference inherits this from dbt-core (freshness checks run
        ``select max(loaded_at_field)`` through the adapter and compare
        against ``warn_after``/``error_after``). One MAX aggregate — a
        metadata-sized driver read; on a partitioned-by-time table the
        scan prunes to recent partitions. Returns
        ``{max_loaded_at, age_s, status}`` with status pass|warn|error
        (never-loaded sources are ``error`` with ``age_s=None``).
        """
        import datetime as _dt

        df = self.spark.table(source) if isinstance(source, str) else source
        max_ts = df.agg(F.max(loaded_at_field).alias("m")).collect()[0]["m"]
        if max_ts is None:
            return {"max_loaded_at": None, "age_s": None, "status": "error"}
        now = _dt.datetime.strptime(self._now(), "%Y-%m-%d %H:%M:%S")
        age = (now - max_ts).total_seconds()
        status = (
            "error" if age > error_after_s else "warn" if age > warn_after_s else "pass"
        )
        return {"max_loaded_at": max_ts, "age_s": age, "status": status}

    def generate_symlink_manifest(
        self, name: str, strict: bool = True
    ) -> dict[str, list[str]]:
        """Athena/Presto symlink manifest for the table's current
        generation — S8, the reference's ``delta_update_manifest``
        (impl.py:766-793: ``deltaTable.generate("symlink_format_manifest")``
        + MSCK REPAIR for partitioned tables).

        Writes ``_symlink_format_manifest/[<partition-path>/]manifest``
        under the table location, each file listing the absolute data-file
        URIs of that partition (one per line) — the layout engines that
        cannot read the table format natively (Athena on Delta) scan
        instead of the data directory. Metadata-only: one listing of the
        current generation, no data pass. Returns
        ``{partition_path or '': [file, ...]}``; re-running replaces the
        manifests (stale manifests must not survive a rewrite).

        The manifest root is the table's CATALOG location (one DESCRIBE,
        like ``deltaTable.generate`` anchoring at the Delta table root) —
        never inferred from data-file paths: with a single live partition
        a commonpath inference would collapse into that partition dir and
        Athena would look for ``<loc>/_symlink_format_manifest/part=x/``
        in the wrong place.

        ``strict=False`` (the write path) writes an empty root manifest
        for a zero-file generation instead of raising — the write already
        committed; a post-commit raise would fail a successful run.
        """
        from urllib.parse import urlparse

        rel = self.relation_for(name)
        df = self.spark.table(rel.render())
        files = sorted(df.inputFiles())
        loc = self.catalog.location(rel)
        root = urlparse(loc).path or loc if loc else None
        paths = [urlparse(f).path or f for f in files]
        if root is None:
            if not paths:
                raise ValueError(f"{name}: no location and no data files to manifest")
            root = os.path.commonpath([os.path.dirname(p) for p in paths])
        if not files and strict:
            raise ValueError(f"{name}: no data files to manifest")
        by_partition: dict[str, list[str]] = {}
        for uri, p in zip(files, paths):
            part = os.path.relpath(os.path.dirname(p), root)
            by_partition.setdefault("" if part == "." else part, []).append(uri)
        if not by_partition:  # zero-file table, strict=False: empty manifest
            by_partition[""] = []
        manifest_root = os.path.join(root, "_symlink_format_manifest")
        import shutil

        shutil.rmtree(manifest_root, ignore_errors=True)
        for part, uris in by_partition.items():
            d = os.path.join(manifest_root, part) if part else manifest_root
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "manifest"), "w") as fh:
                fh.write("\n".join(uris) + ("\n" if uris else ""))
        return by_partition

    def lakehouse_dry_run(self, name: str, fmt: str) -> dict:
        """The exact session conf + SQL the engine would execute for this
        model under a transactional format — executable evidence for the
        jar-gated substitution point in ``_write_swap`` without needing
        the jars (reference: Delta impl.py:795-879, Iceberg
        adapters.sql:162-174, merge strategies.sql:42-93).

        Returns ``{"format", "conf", "statements"}``. Merge-strategy
        incrementals render a staging view + native ``MERGE INTO``;
        everything else renders ``CREATE OR REPLACE TABLE ... USING fmt``.
        """
        from dbt_glue_spark.operators.lakehouse_sql import (
            create_or_replace_sql,
            merge_into_sql,
        )
        from dbt_glue_spark.session import _LAKEHOUSE_CONF

        if fmt not in _LAKEHOUSE_CONF:
            raise ValueError(f"unknown lakehouse format {fmt!r}")
        model = self.models[name]
        cfg = model.config
        rel = self.relation_for(name)
        select_sql = self._resolve_sql(model)
        if cfg.materialized == "incremental" and cfg.incremental_strategy == "merge":
            dest_cols = [f.name for f in self._model_df(model).schema.fields]
            key = cfg.unique_key
            stage = f"{rel.render()}__dbt_tmp"
            stmts = [
                f"CREATE OR REPLACE TEMPORARY VIEW {stage} AS\n{select_sql}",
                merge_into_sql(
                    rel.render(),
                    stage,
                    dest_cols,
                    [key] if isinstance(key, str) else key,
                    update_columns=cfg.merge_update_columns,
                    exclude_columns=cfg.merge_exclude_columns,
                    incremental_predicates=cfg.incremental_predicates,
                ),
            ]
        else:
            stmts = [
                create_or_replace_sql(
                    rel.render(),
                    select_sql,
                    fmt,
                    partition_by=cfg.partition_by or None,
                    location=cfg.custom_location,
                )
            ]
        return {"format": fmt, "conf": dict(_LAKEHOUSE_CONF[fmt]), "statements": stmts}

    def docs(self) -> DataFrame:
        """Catalog/docs extraction for this project's schema (the
        reference's get_catalog, impl.py:538-612)."""
        return governance.catalog_info(self.spark, [self.schema])

    def delete_rows(self, name: str, predicate: str) -> int:
        """Row-level DELETE — the plain-parquet analogue of Delta/Iceberg
        ``DELETE FROM t WHERE ...`` (and the right-to-be-forgotten
        primitive): rewrite the table WITHOUT the matching rows through
        the same versioned-location swap every rewrite uses, so readers
        of the old generation stay consistent until the catalog flips.
        Returns the number of rows deleted.

        At 100 TB with a transactional format this becomes a metadata
        operation touching only affected files; here the cost is one
        filtered rewrite — same shape as merge on parquet, documented in
        SCALE.md known-trade-offs.
        """
        model = self.models[name]
        rel = self.relation_for(name)
        df = self.spark.table(rel.render())
        # DELETE removes rows where the predicate is TRUE; rows where it
        # evaluates NULL are KEPT (plain NOT(pred) would be NULL → dropped).
        # The deleted-row count rides the rewrite itself as an observed
        # metric — one pass over the table, no separate count() jobs.
        pred = F.coalesce(F.expr(predicate), F.lit(False))
        obs = Observation()
        annotated = df.observe(obs, F.sum(pred.cast("long")).alias("deleted"))
        kept = annotated.filter(~pred)
        self._write_swap(kept, model, op="DELETE")
        return int(obs.get["deleted"] or 0)

    def update_rows(self, name: str, set: dict[str, str], predicate: str) -> int:
        """Row-level UPDATE — the plain-parquet analogue of Delta/Iceberg
        ``UPDATE t SET ... WHERE ...``: rewrite with each assigned column
        wrapped in ``CASE WHEN pred THEN expr ELSE old END`` through the
        versioned-location swap. Rows where the predicate is NULL are
        untouched (CASE WHEN is falsy on NULL — SQL UPDATE semantics).
        Returns the number of rows that matched the predicate.
        """
        model = self.models[name]
        rel = self.relation_for(name)
        df = self.spark.table(rel.render())
        set_ = set  # param shadows the builtin to read like SQL UPDATE ... SET
        missing = [c for c in set_ if c not in df.columns]
        if missing:
            raise ValueError(f"unknown columns in SET: {missing}")
        # matched-row count observed during the rewrite — one pass, no
        # separate count() job (sum skips NULL predicates, matching CASE
        # WHEN falsy-on-NULL semantics).
        obs = Observation()
        annotated = df.observe(
            obs, F.sum(F.expr(predicate).cast("long")).alias("matched")
        )
        updated = annotated.select(
            *[
                F.when(F.expr(predicate), F.expr(set_[c])).otherwise(F.col(c)).alias(c)
                if c in set_
                else F.col(c)
                for c in df.columns
            ]
        )
        self._write_swap(updated, model, op="UPDATE")
        return int(obs.get["matched"] or 0)

    def evolve_partitioning(
        self,
        name: str,
        partition_by: list[str],
        clustered_by: list[str] | None = None,
        buckets: int | None = None,
    ) -> dict[str, list[str]]:
        """Explicit partition-spec evolution — the reference diffs ``SHOW
        CREATE TABLE`` against the desired spec and emits ``ALTER TABLE ...
        DROP/ADD PARTITION FIELD`` on Iceberg (reference:
        dbt/include/glue/macros/python_utils.sql:197-230). Without a
        transactional format a spec change can't be metadata-only (existing
        files aren't laid out by the new key), so it is realized as ONE
        guided rewrite through the versioned-location swap: the new
        generation lands under the new directory layout, the catalog flips,
        and subsequent scans filtered on the new key prune partitions.
        Retained old generations keep their old layout — time travel is
        unaffected. Returns {"previous": ..., "current": ...}.

        At 100 TB this is a deliberate full rewrite (say, one backfill
        window at a time via ``backfill``); on Iceberg the same call
        becomes the metadata-only ALTER, which is why the config mutation
        is isolated here rather than spread across call sites.
        """
        model = self.models[name]
        rel = self.relation_for(name)
        df = self.spark.table(rel.render())
        missing = [c for c in partition_by if c not in df.columns]
        if missing:
            raise ValueError(f"partition columns not in table: {missing}")
        previous = list(model.config.partition_by)
        model.config.partition_by = list(partition_by)
        if clustered_by is not None:
            model.config.clustered_by = list(clustered_by)
            model.config.buckets = buckets
        # lazy self-read into the rewrite is safe: the write lands in a NEW
        # versioned location while the scan reads the old generation
        self._write_swap(df, model, op="EVOLVE PARTITIONING")
        return {"previous": previous, "current": list(partition_by)}

    def restore(self, name: str, version: int) -> Relation:
        """Roll the table back to a retained generation — the Delta
        ``RESTORE TABLE ... VERSION AS OF`` analogue. Metadata-only: the
        catalog re-points at the old generation's directory (generations
        are immutable, so no data moves), and a RESTORE commit is logged.
        Requires ``auto_vacuum=False`` history retention, like any time
        travel here."""
        model = self.models[name]
        paths = dict(scan_versions(*self._version_scan_args(model)))
        if version not in paths:
            raise KeyError(f"version {version} of {name} not retained")
        rel = self.relation_for(name)
        self.catalog.drop(rel)
        self._register(rel, model, paths[version])
        self._commit(model, f"RESTORE v{version}", -1, version)
        return rel

    def history(self, name: str) -> list[dict]:
        """Commit history, newest first — the ``DESCRIBE HISTORY`` analogue
        for the versioned-location scheme. Each entry: version (the
        generation the table pointed at after the commit), ts_ms, op
        (CREATE/APPEND/MERGE/DELETE/UPDATE/OPTIMIZE/...), rows written, and
        whether that generation is still retained on disk (``retained`` —
        history survives vacuum; data dirs may not)."""
        model = self.models[name]
        retained = {v for v, _ in scan_versions(*self._version_scan_args(model))}
        out = [{**e, "retained": e["version"] in retained} for e in self._commits(model)]
        # reversed first, so commits within one millisecond stay newest first
        return sorted(reversed(out), key=lambda e: e["ts_ms"], reverse=True)

    def clone_table(self, name: str, target: str) -> Relation:
        """Zero-copy shallow clone — the Delta ``SHALLOW CLONE`` analogue:
        register a NEW catalog entry over the source's current versioned
        generation directory. No data is copied; generations are immutable
        once written, so the clone is a stable snapshot while the source
        moves ahead through new generations (dev/test forks, audit pins).

        Requires the source to retain generations (``auto_vacuum=False``) —
        with vacuum on, the next source rewrite would delete the directory
        the clone points at. Enforced here rather than discovered later as
        a dangling table.
        """
        model = self.models[name]
        if model.config.auto_vacuum:
            raise ValueError(
                f"clone_table requires auto_vacuum=False on {name!r}: vacuum "
                "would delete the cloned generation on the next rewrite"
            )
        gens = scan_versions(*self._version_scan_args(model))
        if not gens:
            raise KeyError(f"{name} has no materialized generation to clone")
        tgt = Relation(self.schema, target)
        self._register(tgt, model, gens[0][1])
        return tgt

    def analyze_table(self, name: str, columns: list[str] | None = None) -> dict:
        """``ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS …]`` — populate
        Catalyst's cost-based-optimizer statistics for a materialized model
        and return the table-level numbers ``{"rows": n, "bytes": b}``.

        Why this is a first-class op at 100 TB: CBO join reordering and
        broadcast decisions (``spark.sql.cbo.enabled``,
        ``autoBroadcastJoinThreshold``) read exactly these stats — a dim
        table that never got ANALYZEd sort-merge-joins when it should
        broadcast. The reference delegates stats to the Glue catalog
        (crawlers); in-process the native Spark statement is the idiomatic
        equivalent (aws-samples/dbt-glue has no ANALYZE surface —
        engine extension).
        """
        rel = self.relation_for(name)
        self.catalog.analyze(rel, columns)
        stats: dict = {}
        for row in self.spark.sql(f"DESCRIBE TABLE EXTENDED {rel.render()}").collect():
            if row.col_name == "Statistics":
                # e.g. "1234 bytes, 56 rows"
                for part in row.data_type.split(","):
                    n, unit = part.strip().split(" ", 1)
                    stats[{"bytes": "bytes", "rows": "rows"}.get(unit, unit)] = int(n)
        return stats

    def column_stats(self, name: str, column: str) -> dict:
        """Per-column CBO stats (min/max/nulls/distinct_count/lengths) as
        recorded by :meth:`analyze_table` — ``DESCRIBE EXTENDED tbl col``,
        parsed to a dict with ints where the values are numeric. Values
        are Spark's stringified stats; ``distinct_count`` is an HLL++
        estimate, exact on small tables."""
        rel = self.relation_for(name)
        out: dict = {}
        for row in self.spark.sql(
            f"DESCRIBE TABLE EXTENDED {rel.render()} {quote(column)}"
        ).collect():
            key = row.info_name.strip().lower().replace(" ", "_")
            val = row.info_value
            out[key] = int(val) if val is not None and val.lstrip("-").isdigit() else val
        return out

    def versions(self, name: str) -> list[int]:
        """Retained table generations, newest first — the snapshot log of
        the versioned-location scheme (what Iceberg exposes as
        ``snapshots``; requires ``auto_vacuum=False`` to retain more than
        the current one)."""
        return [v for v, _ in scan_versions(*self._version_scan_args(self.models[name]))]

    def read_version(self, name: str, version: int) -> DataFrame:
        """Time travel: read a retained generation by version id, bypassing
        the catalog pointer (which always tracks the newest). Plain-parquet
        analogue of Delta ``VERSION AS OF`` — old generations are immutable
        once written, so the read is consistent without any locking."""
        model = self.models[name]
        for v, path in scan_versions(*self._version_scan_args(model)):
            if v == version:
                return self.spark.read.format(model.config.file_format).load(path)
        raise KeyError(f"version {version} of {name} not retained")

    def _mat_view(self, model: Model) -> Relation:
        rel = self.relation_for(model.name)
        self.spark.sql(
            f"CREATE OR REPLACE VIEW {rel.render()} AS {self._resolve_sql(model)}"
        )
        return rel

    def _mat_table(self, model: Model) -> Relation:
        return self._write_swap(self._model_df(model), model, op="CREATE TABLE AS")

    def _mat_seed(self, model: Model) -> Relation:
        df = infer_seed_df(self.spark, model.seed_csv or "", model.column_types)
        return self._write_swap(df, model, op="SEED")

    def _mat_incremental(self, model: Model) -> Relation:
        cfg = model.config
        rel = self.relation_for(model.name)
        if cfg.incremental_strategy not in ACCEPTED_STRATEGIES:
            raise ValueError(  # validate.sql:20-36 semantics
                f"invalid incremental_strategy {cfg.incremental_strategy}"
            )
        if (
            cfg.incremental_strategy == "merge"
            and cfg.require_transactional_merge
            and cfg.file_format not in TRANSACTIONAL_FORMATS
        ):
            raise ValueError(  # validate.sql:38-47 semantics
                "merge strategy requires file_format delta/iceberg/hudi"
            )
        exists = self.catalog.exists(rel)
        if not exists or cfg.full_refresh:
            return self._write_swap(
                self._model_df(model, is_incremental=False), model, op="CREATE TABLE AS"
            )

        batch = self._model_df(model, is_incremental=True)
        target_df = self.spark.table(rel.render())
        batch, target_df, _ = evolve(batch, target_df, cfg.on_schema_change)

        if cfg.incremental_strategy == "append":
            # in place, with the explicit dest-column projection
            # (strategies.sql:2-3,22-39)
            return self._write_swap(batch.select(*target_df.columns), model, op="APPEND")

        if cfg.incremental_strategy == "insert_overwrite":
            # partitioned: dynamic partition overwrite in place
            # (strategies.sql:1-19); no partitions ⇒ whole-table replace
            # (strategies.sql:16-18)
            if cfg.partition_by:
                batch = batch.select(*target_df.columns)
            return self._write_swap(batch, model, op="INSERT OVERWRITE")

        # merge
        key = cfg.unique_key
        merged = merge_upsert(
            target_df,
            batch,
            [key] if isinstance(key, str) else key,
            update_columns=cfg.merge_update_columns,
            exclude_columns=cfg.merge_exclude_columns,
            incremental_predicates=cfg.incremental_predicates,
        )
        # the lazy self-read is safe: the swap writes a new generation
        return self._write_swap(merged, model, op="MERGE")

    def _mat_snapshot(self, model: Model) -> Relation:
        cfg = model.config
        rel = self.relation_for(model.name)
        source = self._model_df(model)
        current = self.spark.table(rel.render()) if self.catalog.exists(rel) else None
        key = cfg.unique_key or ["id"]
        snap = scd2_apply(
            current,
            source,
            [key] if isinstance(key, str) else key,
            as_of=self._now(),
            strategy=cfg.strategy,
            updated_at=cfg.updated_at,
            check_cols=cfg.check_cols,
            invalidate_hard_deletes=cfg.invalidate_hard_deletes,
        )
        return self._write_swap(snap, model, op="SNAPSHOT")


def _count_rows(frames: list[DataFrame]) -> list[int]:
    """Row count of each frame, from ONE Spark action: every frame's rows
    are tagged with the frame's index, the tagged frames are unioned, and
    one aggregation counts them per index (partial counts are taken
    map-side, so one small exchange serves every frame). AQE then runs the
    frames' own shuffle stages in the same waves instead of one job chain
    and one driver round trip per frame. No frames, no job."""
    if not frames:
        return []
    tagged = functools.reduce(
        DataFrame.unionAll, [f.select(F.lit(i).alias("i")) for i, f in enumerate(frames)]
    )
    counts = dict(tagged.groupBy("i").count().collect())
    return [counts.get(i, 0) for i in range(len(frames))]


def _report(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """``Engine.test``'s report as a local relation: collecting or
    filtering it runs no Spark job, zero rows included."""
    return local_frame(
        spark,
        rows,
        "model string, `column` string, test string, n_failures bigint, passed boolean",
    )


def run_tests(
    engine: Engine,
    model_name: str,
    tests: list[tuple[str, dict]],
) -> dict[str, int]:
    """Run data-quality tests against a materialized model; returns
    test-name → failing-row count (0 = pass), dbt's test loop in one call.

    ``tests`` entries: (test_type, params) with test_type in unique /
    not_null / accepted_values / relationships (quality/tests.py). Runs
    through ``Engine.test``'s dispatch: every entry is checked first, then
    all counts come from one Spark action.
    """
    df = engine.ref_df(model_name)
    keys, frames = [], []
    for ttype, params in tests:
        spec = ttype if ttype in ("unique", "not_null") else {ttype: params}
        frames.append(engine._failing_rows(model_name, df, params["column"], spec)[1])
        keys.append(f"{ttype}:{params['column']}")
    return dict(zip(keys, _count_rows(frames)))
