"""Spans and Spark counters for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into each
engine layer: the benchmark patches the layer's public functions for the
length of the traced pass and restores them afterwards. Each span carries
its own Spark job group, so the jobs a layer fires are read back from the
status store (which works with ``spark.ui.enabled=false``) right after the
op that fired them, before the store evicts them.
"""

from __future__ import annotations

import inspect
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: Spark stage counters read per stage: StageData accessor → metric name
STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_b",
    "shuffleWriteBytes": "shuffle_write_b",
    "memoryBytesSpilled": "spill_mem_b",
    "diskBytesSpilled": "spill_disk_b",
    "numTasks": "tasks",
    "outputBytes": "output_b",
}
MATERIALIZATIONS = ("seed", "table", "view", "insert_overwrite", "merge", "snapshot")


class Tracer:
    """In-memory span recorder; one instance per traced pass."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        #: seconds the tracer's job-group calls add inside ops; the
        #: status-store reads happen between ops (``collect_s``)
        self.overhead_s = 0.0
        self.collect_s = 0.0
        self._restore: list[tuple[object, str, object]] = []

    def _group(self) -> None:
        t0 = time.perf_counter()
        if self._stack:
            self.sc.setJobGroup(f"pb{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._group()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group()

    def collect_jobs(self, op_id: int) -> None:
        """Attach job/stage counters to every span of ``op_id``."""
        t0 = time.perf_counter()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self.spans:
            if rec["op"] != op_id or "jobs" in rec:
                continue
            jobs = tracker.getJobIdsForGroup(f"pb{rec['id']}")
            rec["jobs"], rec["stages"] = len(jobs), 0
            totals = dict.fromkeys(STAGE_FIELDS.values(), 0)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    try:
                        stage = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # skipped stage: never ran
                        continue
                    if stage.status().toString() != "COMPLETE":
                        continue
                    rec["stages"] += 1
                    for acc, key in STAGE_FIELDS.items():
                        totals[key] += getattr(stage, acc)()
            rec.update(totals)
        self.collect_s += time.perf_counter() - t0

    # -- layer patches ----------------------------------------------------
    def _patch(self, owner, attr: str, name: str, attrs=None, result=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, **(attrs(*args) if attrs else {})) as rec:
                out = orig(*args, **kwargs)
                if result:
                    rec.update(result(out))
                return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap each layer's public entry points in spans."""
        from dbt_glue_spark import engine
        from dbt_glue_spark.catalog import Catalog
        from dbt_glue_spark.operators import governance
        from dbt_glue_spark.sources import registry

        load = registry.load_table
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("dbt_glue_spark") and (
                getattr(mod, "load_table", None) is load
            ):
                self._patch(mod, "load_table", "sources.load")
        self._patch(
            engine.Engine, "run_model", "engine.model",
            attrs=lambda eng, model: {"mat": _materialization(model)},
        )
        self._patch(engine.Engine, "test", "quality.test")
        for attr in [a for a, v in vars(Catalog).items() if inspect.isfunction(v) and a[0] != "_"]:
            self._patch(Catalog, attr, "catalog")
        for attr in ("merge_upsert", "evolve"):
            self._patch(engine, attr, "operators")
        for attr in ("scd2_apply", "infer_seed_df"):
            self._patch(engine, attr, "materializations")
        self._patch(
            governance, "vacuum_versions_at", "governance.vacuum",
            result=lambda out: {"dirs_removed": len(out)},
        )

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)


def _materialization(model) -> str:
    cfg = model.config
    return cfg.incremental_strategy if cfg.materialized == "incremental" else cfg.materialized


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the time its child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


def layer_metrics(spans: list[dict], cores: int) -> dict[str, float]:
    """Per-layer totals over every op span in ``spans``."""
    own = self_times(spans)
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def subtree_jobs(s: dict) -> int:
        return s.get("jobs", 0) + sum(subtree_jobs(c) for c in children[s["id"]])

    def named(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    def total(key: str) -> float:
        return sum(s.get(key, 0) for s in spans)

    op_wall = sum(s["end"] - s["start"] for s in named("op"))
    run_s = total("executor_run_ms") / 1e3
    m = {
        "sources.load_calls": len(named("sources.load")),
        "sources.load_s": sum(own[s["id"]] for s in named("sources.load")),
        "sources.load_jobs": sum(s.get("jobs", 0) for s in named("sources.load")),
        "plans.build_s": sum(own[s["id"]] for s in named("plans.build")),
        "plans.build_jobs": sum(s.get("jobs", 0) for s in named("plans.build")),
        "spark.exec_s": sum(s["end"] - s["start"] for s in named("spark.exec")),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": total("executor_cpu_ns") / 1e9,
        "spark.gc_s": total("gc_ms") / 1e3,
        "spark.shuffle_read_b": total("shuffle_read_b"),
        "spark.shuffle_write_b": total("shuffle_write_b"),
        "spark.spill_b": total("spill_mem_b") + total("spill_disk_b"),
        "spark.busy_ratio": run_s / (op_wall * cores) if op_wall else 0.0,
        "engine.models_built": len(named("engine.model")),
        "catalog.calls": len(named("catalog")),
        "catalog.s": sum(own[s["id"]] for s in named("catalog")),
        "operators.build_s": sum(own[s["id"]] for s in named("operators")),
        "materializations.build_s": sum(own[s["id"]] for s in named("materializations")),
        "governance.vacuum_s": sum(own[s["id"]] for s in named("governance.vacuum")),
        "governance.dirs_removed": sum(s.get("dirs_removed", 0) for s in spans),
        "storage.bytes_written": total("output_b"),
        "quality.test_s": sum(s["end"] - s["start"] for s in named("quality.test")),
        "quality.jobs": sum(subtree_jobs(s) for s in named("quality.test")),
    }
    for mat in MATERIALIZATIONS:
        models = [s for s in named("engine.model") if s.get("mat") == mat]
        m[f"engine.model_s.{mat}"] = sum(s["end"] - s["start"] for s in models)
        m[f"engine.model_jobs.{mat}"] = sum(subtree_jobs(s) for s in models)
    return m
