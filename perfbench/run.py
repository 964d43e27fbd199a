"""The repo benchmark: end-to-end and per-layer numbers for three workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It generates its inputs from the seed
under ``.perfbench/`` (inputs, Spark scratch and the ``dbt_dag``
warehouse), starts Spark on ``local[nproc / 2]``, and drives one
closed-loop client that issues one op at a time. A run does a fixed set of
ops: ``round(S / nominal pass time)`` passes, at least one, over the
workload's op list in a seeded order, so every run of a workload does the
same work. The timed ops start right after set-up, in a JVM that has run
only the set-up's warm-up op, as in a user's fresh session.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
ops with spans around each layer and reports the per-layer metrics; its
``trace.overhead_ratio`` is the pass's wall time over that time minus the
tracer's job-group calls, and a ``--trace 0`` run of the same seed gives
the same comparison across two processes.

The last line of standard output is the result JSON, with the metrics
``BENCHMARK.json`` lists; the line before it carries the run's stamp and
every end-to-end metric with its unit. The full record (every op and, when traced, every
span) is written to ``.perfbench/records/``. See NOTES.md.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace, workloads  # noqa: E402

#: seconds one pass of the workload's op list takes on a 4-CPU machine, two
#: Spark cores, from a cold JVM; for dbt_dag a pass is one incremental dbt
#: run, and the full build before the first is counted in the first
NOMINAL_PASS_S = {"tpch_analytics": 20.0, "neardup_corpus": 26.0, "dbt_dag": 24.0}
WORKLOADS = tuple(NOMINAL_PASS_S)
SETUPS = 3
DRIVER_MEM = "3g"
HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "expected.json")) as _fh:
    EXPECTED = json.load(_fh)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cores() -> int:
    """Spark's task slots: half the CPUs, so that the JVM's compiler and
    GC threads and the Python driver do not compete with the tasks."""
    return max(1, nproc() // 2)


class Harness:
    """Times ops one at a time, isolates their faults, and frees the
    engine's cache registries after each one."""

    def __init__(self, release, tracer: trace.Tracer | None = None):
        self.release = release
        self.tracer = tracer
        self.ops: list[dict] = []
        self.steps: list[dict] = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def _unit(self, kind: str, name: str, log: list[dict]):
        rec = {"name": name, "ok": True}
        unit_id = (kind, len(log))
        log.append(rec)
        if self.tracer:
            self.tracer.op_id = unit_id
        start = time.perf_counter()
        try:
            with self.tracer.span(kind, label=name) if self.tracer else nullcontext():
                yield rec
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
            rec["ok"], rec["error"] = False, f"{type(exc).__name__}: {exc}"[:500]
        finally:
            rec["s"] = time.perf_counter() - start
            if self.tracer:
                self.tracer.collect_jobs(unit_id)
                self.tracer.op_id = None
            rec["frames_released"] = self.release()

    def op(self, name: str):
        """One timed op."""
        return self._unit("op", name, self.ops)

    def step(self, name: str):
        """Untimed work between ops (registering a dbt run's sources)."""
        return self._unit("step", name, self.steps)


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.scratch = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{os.getpid()}")
        self.tables = os.path.join(self.scratch, "inputs", "tables")
        self.warehouse = os.path.join(self.scratch, "warehouse")
        self.passes = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        self.spark = None
        self.batches: list[dict] = []

    # -- inputs and set-up --------------------------------------------------
    def generate(self) -> None:
        """Inputs are written by a child process so that the driver's peak
        memory is the engine's, not pandas'."""
        cmd = [sys.executable, os.path.join(HERE, "gen.py"),
               os.path.join(self.scratch, "inputs"), "--sf", str(self.args.sf)]
        if self.workload == "dbt_dag":
            cmd += ["--dbt-seed", str(self.args.seed), "--dbt-runs", str(self.passes)]
        subprocess.run(cmd, check=True)
        if self.workload == "dbt_dag":
            with open(os.path.join(self.scratch, "inputs", "dbt", "batches.json")) as fh:
                self.batches = json.load(fh)

    def start(self) -> tuple[float, float]:
        """One set-up: import the engine, start the session, load the
        catalog and run the workload's warm-up. Returns (set-up seconds,
        session start seconds)."""
        if self.spark is not None:
            self.spark.stop()
        for name in [m for m in sys.modules if m.split(".")[0] == "dbt_glue_spark"]:
            del sys.modules[name]
        t0 = time.perf_counter()
        session = importlib.import_module("dbt_glue_spark.session")
        catalog = importlib.import_module("dbt_glue_spark.plans.catalog")
        t1 = time.perf_counter()
        self.spark = session.get_spark(
            "perfbench",
            warehouse_dir=self.warehouse,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                ),
            },
        )
        start_s = time.perf_counter() - t1
        self.spark.sparkContext.setLogLevel("ERROR")
        self.specs = catalog.SPECS()
        if self.workload == "dbt_dag":
            from dbt_glue_spark.engine import Engine

            Engine(self.spark, self.warehouse, schema="warmup").run_model(
                workloads.dbt_models()[0]
            )
        else:
            warm = self.specs[workloads.WARMUP[self.workload]].fn(self.spark, self.tables)
            warm.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, start_s

    def release(self) -> int:
        """Free both cache registries; returns the dedup frames released."""
        from dbt_glue_spark.extensions.dedup import release_caches
        from dbt_glue_spark.streaming.pipelines import release_static_caches

        release_static_caches()
        return release_caches()

    # -- measurement ----------------------------------------------------------
    def measure(self, tracer: trace.Tracer | None) -> tuple[Harness, float, dict]:
        """Run the timed ops. Returns the harness, the workload's wall time
        (the ops and the untimed steps between them, without the harness's
        own work: cache release, output checks, status-store reads) and the
        storage counters."""
        h = Harness(self.release, tracer)
        storage: dict = {}
        if self.workload == "dbt_dag":
            storage = workloads.run_dbt(h, self.spark, self.warehouse, "bench", self.batches)
        else:
            orders = workloads.pass_orders(
                workloads.READ_WORKLOADS[self.workload], self.args.seed, self.passes
            )
            expected = EXPECTED.get(str(self.args.sf), {})
            workloads.run_reads(h, self.specs, self.spark, self.tables, orders, expected)
        return h, sum(u["s"] for u in h.ops + h.steps), storage

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus the Spark JVM."""
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return sum(_vm_hwm_kb(pid) for pid in ("self", jvm_pid)) / 1024.0

    def warehouse_mb(self) -> float:
        """Bytes the dbt_dag project retains under its warehouse schema."""
        root = os.path.join(self.warehouse, "bench")
        size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)
        return size / 2**20

    def stop(self) -> None:
        """Stop Spark and wait for the JVM the session launched."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine since boot,
    summed over its CPUs (the ``steal`` column of ``/proc/stat``)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile with at
    least ten samples beyond it, or the maximum when there are too few."""
    s = sorted(latencies)
    if len(s) < 11:
        return s[-1], 100.0, 0
    return s[-11], 100.0 * (len(s) - 10) / len(s), 10


def stamp(args) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": args.sf, "nproc": nproc(), "spark_cores": cores(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__, "commit": commit,
    }


def run(args) -> dict:
    b = Bench(args)
    shutil.rmtree(b.scratch, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(b.scratch, sub))
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(b.scratch, "local"),
        TMPDIR=os.path.join(b.scratch, "tmp"),
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    for var in ("SPARK_GRAFT_CONF_JSON", "SPARK_GRAFT_AUTO_PARTITIONS", "SPARK_MASTER"):
        os.environ.pop(var, None)
    try:
        t0 = time.perf_counter()
        b.generate()
        t1 = time.perf_counter()
        setups = [b.start() for _ in range(SETUPS)]
        harness_s = {"generate": t1 - t0, "setups": time.perf_counter() - t1}
        tracer = trace.Tracer(b.spark) if args.trace else None
        if tracer:
            tracer.install()
        steal0 = cpu_steal_s()
        try:
            h, wall_s, storage = b.measure(tracer)
        finally:
            if tracer:
                tracer.uninstall()
        steal_s = cpu_steal_s() - steal0
        lat = [op["s"] for op in h.ops]
        failed = sum(not op["ok"] for op in h.ops)
        tail_s, tail_pct, beyond = tail(lat)
        dbt = args.workload == "dbt_dag"
        record = {
            "stamp": stamp(args),
            "setup_s": [s for s, _ in setups],
            "session_start_s": [s for _, s in setups],
            "ops": h.ops,
            "steps": h.steps,
            "harness_s": harness_s,
            "steal_s": steal_s,
            "attempted": len(lat),
            "failed": failed,
            "end_to_end": {
                "setup_s": statistics.median(s for s, _ in setups),
                "wall_s": wall_s,
                "op_p50_s": statistics.median(lat),
                "op_tail_s": tail_s,
                "op_tail_pct": tail_pct,
                "op_tail_beyond": beyond,
                "op_count": len(lat),
                "op_fail_ratio": failed / len(lat),
                "peak_rss_mb": b.peak_rss_mb(),
                "warehouse_mb": b.warehouse_mb() if dbt else 0.0,
            },
        }
        if tracer:
            layers = trace.layer_metrics(tracer.spans, cores())
            layers.update(
                {
                    "session.start_s": statistics.median(s for _, s in setups),
                    "dedup.frames_released": sum(op["frames_released"] for op in h.ops),
                    "storage.files_written": storage.get("files_written", 0),
                    "storage.write_amp": (
                        layers["storage.bytes_written"] / storage["ingested_b"] if dbt else 0.0
                    ),
                    "storage.warehouse_mb": record["end_to_end"]["warehouse_mb"],
                    "trace.overhead_ratio": wall_s / (wall_s - tracer.overhead_s),
                }
            )
            record.update(spans=tracer.spans, per_layer=layers, trace_collect_s=tracer.collect_s)
        return record
    finally:
        b.stop()
        shutil.rmtree(b.scratch, ignore_errors=True)


#: every end-to-end metric, printed with its unit on the line before the
#: result; the result line carries those BENCHMARK.json lists (see NOTES.md)
E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "op_fail_ratio": "ratio", "peak_rss_mb": "MB", "warehouse_mb": "MB",
}


def layer_unit(name: str) -> str:
    leaf = name.split(".")[1]
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_b") or leaf == "bytes_written":
        return "B"
    if leaf == "s" or leaf.endswith("_s") or leaf.startswith("model_s"):
        return "s"
    if leaf.endswith(("ratio", "amp")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--sf", type=float, default=0.02, help="input scale factor")
    args = parser.parse_args(argv)
    if importlib.util.find_spec("dbt_glue_spark") is None:
        print(f"no dbt_glue_spark package under {ROOT}", file=sys.stderr)
        return 2
    record = run(args)
    records = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(records, exist_ok=True)
    path = os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh)
    e2e = {k: {"value": record["end_to_end"][k], "unit": u} for k, u in E2E_UNITS.items()}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        layers = record["per_layer"]
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": layer_unit(m["name"])} for m in listed}
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in listed}
    info = {
        "stamp": record["stamp"],
        "end_to_end": e2e,
        "op_tail": {k: record["end_to_end"][k] for k in ("op_tail_pct", "op_tail_beyond", "op_count")},
        "steal_s": record["steal_s"],
        "record": path,
    }
    if args.trace:
        info["per_layer"] = {
            k: {"value": v, "unit": layer_unit(k)} for k, v in record["per_layer"].items()
        }
    print(json.dumps(info))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
