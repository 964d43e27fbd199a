"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py [--sf 0.001]

Runs every workload (``BENCHMARK.json`` lists only those the driver
times) untraced and traced and checks that the run is
correct, that every metric ``BENCHMARK.json`` names is reported with its
unit, and that the traced record is consistent: every op that is not a
view fires at least one Spark job, no span has a negative self time, and
the self times inside an op sum to no more than the op's wall time. It
also checks the layer split the workloads were chosen for: source loads
fire jobs in every ``tpch_analytics`` op, and only ``dbt_dag`` touches
the engine, catalog and storage layers.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

SEED = 7
DBT_ONLY = ("engine.", "catalog.", "storage.")


def run(workload: str, traced: int, sf: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(traced), "--sf", sf],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={traced} exited {out.returncode}:\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench", "records", f"{workload}-seed{SEED}-trace{traced}.json")
    with open(path) as fh:
        return result, json.load(fh)


def check_spans(workload: str, record: dict, problems: list[str]) -> None:
    spans = record["spans"]
    own = trace.self_times(spans)
    by_op = defaultdict(list)
    for s in spans:
        by_op[tuple(s["op"]) if s["op"] else None].append(s)
    for op in (s for s in spans if s["name"] == "op"):
        members = by_op[tuple(op["op"])]
        wall = op["end"] - op["start"]
        jobs = sum(s.get("jobs", 0) for s in members)
        layers = sum(own[s["id"]] for s in members if s is not op)
        label = f"{workload}/{op['label']}"
        mat = [s.get("mat") for s in members if s["name"] == "engine.model"]
        if jobs < 1 and mat != ["view"]:
            problems.append(f"{label}: fired no Spark job")
        if any(own[s["id"]] < -1e-6 for s in members):
            problems.append(f"{label}: negative self time")
        if layers > wall + 1e-6:
            problems.append(f"{label}: layer self times {layers:.4f} s > op wall {wall:.4f} s")
        if workload == "tpch_analytics":
            loads = sum(s.get("jobs", 0) for s in members if s["name"] == "sources.load")
            if loads < 1:
                problems.append(f"{label}: source loads fired no job")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--sf", default="0.001")
    args = parser.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems: list[str] = []
    for workload in WORKLOADS:
        for traced, metrics in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            result, record = run(workload, traced, args.sf)
            if not result["correct"] or result["failed"]:
                errors = [op.get("error") for op in record["ops"] if not op["ok"]]
                problems.append(f"{workload} trace={traced}: wrong or failed ops {errors}")
            for m in metrics:
                got = result["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{workload}: metric {m['name']} [{m['unit']}] reported as {got}")
            if set(result["metrics"]) != {m["name"] for m in metrics}:
                problems.append(f"{workload} trace={traced}: unlisted metrics reported")
            if traced:
                check_spans(workload, record, problems)
                for name, got in result["metrics"].items():
                    # a view is metadata only: it fires no job even in dbt_dag
                    if name.startswith(DBT_ONLY) and not name.endswith(".view"):
                        if (got["value"] != 0) != (workload == "dbt_dag"):
                            problems.append(f"{workload}: {name} = {got['value']}")
            print(f"{workload} trace={traced}: checked", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
