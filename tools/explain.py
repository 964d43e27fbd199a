"""Capture .explain('formatted') for catalog queries into a directory.

Usage:
    python tools/explain.py <out_dir> before [query ...]
    python tools/explain.py <out_dir> after  [query ...]

Writes <out_dir>/<query>_<tag>.txt for each query (default: the bench
headline set), planned over $SPARK_GRAFT_SF_DIR (default sf0.1). Also
prints a one-line plan-shape summary per query: Exchange count, join
strategies, Python-eval nodes — the metrics the optimization guide says
to watch (§7.2).

A ``streaming_*`` spec drains its stream into a sink and returns the
sink's table, whose plan says nothing about the stream. For those the
tool records, for each query the spec drains through ``streams.drain``,
the physical plan of the query's last micro-batch; a spec whose query
ran no micro-batch gets the ``NOT_CAPTURED`` line instead of a plan.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTENSION_HEADLINE, HEADLINE  # noqa: E402
from dbt_glue_spark.plans import streams  # noqa: E402
from dbt_glue_spark.plans.catalog import SPECS  # noqa: E402
from dbt_glue_spark.session import get_spark  # noqa: E402


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


NOT_CAPTURED = "streaming: plan not captured (no micro-batch ran)"


def spec_plan(spark, spec, sf_dir: str) -> str:
    """The plan of the frame ``spec`` builds; for a streaming spec, the
    last micro-batch plan of each query it drains (the spec still runs
    its stream once)."""
    if not spec.name.startswith("streaming_"):
        return plan_text(spec.fn(spark, sf_dir))
    seen = []
    drain = streams.drain

    def capture(q, *args, **kwargs):
        drain(q, *args, **kwargs)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain()
        if "Physical Plan" in buf.getvalue():
            seen.append(buf.getvalue())

    streams.drain = capture
    try:
        spec.fn(spark, sf_dir)
    finally:
        streams.drain = drain
    return "\n".join(seen) if seen else NOT_CAPTURED


def summarize(plan: str) -> str:
    if plan == NOT_CAPTURED:
        return plan
    n_ex = len(re.findall(r"\bExchange\b", plan))
    joins = re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)\b",
        plan,
    )
    py = re.findall(
        r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
        r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas)\b",
        plan,
    )
    from collections import Counter

    j = ",".join(f"{k}x{v}" for k, v in sorted(Counter(joins).items()))
    p = ",".join(f"{k}x{v}" for k, v in sorted(Counter(py).items()))
    return f"Exchange={n_ex} joins=[{j}] py=[{p}]"


def main(argv: list[str]) -> None:
    out_dir, tag, names = argv[0], argv[1], argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    specs = SPECS()
    if not names:
        names = [n for n in HEADLINE + EXTENSION_HEADLINE if n in specs]
    for name in names:
        try:
            plan = spec_plan(spark, specs[name], sf_dir)
        except Exception as exc:  # noqa: BLE001 — record, keep going
            plan = f"ERROR: {type(exc).__name__}: {exc}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {summarize(plan)}", flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
