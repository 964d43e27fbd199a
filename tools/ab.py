"""Interleaved same-session A/B of two arms over one or more cases.

Absolute cross-run timings on a shared box flap 1.3-5x, so they are not
decision-grade. This harness alternates arm A and arm B rep by rep inside
ONE Spark session, so box drift hits both arms equally. Every arm gets
one unmeasured warm-up rep (codegen, parquet footers) before the timed
reps, every rep is forced with a ``noop`` write, and both cache
registries are released after every rep. Each case prints one line:
each arm's median, the B/A ratio, and the samples.

Usage:
    python tools/ab.py conf  <conf_key> <valueA> <valueB> <reps_per_arm> q1 q2 ...
    python tools/ab.py code  <old_module_path> <fn_name> <reps_per_arm> <builder_py>
    python tools/ab.py specs <old_module_path> <live_module_name> \\
        <fn1,fn2,...> <reps_per_arm> <spec1,spec2,...>

Queries are planned over $SPARK_GRAFT_SF_DIR (default sf0.1).

- ``conf``: arm A runs each catalog query with ``conf_key=valueA``, arm B
  with ``valueB``. Include a no-join control query to read the noise
  floor, e.g. ``ab.py conf spark.sql.join.preferSortMergeJoin false true
  5 q21_waiting_suppliers ext_prefix_jaccard_join window_running_total``.
- ``code``: old (arm A, loaded verbatim from a file, e.g. a ``git show``
  of the old ref) vs live (arm B) versions of one operator function.
  ``builder_py`` is a Python expression with ``fn``, ``load``, ``spark``
  and ``sf_dir`` in scope returning the output DataFrame, e.g.
  ``"fn(load('embeddings'), load('embeddings').filter('vec_id < 4'),
  n_candidates=20, k=8)"``.
- ``specs``: catalog queries under the old (A) vs live (B) versions of
  the named functions of one module. The old functions are patched onto
  the live module between reps; spec bodies resolve ``module.fn`` at call
  time, so the swap is complete and is undone after each query.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import statistics
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from dbt_glue_spark.extensions.dedup import release_caches  # noqa: E402
from dbt_glue_spark.plans.catalog import SPECS  # noqa: E402
from dbt_glue_spark.session import get_spark  # noqa: E402
from dbt_glue_spark.sources.registry import load_table  # noqa: E402
from dbt_glue_spark.streaming.pipelines import release_static_caches  # noqa: E402


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def release(spark: SparkSession) -> None:
    release_caches()
    release_static_caches()
    spark.catalog.clearCache()


def interleave(
    spark: SparkSession, label: str, arms: dict[str, Callable[[], DataFrame]], reps: int
) -> None:
    """Time ``reps`` alternating reps per arm after one warm-up rep each;
    an arm is a callable that sets its state and builds the DataFrame."""
    samples: dict[str, list[float]] = {a: [] for a in arms}
    order = list(arms) * (reps + 1)
    for i, a in enumerate(order):
        spark.sparkContext.setJobDescription(f"ab:{label}:{a}:{i}")
        t0 = time.monotonic()
        force(arms[a]())
        dt = time.monotonic() - t0
        release(spark)
        if i >= len(arms):
            samples[a].append(dt)
    (a, sa), (b, sb) = samples.items()
    ma, mb = statistics.median(sa), statistics.median(sb)
    print(
        f"{label}: {a}={ma:.3f} {b}={mb:.3f} {b}/{a}={mb / ma:.3f} "
        f"{a}[{','.join(f'{x:.2f}' for x in sa)}] "
        f"{b}[{','.join(f'{x:.2f}' for x in sb)}]",
        flush=True,
    )


def _load_file(path: str):
    spec = importlib.util.spec_from_file_location("ab_old_mod", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def ab_conf(spark, sf_dir, key, va, vb, reps, *names) -> None:
    specs = SPECS()
    print(f"# A = {key}={va}   B = {key}={vb}   reps/arm = {reps}", flush=True)

    def arm(value, fn):
        def run():
            spark.conf.set(key, value)
            return fn(spark, sf_dir)

        return run

    for name in names:
        fn = specs[name].fn
        interleave(spark, name, {"A": arm(va, fn), "B": arm(vb, fn)}, int(reps))


def ab_code(spark, sf_dir, old_path, fn_name, reps, expr) -> None:
    old_fn = getattr(_load_file(old_path), fn_name)
    import dbt_glue_spark.extensions.retrieval  # noqa: F401
    import dbt_glue_spark.extensions.similarity  # noqa: F401

    new_fn = next(
        getattr(mod, fn_name)
        for name, mod in sorted(sys.modules.items())
        if name.startswith("dbt_glue_spark") and hasattr(mod, fn_name)
    )

    def load(t):
        return load_table(spark, sf_dir, t)

    def arm(fn):
        scope = {"fn": fn, "load": load, "spark": spark, "sf_dir": sf_dir}
        return lambda: eval(expr, scope)

    interleave(spark, fn_name, {"old": arm(old_fn), "new": arm(new_fn)}, int(reps))


def ab_specs(spark, sf_dir, old_path, live_name, fn_csv, reps, spec_csv) -> None:
    live_mod = importlib.import_module(live_name)
    fn_names = fn_csv.split(",")
    new_fns = {n: getattr(live_mod, n) for n in fn_names}
    old_mod = _load_file(old_path)
    old_fns = {n: getattr(old_mod, n) for n in fn_names}
    specs = SPECS()

    def arm(fns, spec_fn):
        def run():
            for n, f in fns.items():
                setattr(live_mod, n, f)
            return spec_fn(spark, sf_dir)

        return run

    for sname in spec_csv.split(","):
        fn = specs[sname].fn
        try:
            interleave(
                spark, sname, {"old": arm(old_fns, fn), "new": arm(new_fns, fn)}, int(reps)
            )
        finally:
            for n, f in new_fns.items():
                setattr(live_mod, n, f)


MODES = {"conf": ab_conf, "code": ab_code, "specs": ab_specs}


def main(argv: list[str]) -> None:
    mode, args = MODES[argv[0]], argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")
    mode(spark, sf_dir, *args)


if __name__ == "__main__":
    main(sys.argv[1:])
