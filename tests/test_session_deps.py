"""U5: jars / py_files session plumbing (reference credentials.py:17,24,49
extra_jars / extra_py_files, applied at session create via
connection.py:162-169).

Conf plumbing is checked on the pure build_conf dict (getOrCreate would
silently ignore new conf on the live test session); actual executor
shipping is checked end-to-end with add_py_files + a UDF that imports
the shipped module on executors.

Also here: session.py is the one module that reads the environment.
"""

from __future__ import annotations

import ast
import glob
import os
import tempfile
import textwrap

from dbt_glue_spark.session import add_py_files, build_conf


def test_build_conf_plumbs_jars_and_py_files():
    conf = build_conf(
        jars=["/opt/a.jar", "/opt/b.jar"],
        py_files=["/deps/helper.py", "/deps/pkg.zip"],
    )
    assert conf["spark.jars"] == "/opt/a.jar,/opt/b.jar"
    assert conf["spark.submit.pyFiles"] == "/deps/helper.py,/deps/pkg.zip"
    # defaults survive alongside
    assert conf["spark.sql.adaptive.enabled"] == "true"
    # extra_conf wins last
    conf2 = build_conf(extra_conf={"spark.jars": "/override.jar"}, jars=["/opt/a.jar"])
    assert conf2["spark.jars"] == "/override.jar"


def test_build_conf_omits_dep_keys_when_unset():
    conf = build_conf()
    assert "spark.jars" not in conf and "spark.submit.pyFiles" not in conf


def test_add_py_files_module_importable_from_udf(spark):
    # ship a real module and import it INSIDE a pandas UDF running on
    # executor workers — the end-to-end proof the dependency actually
    # travels, not just that a conf string was set
    d = tempfile.mkdtemp(prefix="dgs_pyfiles_")
    mod = os.path.join(d, "dgs_shipped_helper.py")
    with open(mod, "w") as fh:
        fh.write(textwrap.dedent("""
            MAGIC = 41

            def bump(x):
                return x + 1
        """))
    add_py_files(spark, [mod])

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.udf(returnType=LongType())
    def use_shipped(x):
        import dgs_shipped_helper as m

        return m.bump(m.MAGIC) + x

    out = spark.range(3).select(use_shipped("id").alias("v")).collect()
    assert sorted(r["v"] for r in out) == [42, 43, 44]


def test_only_session_reads_the_environment():
    """Every ``os.environ`` / ``os.getenv`` read in the package is in
    session.py, where it sizes or locates the session; an operator that
    picks its plan from an environment variable is a code path no
    catalog query, test or benchmark run sees by default."""
    pkg = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "dbt_glue_spark")
    offenders = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        if os.path.relpath(path, pkg) == "session.py":
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv")
            ) or (
                isinstance(node, ast.ImportFrom)
                and node.module == "os"
                and any(a.name in ("environ", "getenv") for a in node.names)
            ):
                offenders.append(f"{os.path.relpath(path, pkg)}:{node.lineno}")
    assert not offenders


def test_codegen_cache_holds_a_pass_of_two_queries(spark, sf_dir):
    """Two catalog queries that together compile more classes than Spark's
    default codegen cache holds (100) are run twice; the repeat finds its
    classes in the cache. AQE can re-plan a stage differently on a repeat,
    which generates a class never seen before (0-4 per repeat measured),
    so the repeat is bounded by a handful, against ~80 recompiles with
    the default cache."""
    from dbt_glue_spark.extensions import dedup
    from dbt_glue_spark.plans.catalog import QUERIES

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    queries = QUERIES()

    def one_round() -> int:
        before = compiles.getCount()
        for name in ("ext_minhash_lsh_pairs", "ext_prefix_jaccard_join"):
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dedup.release_caches()
        return compiles.getCount() - before

    one_round()
    assert one_round() <= 8
