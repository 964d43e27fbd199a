"""Cached intermediates are sized by AQE like uncached stages.

The session sets ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
so a frame cached through ``dedup._persist`` is planned with partition
coalescing on; without it every cached frame keeps all
``spark.sql.shuffle.partitions`` partitions and each stage that reads it
runs that many near-empty tasks. A by-number ``repartition(n, col)`` must
still keep its ``n`` partitions: the conf must not undo a co-partitioning
that a plan asks for explicitly.

Also here: the singleton band-bucket prune in ``minhash_lsh_pairs`` leaves
its output unchanged.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def shuffle32(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", old)


def test_cached_groupby_is_coalesced(shuffle32):
    from dbt_glue_spark.extensions import dedup

    df = shuffle32.range(10).select((F.col("id") % 5).alias("k"), "id")
    cached = dedup._persist(df.groupBy("k").agg(F.sum("id").alias("s")))
    try:
        assert cached.count() == 5
        assert cached.rdd.getNumPartitions() < 32
    finally:
        cached.unpersist()


def test_cached_repartition_by_number_keeps_its_partitions(shuffle32):
    from dbt_glue_spark.extensions import dedup

    df = shuffle32.range(10).select((F.col("id") % 5).alias("k"), "id")
    cached = dedup._persist(df.repartition(8, "k"))
    try:
        assert cached.count() == 10
        assert cached.rdd.getNumPartitions() == 8
    finally:
        cached.unpersist()


def _corpus(spark):
    # 30 unrelated documents (each band bucket of theirs is a singleton)
    # plus three near-duplicate families of four one-word edits each
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(30)
    ]
    for f in range(3):
        base = [f"fam{f}_{j}" for j in range(12)]
        for v in range(4):
            words = list(base)
            words[v] = f"edit{f}_{v}"
            rows.append((100 + 10 * f + v, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_singleton_bucket_prune_keeps_pairs(spark):
    from dbt_glue_spark.extensions.dedup import minhash_lsh_pairs, release_caches

    docs = _corpus(spark)
    try:
        exact = {
            tuple(r)
            for r in minhash_lsh_pairs(docs, threshold=0.3, max_band_bucket=None).collect()
        }
        capped = {
            tuple(r)
            for r in minhash_lsh_pairs(docs, threshold=0.3, max_band_bucket=64).collect()
        }
    finally:
        release_caches()
    assert exact, "corpus must yield near-dup pairs"
    assert {(a // 10, b // 10) for a, b, _ in exact} <= {(10, 10), (11, 11), (12, 12)}
    assert capped == exact
