"""Round-12 fixes (the r11 ADVICE findings + bench hygiene):

1. ``paired_keep_best`` persists its signature frame — the Arrow-batched
   decode lineage materializes once per invocation instead of ~5-6×
   (the LSH band join + two verification joins + component vertex set +
   final scored join all reference it).
2. Streaming frontier static ledgers live in a NEVER-EVICTING
   stream-static registry (``pipelines._STATIC_CACHES``) instead of
   dedup's bounded LRU, so interleaved ``_persist``-heavy batch work
   can't silently evict a live stream's ledger and re-run its
   decode-bearing lineage every micro-batch; ``release_static_caches``
   reclaims them once the stream stops.
3. ``pair_signatures`` skips NULL pair ids (Arrow hands a nullable int
   column over as float64 — ``int(nan)`` used to crash the stage)
   following the module's visible-exclusion NULL contract.
4. ``bench._free_sidecar_name`` never returns an existing file: after
   the 27 stamped names are exhausted it degrades to a uuid suffix
   instead of silently overwriting the 'z' sibling.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_glue_spark.plans.media_dedup_queries import synth_dhash_png


# ---------------------------------------------------------------------------
# 1. paired_keep_best persists the decode-bearing signature frame
# ---------------------------------------------------------------------------


def test_paired_keep_best_persists_signature_frame(spark):
    from dbt_glue_spark.extensions import dedup
    from dbt_glue_spark.extensions.crossmodal import paired_keep_best

    dedup.release_caches()
    rows = [
        (i, f"cap {i % 3}", synth_dhash_png(i % 4, 0, False), i % 7)
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "pair_id long, caption string, content binary, quality long"
    )
    out = paired_keep_best(df)
    sig_frames = [
        f
        for f in dedup._LIVE_CACHES
        if set(f.columns) == {"pair_id", "caption_key", "dhash"}
    ]
    assert sig_frames, [f.columns for f in dedup._LIVE_CACHES]
    assert all(f.is_cached for f in sig_frames)
    # and the operator still answers correctly through the cache
    assert out.count() > 0
    dedup.release_caches()


# ---------------------------------------------------------------------------
# 2. stream-static ledger registry: never LRU-evicted, caller-released
# ---------------------------------------------------------------------------


def _ledger_cache_after_frontier(spark):
    from dbt_glue_spark.streaming import pipelines

    rows = [(i, synth_dhash_png(i % 4, 0, False)) for i in range(8)]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    from dbt_glue_spark.extensions.multimodal_dedup import image_dhash

    ledger = (
        image_dhash(media)
        .filter(F.col("status") == "ok")
        .select("dhash")
    )
    # building the stream plan registers + materializes the static side;
    # a batch frame stands in for the stream (the static side is all we
    # exercise here and join construction is lazy)
    pipelines.image_frontier_stream(media, ledger)
    assert pipelines._STATIC_CACHES
    return pipelines._STATIC_CACHES[-1]


def test_static_ledger_not_in_dedup_lru_and_survives_churn(spark):
    from dbt_glue_spark.extensions import dedup
    from dbt_glue_spark.streaming import pipelines

    pipelines.release_static_caches()
    seen = _ledger_cache_after_frontier(spark)
    assert seen.is_cached
    assert all(seen is not f for f in dedup._LIVE_CACHES)
    # churn the bounded LRU well past its capacity AND drain it — the
    # stream's ledger must stay cached through both
    for i in range(dedup._MAX_LIVE + 2):
        dedup._persist(spark.range(i + 1))
    dedup.release_caches()
    assert seen.is_cached
    released = pipelines.release_static_caches()
    assert released >= 1
    assert not seen.is_cached
    assert not pipelines._STATIC_CACHES


def test_release_static_caches_counts_pair_frontier_too(spark):
    from dbt_glue_spark.streaming import pipelines

    pipelines.release_static_caches()
    rows = [
        (i, f"cap {i % 2}", synth_dhash_png(i % 3, 0, False))
        for i in range(6)
    ]
    pairs = spark.createDataFrame(
        rows, "pair_id long, caption string, content binary"
    )
    from dbt_glue_spark.extensions.crossmodal import pair_signatures

    ledger = pair_signatures(pairs).select("caption_key", "dhash")
    pipelines.pair_frontier_stream(pairs, ledger)
    assert pipelines._STATIC_CACHES and pipelines._STATIC_CACHES[-1].is_cached
    assert pipelines.release_static_caches() >= 1


# ---------------------------------------------------------------------------
# 3. pair_signatures NULL-id contract
# ---------------------------------------------------------------------------


def test_pair_signatures_null_id_skipped_not_crashed(spark):
    from dbt_glue_spark.extensions.crossmodal import pair_signatures

    png = synth_dhash_png(1, 0, False)
    rows = [(0, "cap a", png), (None, "cap b", png), (7, "cap c", png)]
    df = spark.createDataFrame(
        rows, "pair_id long, caption string, content binary"
    )
    got = {r.pair_id for r in pair_signatures(df).collect()}
    assert got == {0, 7}


# ---------------------------------------------------------------------------
# 4. bench sidecar naming: exhaustion degrades, never overwrites
# ---------------------------------------------------------------------------


def test_free_sidecar_name_exhaustion_never_reuses(tmp_path):
    import bench

    name = "BENCH_DETAIL_r99.json"
    assert bench._free_sidecar_name(str(tmp_path), name) == name
    (tmp_path / name).write_text("{}")
    assert bench._free_sidecar_name(str(tmp_path), name) == "BENCH_DETAIL_r99a.json"
    for c in "abcdefghijklmnopqrstuvwxyz":
        (tmp_path / f"BENCH_DETAIL_r99{c}.json").write_text("{}")
    got = bench._free_sidecar_name(str(tmp_path), name)
    assert got.startswith("BENCH_DETAIL_r99-") and got.endswith(".json")
    assert not (tmp_path / got).exists()
