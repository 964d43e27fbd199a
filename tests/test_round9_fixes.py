"""Round-9 fixes for the four r8 ADVICE findings — each test reproduces
the advised defect scenario and pins the fixed contract:

1. vocab_growth: an all-NULL-text bucket must emit n_tokens=0 (the
   oracle's COALESCE), not NULL (medium — exact-parity gate breaker on
   corpora with an all-NULL-text id range).
2. psi_js_drift_by_group: a NULL group present in BOTH snapshots used to
   produce duplicate contradictory one-sided rows (NULL != NULL in the
   joins); NULL groups are now excluded up front.
3. ppswor_sample_by_group: a NULL key has no deterministic uniform and
   (ASC NULLS FIRST) always stole a sample slot with NULL est math;
   NULL keys are now excluded before ranking.
4. value_histogram: NULL values used to land in the TOP bucket (least()
   ignores NULLs) so a NULL-rate change masqueraded as tail drift; NULL
   values are now excluded before bucketing.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_vocab_growth_all_null_bucket_emits_zero_tokens(spark):
    from dbt_glue_spark.extensions.text_analysis import vocab_growth

    # ids 0..9 hold text, ids 10..19 are all-NULL text → with 2 buckets
    # the second bucket's docs have no tokens at all
    rows = [(i, "alpha beta gamma") for i in range(10)]
    rows += [(i, None) for i in range(10, 20)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.bucket: r for r in vocab_growth(df, n_buckets=2).collect()}
    assert out[1].n_docs == 10
    assert out[1].n_tokens == 0  # was NULL before the coalesce fix
    assert out[1].n_new_types == 0
    # cumulative columns still monotone and non-NULL
    assert out[1].cum_tokens == out[0].cum_tokens
    assert out[1].cum_types == out[0].cum_types


def test_psi_by_group_null_group_excluded(spark):
    from dbt_glue_spark.extensions.audit import psi_js_drift_by_group

    rows_a = [(None, 10), (None, 200), ("s1", 10), ("s1", 20)]
    rows_b = [(None, 10), ("s1", 10), ("s1", 30)]
    a = spark.createDataFrame(rows_a, "src string, v bigint")
    b = spark.createDataFrame(rows_b, "src string, v bigint")
    out = psi_js_drift_by_group(a, b, "src", "v", bucket_width=16, n_buckets=4)
    rows = out.collect()
    # exactly one row (s1); the NULL group no longer yields duplicate
    # contradictory one-sided rows
    assert [r.src for r in rows] == ["s1"]
    r = rows[0]
    assert r.n_a == 2 and r.n_b == 2 and r.psi is not None


def test_psi_by_group_null_value_excluded(spark):
    from dbt_glue_spark.extensions.audit import psi_js_drift_by_group

    a = spark.createDataFrame(
        [("s1", 10), ("s1", 20), ("s1", None)], "src string, v bigint"
    )
    b = spark.createDataFrame([("s1", 10), ("s1", 20)], "src string, v bigint")
    r = psi_js_drift_by_group(a, b, "src", "v", bucket_width=16, n_buckets=4).collect()[0]
    # NULL value does not count toward n_a nor land in the top bucket
    assert r.n_a == 2 and r.n_b == 2
    assert r.psi == 0.0 and r.js == 0.0


def test_ppswor_null_key_excluded(spark):
    from dbt_glue_spark.extensions.sampling import ppswor_sample_by_group

    rows = [("g", i, 100) for i in range(5)] + [("g", None, 1_000_000)]
    df = spark.createDataFrame(rows, "src string, id bigint, w bigint")
    out = ppswor_sample_by_group(df, "src", "id", "w", k=3).collect()
    assert len(out) == 3
    assert all(r.id is not None for r in out)  # NULL key never wins a slot
    assert all(r.est_weight is not None for r in out)


def test_value_histogram_excludes_nulls(spark):
    from dbt_glue_spark.extensions.audit import value_histogram

    df = spark.createDataFrame(
        [(10,), (10,), (None,), (None,), (500,)], "v bigint"
    )
    hist = {r.bucket: r.cnt for r in value_histogram(df, "v", 16, 4).collect()}
    # NULLs neither in the top bucket nor anywhere else; 500 overflows to 3
    assert hist == {0: 2, 3: 1}
    assert sum(hist.values()) == 3


def test_drift_null_rate_change_not_tail_drift(spark):
    """The advised failure: snapshot B differs from A ONLY in NULL rate.
    Post-fix the drift monitor reads the two snapshots as identical —
    no phantom mass in bucket n_buckets-1."""
    from dbt_glue_spark.extensions.audit import distribution_drift

    a = spark.createDataFrame([(10,)] * 8 + [(None,)] * 0, "doc_len bigint")
    b = spark.createDataFrame([(10,)] * 8 + [(None,)] * 5, "doc_len bigint")
    rows = distribution_drift(a, b, "doc_len", bucket_width=32, n_buckets=32).collect()
    assert len(rows) == 1 and rows[0].bucket == 0
    assert rows[0].abs_prop_diff == 0.0 and rows[0].chi2_term == 0.0


# ---------------------------------------------------------------------------
# dup_clusters ignores the retired auto-partition variable (VERDICT r8 item 7)
# ---------------------------------------------------------------------------


def test_dup_clusters_auto_partitions_invariant(spark, sf_dir, monkeypatch):
    """The retired ``SPARK_GRAFT_AUTO_PARTITIONS`` variable changes
    nothing: ``dup_clusters`` sizes its loop from the session's shuffle
    settings, so setting it to 1 leaves the clusters as they were."""
    from dbt_glue_spark.extensions.dedup import (
        dup_clusters,
        minhash_lsh_pairs,
        release_caches,
    )
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    base = sorted(map(tuple, dup_clusters(docs, pairs).collect()))
    release_caches()
    monkeypatch.setenv("SPARK_GRAFT_AUTO_PARTITIONS", "1")
    flagged = sorted(map(tuple, dup_clusters(docs, pairs).collect()))
    release_caches()
    assert flagged == base
