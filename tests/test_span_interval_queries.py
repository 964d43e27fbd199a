"""Direct tests for the queries in plans/span_interval_queries.py
(substring spans, ledger compaction, change points, sorted neighbourhood
and interval joins).

Each spec is proven against its DuckDB oracle with the exact compare of
tools/check_parity.py; each operator also gets hand-computed,
brute-force or property checks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_glue_spark.plans import span_interval_queries
from dbt_glue_spark.plans.catalog import SPECS
from tools.check_parity import compare


SPECS_HERE = {
    n: s for n, s in SPECS().items() if s.fn.__module__ == span_interval_queries.__name__
}


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(SPECS_HERE))
def test_oracle_parity(spark, sf_dir, name):
    err = compare(spark, SPECS_HERE[name], sf_dir)
    assert err is None, err


def test_exact_substring_spans_brute_force(spark):
    """Hand-verifiable corpus: coverage must equal the union of seed
    intervals a naive O(n²·L) scan finds."""
    from dbt_glue_spark.extensions.dedup import exact_substring_spans

    L = 4
    # doc 1 owns "a b c d e f" (first occurrence); doc 2 embeds the same
    # 6-token run (two overlapping dup seeds -> one island covering 6
    # tokens); doc 3 embeds two disjoint copies of 4-token runs from
    # doc 1 -> two islands of 4; doc 4 is all-unique.
    rows = [
        (1, "a b c d e f x1 y1 z1"),
        (2, "p q a b c d e f r s"),
        (3, "a b c d k1 k2 c d e f"),
        (4, "u1 u2 u3 u4 u5 u6"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_seeds, r.n_dup_seeds, r.n_islands, r.dup_tokens)
        for r in exact_substring_spans(df, min_len=L).collect()
    }
    # brute force in python
    toks = {i: t.split() for i, t in rows}
    seeds = {}
    for i, tk in toks.items():
        for p in range(len(tk) - L + 1):
            seeds.setdefault(tuple(tk[p : p + L]), []).append((i, p + 1))
    dup_pos = {i: set() for i in toks}
    for occ in seeds.values():
        for d, p in sorted(occ)[1:]:
            dup_pos[d].add(p)
    for i, tk in toks.items():
        cover = set()
        for p in dup_pos[i]:
            cover.update(range(p, p + L))
        # islands = maximal runs of positions with gap <= L
        ps = sorted(dup_pos[i])
        nisl = sum(
            1 for j, p in enumerate(ps) if j == 0 or p - ps[j - 1] > L
        )
        n_seeds = max(len(tk) - L + 1, 0)
        assert got[i] == (len(tk), n_seeds, len(ps), nisl, len(cover)), (
            i,
            got[i],
            (len(tk), n_seeds, len(ps), nisl, len(cover)),
        )


def test_exact_substring_spans_layout_invariant(spark, sf_dir):
    """Pure function of the data: identical report under any physical
    partitioning (no partition-dependent winners)."""
    from dbt_glue_spark.extensions.dedup import exact_substring_spans
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    a = sorted(tuple(r) for r in exact_substring_spans(docs).collect())
    b = sorted(
        tuple(r) for r in exact_substring_spans(docs.repartition(7)).collect()
    )
    assert a == b


def test_compact_band_ledger_preserves_leader_mapped_recall(spark, sf_dir):
    """The compaction contract: candidate pairs from a future batch
    against the compacted ledger, with ids mapped to group leaders, must
    equal the pairs against the FULL ledger mapped the same way — dropped
    rows are exactly the redundant ones."""
    from dbt_glue_spark.extensions.dedup import (
        compact_band_ledger,
        minhash_band_ledger,
        minhash_lsh_incremental,
    )
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # near-dup group members: one-token perturbation, known id->leader map
    extra = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    aug = docs.unionByName(extra)
    ledger = minhash_band_ledger(aug)
    gmap = aug.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") >= 1000000, F.col("doc_id") - 1000000)
        .otherwise(F.col("doc_id"))
        .alias("leader"),
    )
    compacted = compact_band_ledger(ledger, gmap)
    n_full, n_comp = ledger.count(), compacted.count()
    assert n_comp < n_full, (n_comp, n_full)  # it actually compacts

    future = docs.limit(50).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )

    def leader_pairs(led):
        pairs, _ = minhash_lsh_incremental(future, led)
        lead = gmap.withColumnRenamed("id", "xid")
        m = (
            pairs.join(lead, pairs["id_a"] == F.col("xid"), "left")
            .select(F.coalesce("leader", "id_a").alias("a"), "id_b")
            .join(lead, F.col("id_b") == F.col("xid"), "left")
            .select("a", F.coalesce("leader", "id_b").alias("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .distinct()
        )
        return set(map(tuple, m.collect()))

    assert leader_pairs(ledger) == leader_pairs(compacted)


def test_compact_band_ledger_no_groups_is_identity(spark, sf_dir):
    """Docs absent from doc_groups (or mapped to themselves) keep every
    row — compaction never drops state it cannot prove redundant."""
    from dbt_glue_spark.extensions.dedup import (
        compact_band_ledger,
        minhash_band_ledger,
    )
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(100)
    ledger = minhash_band_ledger(docs)
    self_map = docs.select(
        F.col("doc_id").alias("id"), F.col("doc_id").alias("leader")
    )
    empty_map = self_map.limit(0)
    n = ledger.count()
    assert compact_band_ledger(ledger, self_map).count() == n
    assert compact_band_ledger(ledger, empty_map).count() == n


def test_priority_sample_stream_replay_is_noop(spark, tmp_path):
    """The set-merge property the sink's reset_on_takeover=False relies
    on: re-merging an already-merged frame leaves the ledger unchanged
    (at-least-once redelivery cannot perturb the sample)."""
    from dbt_glue_spark.extensions.sampling import priority_frame

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("w")
    )
    k = 32
    bp = (
        priority_frame(df, "doc_id", "w", "7")
        .orderBy("priority", "doc_id")
        .limit(k + 1)
    )
    once = bp.unionByName(bp).distinct().orderBy("priority", "doc_id").limit(k + 1)
    a = sorted(tuple(r) for r in bp.collect())
    b = sorted(tuple(r) for r in once.collect())
    assert a == b


def test_cusum_changepoints_brute_force(spark):
    """Hand corpus with a known level shift: the last 5 of 10 points sit
    ~+10 above the first 5, so Page's statistic must peak at the series
    end and the brute-force recursion S_i = max(0, S_{i-1} + (x_i - mean))
    must agree with the bucketed prefix-sum identity exactly."""
    from dbt_glue_spark.extensions.audit import cusum_changepoints

    series = {
        "a": [5.0, 6.0, 4.0, 5.0, 5.0, 15.0, 16.0, 14.0, 15.0, 15.0],
        "b": [7.0] * 6,  # constant: S == 0 everywhere
        "c": [3.0],  # single point: y = 0
    }
    rows = [
        (k, i + 1, i + 100, v)
        for k, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k string, o long, tie long, x double")
    got = {
        r.k: (r.n, r.cusum_num, r.cusum_max, r.changepoint_at, r.n_alarms)
        for r in cusum_changepoints(
            df, "k", "o", "tie", "x", scale=100, thr_num=2, thr_den=1,
            n_buckets=3,
        ).collect()
    }
    for k, vals in series.items():
        n = len(vals)
        v = [int(x * 100 + 0.5) for x in vals]
        tot = sum(v)
        s, smax, arg, alarms = 0, 0, 1, 0
        for i, vi in enumerate(v):
            s = max(0, s + vi * n - tot)
            if s > smax:
                smax, arg = s, i + 1
            if s > 2 * n * 100:
                alarms += 1
        exp_max = int(smax / (n * 100.0) * 1e6 + 0.5) / 1e6
        assert got[k] == (n, smax, exp_max, arg if smax > 0 else None, alarms) or (
            # all-zero series: argmax is the earliest position (o=1)
            smax == 0 and got[k] == (n, 0, 0.0, 1, 0)
        ), (k, got[k], (n, smax, exp_max, arg, alarms))


def test_sorted_neighborhood_brute_force(spark):
    """The bucketed-rank pair set must equal naive sort-then-slide, and
    be invariant to physical layout (rank is a pure function of the
    data). Includes ties, shared prefixes, empty and NULL keys."""
    from dbt_glue_spark.extensions.dedup import sorted_neighborhood_pairs

    rows = [
        (1, "en", "alpha beta"),
        (2, "en", "alpha beta gamma"),
        (3, "en", "alpha"),
        (4, "de", "alpha beta"),
        (5, "en", "zulu"),
        (6, "en", ""),
        (7, None, "alpha beta"),
        (8, "en", "alpha beta"),  # exact tie with 1 on (g, s)
        (9, "en", None),
        (10, "fr", "beta"),
    ]
    df = spark.createDataFrame(rows, "id long, g string, s string")
    w = 3
    got = sorted(
        tuple(r)
        for r in sorted_neighborhood_pairs(df, "id", "g", "s", window=w).collect()
    )
    got_rep = sorted(
        tuple(r)
        for r in sorted_neighborhood_pairs(
            df.repartition(7), "id", "g", "s", window=w
        ).collect()
    )
    ordered = sorted(rows, key=lambda r: (r[1] or "", r[2] or "", r[0]))
    exp = sorted(
        (a[0], b[0], j - i)
        for i, a in enumerate(ordered)
        for j, b in enumerate(ordered)
        if 0 < j - i < w
    )
    assert got == exp, (got, exp)
    assert got_rep == exp


def test_interval_overlap_join_brute_force(spark):
    """Pair set == naive O(n^2) overlap scan, each pair EXACTLY once
    (the first-common-bucket rule), on an axis crossing zero with
    touching endpoints, containment, inverted and NULL bounds."""
    import random

    from dbt_glue_spark.operators.temporal import interval_overlap_join

    rng = random.Random(11)
    A = [(i, rng.randint(-40, 40), rng.randint(-40, 40)) for i in range(60)]
    B = [(100 + i, rng.randint(-40, 40), rng.randint(-40, 40)) for i in range(60)]
    A.append((98, None, 5))
    B.append((199, 3, None))
    la = spark.createDataFrame(A, "aid long, s long, e long")
    rb = spark.createDataFrame(B, "bid long, s long, e long")
    for width in (1, 7, 64):
        got = sorted(
            tuple(r)
            for r in interval_overlap_join(
                la, rb, ("aid", "s", "e"), ("bid", "s", "e"), bucket_width=width
            ).collect()
        )
        exp = []
        for aid, as_, ae in A:
            if as_ is None or ae is None:
                continue
            ae = max(as_, ae)
            for bid, bs, be in B:
                if bs is None or be is None:
                    continue
                be = max(bs, be)
                if as_ <= be and bs <= ae:
                    exp.append((aid, bid, max(as_, bs), min(ae, be)))
        assert got == sorted(exp), (width, len(got), len(exp))
        assert len(got) == len(set(got))  # exactly-once, no dedup pass


def test_interval_overlap_join_bucket_blowup_guard(spark):
    """An extreme-length interval (epoch-micros-scale span against the
    default width) must FAIL the job with the explicit guard message —
    never silently materialize a multi-billion-row bucket sequence —
    while the same data passes once the cap is raised to cover it."""
    from dbt_glue_spark.operators.temporal import interval_overlap_join

    la = spark.createDataFrame(
        [(1, 0, 10_000_000)], "aid long, s long, e long"
    )
    rb = spark.createDataFrame([(2, 5, 9)], "bid long, s long, e long")
    bad = interval_overlap_join(
        la, rb, ("aid", "s", "e"), ("bid", "s", "e"),
        bucket_width=16, max_buckets_per_interval=1000,
    )
    with pytest.raises(Exception, match="max_buckets_per_interval"):
        bad.collect()
    ok = interval_overlap_join(
        la, rb, ("aid", "s", "e"), ("bid", "s", "e"),
        bucket_width=16, max_buckets_per_interval=1_000_000,
    ).collect()
    assert [tuple(r) for r in ok] == [(1, 2, 5, 9)]
    with pytest.raises(ValueError, match="max_buckets_per_interval"):
        interval_overlap_join(
            la, rb, ("aid", "s", "e"), ("bid", "s", "e"),
            max_buckets_per_interval=0,
        )


def test_interval_overlap_join_rejects_colliding_id_names(spark):
    """Both sides' id columns appear in the output: equal names would
    alias two different columns to one and break downstream selects —
    rejected up front with a rename hint."""
    from dbt_glue_spark.operators.temporal import interval_overlap_join

    df = spark.createDataFrame([(1, 0, 5)], "id long, s long, e long")
    with pytest.raises(ValueError, match="rename"):
        interval_overlap_join(df, df, ("id", "s", "e"), ("id", "s", "e"))


def test_cusum_null_tie_rows_dropped(spark):
    """NULL tie rows are excluded like NULL value/order rows: within-key
    ordering stays engine-deterministic instead of drifting on
    Spark-NULLS-FIRST vs DuckDB-NULLS-LAST."""
    from dbt_glue_spark.extensions.audit import cusum_changepoints

    rows = [
        ("k", 1, "1", 10.0),
        ("k", 2, None, 99.0),   # NULL tie -> dropped
        ("k", 2, "2", 20.0),
        ("k", 3, "3", 30.0),
    ]
    df = spark.createDataFrame(rows, "k string, o long, tie string, v double")
    kept = df.filter(F.col("tie").isNotNull())
    got = cusum_changepoints(df, "k", "o", "tie", "v").collect()
    exp = cusum_changepoints(kept, "k", "o", "tie", "v").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    assert got[0].n == 3


def test_staged8_survive_empty_input(spark, sf_dir, tmp_path_factory):
    """Zero-row tables: every round-8 spec returns an empty or
    NULL-aggregate frame with its normal schema, never raises. (Added
    round 8: the pool shipped WITHOUT this gate and
    streaming_priority_sample raised FileNotFoundError on an empty
    corpus — no batches ⇒ no committed ledger — caught by the full
    empty-input sweep and fixed via the read_ledger_or contract.)"""
    import os

    from dbt_glue_spark.sources.registry import TABLES, load_table

    out = str(tmp_path_factory.mktemp("sf_empty_staged8"))
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    for name, spec in sorted(SPECS_HERE.items()):
        rows = spec.fn(spark, out)
        assert isinstance(rows.collect(), list), name
