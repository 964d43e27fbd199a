"""Direct tests for the queries in plans/drift_audit_queries.py (drift,
PPSWOR sampling, contamination ledger and corpus-growth audits).

Each spec is proven against its DuckDB oracle with the exact compare of
tools/check_parity.py; each operator also gets hand-computed,
brute-force or property checks.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dbt_glue_spark.plans import drift_audit_queries
from dbt_glue_spark.plans.catalog import SPECS
from tools.check_parity import compare


SPECS_HERE = {
    n: s for n, s in SPECS().items() if s.fn.__module__ == drift_audit_queries.__name__
}


# The parity sweep and every test over 10 s on 4 cores are slow-only
# (`pytest -m slow`); the hand checks run in the default set.
@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(SPECS_HERE))
def test_oracle_parity(spark, sf_dir, name):
    err = compare(spark, SPECS_HERE[name], sf_dir)
    assert err is None, err


# ---------------------------------------------------------------------------
# psi_js_drift
# ---------------------------------------------------------------------------


def test_psi_js_hand_computed(spark):
    """Two tiny snapshots with hand-enumerable histograms: psi and js
    must equal the Python reference (eps clamp, 0*ln0 convention)."""
    from dbt_glue_spark.extensions.audit import psi_js_drift

    a_vals = [0, 0, 0, 10, 10, 25]  # buckets (w=10, nb=3): 0,0,0,1,1,2
    b_vals = [0, 10, 10, 10, 25, 25, 25, 25]  # 0,1,1,1,2,2,2,2
    a = spark.createDataFrame([(v,) for v in a_vals], "v bigint")
    b = spark.createDataFrame([(v,) for v in b_vals], "v bigint")
    got = psi_js_drift(a, b, "v", bucket_width=10, n_buckets=3).collect()[0]

    eps = 1e-6
    ca = {0: 3, 1: 2, 2: 1}
    cb = {0: 1, 1: 3, 2: 4}
    na, nb = 6, 8
    psi = js = 0.0
    for k in sorted(ca):
        pa, pb = ca[k] / na, cb[k] / nb
        pac, pbc = max(pa, eps), max(pb, eps)
        psi += (pac - pbc) * math.log(pac / pbc)
        js += 0.5 * (
            (pa * math.log(2 * pa / (pa + pb)) if ca[k] else 0.0)
            + (pb * math.log(2 * pb / (pa + pb)) if cb[k] else 0.0)
        )
    assert got.feature == "v" and got.n_a == na and got.n_b == nb
    assert got.n_buckets_used == 3
    assert got.psi == math.floor(psi * 1e6 + 0.5) / 1e6
    assert got.js == math.floor(js * 1e6 + 0.5) / 1e6


def test_psi_js_identical_snapshots_zero(spark, sf_dir):
    """A == B ⇒ psi = js = 0 exactly (every term is ln(1) = 0)."""
    from dbt_glue_spark.extensions.audit import psi_js_drift
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.length("text").alias("v")
    )
    got = psi_js_drift(docs, docs, "v").collect()[0]
    assert got.psi == 0.0 and got.js == 0.0


def test_psi_js_bounds_and_disjoint(spark):
    """JS ∈ [0, ln 2]; fully disjoint supports hit the JS ceiling and a
    large positive PSI."""
    from dbt_glue_spark.extensions.audit import psi_js_drift

    a = spark.createDataFrame([(5,)] * 4, "v bigint")
    b = spark.createDataFrame([(500,)] * 4, "v bigint")
    got = psi_js_drift(a, b, "v", bucket_width=10, n_buckets=32).collect()[0]
    assert got.js == math.floor(math.log(2.0) * 1e6 + 0.5) / 1e6
    assert got.psi > 10.0  # two eps-clamped buckets, each ~1*ln(1/eps)


def test_psi_js_empty_side_null(spark):
    """A zero-row side yields NULL psi/js (no ANSI divide error), and
    two empty sides still yield the feature's row: NULL totals and
    psi/js, 0 buckets used."""
    from dbt_glue_spark.extensions.audit import psi_js_drift

    a = spark.createDataFrame([(5,), (10,)], "v bigint")
    empty = a.limit(0)
    got = psi_js_drift(a, empty, "v").collect()
    assert len(got) == 1 and got[0].psi is None and got[0].js is None
    assert [tuple(r) for r in psi_js_drift(empty, empty, "v").collect()] == [
        ("v", None, None, 0, None, None)
    ]


def test_psi_js_multi_feature_and_validation(spark):
    from dbt_glue_spark.extensions.audit import psi_js_drift

    df = spark.createDataFrame([(1, 100), (2, 200)], "x bigint, y bigint")
    rows = psi_js_drift(df, df, ["x", "y"]).collect()
    assert sorted(r.feature for r in rows) == ["x", "y"]
    # a feature empty on both sides keeps its row in the union
    part = df.withColumn("y", F.lit(None).cast("bigint"))
    rows = {r.feature: tuple(r)[1:] for r in psi_js_drift(part, part, ["x", "y"]).collect()}
    assert rows["y"] == (None, None, 0, None, None)
    assert rows["x"] == (2, 2, 1, 0.0, 0.0)
    with pytest.raises(ValueError, match="value_cols"):
        psi_js_drift(df, df, [])
    with pytest.raises(ValueError, match="eps"):
        psi_js_drift(df, df, "x", eps=0.0)


# ---------------------------------------------------------------------------
# ppswor_sample_by_group
# ---------------------------------------------------------------------------


def test_ppswor_layout_invariant(spark, sf_dir):
    """Pure function of the data: identical sample and estimator under
    any physical partitioning."""
    from dbt_glue_spark.extensions.sampling import ppswor_sample_by_group
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    a = sorted(
        tuple(r)
        for r in ppswor_sample_by_group(
            docs, "source", "doc_id", "n_chars", k=16
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in ppswor_sample_by_group(
            docs.repartition(7), "source", "doc_id", "n_chars", k=16
        ).collect()
    )
    assert a == b


def test_ppswor_estimator_contracts(spark, sf_dir):
    """Per-group size min(k, n); est_weight ≥ weight (1−exp(−wτ) ≤ 1);
    per-group subset-sum estimate near the group's true mass (fixed
    corpus + fixed seed ⇒ deterministic regression band)."""
    from dbt_glue_spark.extensions.sampling import ppswor_sample_by_group
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    k = 32
    rows = ppswor_sample_by_group(
        docs, "source", "doc_id", "n_chars", k=k
    ).collect()
    by_group = {}
    for r in rows:
        by_group.setdefault(r.source, []).append(r)
        assert r.est_weight >= r.weight
    true_sizes = {
        r.source: (r.n, r.mass)
        for r in docs.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.greatest(F.col("n_chars").cast("bigint"), F.lit(1))
            ).alias("mass"),
        )
        .collect()
    }
    assert set(by_group) == set(true_sizes)
    for g, sample in by_group.items():
        n, mass = true_sizes[g]
        assert len(sample) == min(k, n)
        est = sum(r.est_weight for r in sample)
        assert abs(est - mass) / mass < 0.45, (g, est, mass)


def test_ppswor_small_group_no_tau(spark):
    """Groups with ≤ k rows: every row returned, est_weight == weight."""
    from dbt_glue_spark.extensions.sampling import ppswor_sample_by_group

    df = spark.createDataFrame(
        [("g", i, 10 * (i + 1)) for i in range(5)],
        "g string, id bigint, w bigint",
    )
    rows = ppswor_sample_by_group(df, "g", "id", "w", k=64).collect()
    assert len(rows) == 5
    assert all(r.est_weight == float(r.weight) for r in rows)
    with pytest.raises(ValueError, match="k must be"):
        ppswor_sample_by_group(df, "g", "id", "w", k=0)


def test_ppswor_weight_sensitivity(spark):
    """A row with overwhelming weight must (deterministically, for this
    seed) be in the sample; the inclusion frequency of heavy rows across
    disjoint key populations exceeds that of light rows."""
    from dbt_glue_spark.extensions.sampling import ppswor_sample_by_group

    # one group, 200 light rows (w=1) + 1 heavy row (w=10^9), k=10
    rows = [("g", i, 1) for i in range(200)] + [("g", 999, 10**9)]
    df = spark.createDataFrame(rows, "g string, id bigint, w bigint")
    got = {r.id for r in ppswor_sample_by_group(df, "g", "id", "w", k=10).collect()}
    assert 999 in got  # e = -ln(u)/1e9 ~ 1e-9 max — always wins


def test_ppswor_matches_python_reference(spark):
    """Exact replay: the Spark sample equals a Python implementation of
    the same md5-hash uniforms and exponential keys."""
    import hashlib

    from dbt_glue_spark.extensions.sampling import ppswor_sample_by_group

    rows = [("g", i, (i * 37) % 100 + 1) for i in range(60)]
    df = spark.createDataFrame(rows, "g string, id bigint, w bigint")
    k = 8
    got = sorted(
        (r.id, r.weight, r.est_weight)
        for r in ppswor_sample_by_group(df, "g", "id", "w", k=k).collect()
    )

    def e_key(i, w):
        h = int(hashlib.md5(f"7:{i}".encode()).hexdigest()[:13], 16)
        return -math.log((h + 1) / 16**13) / w

    ranked = sorted((e_key(i, w), i, w) for _, i, w in rows)
    tau = ranked[k][0]
    exp = sorted(
        (i, w, math.floor(w / (1 - math.exp(-w * tau)) * 1e4 + 0.5) / 1e4)
        for e, i, w in ranked[:k]
    )
    assert got == exp


# ---------------------------------------------------------------------------
# contamination ledger
# ---------------------------------------------------------------------------


def test_contamination_ledger_equals_one_shot(spark, sf_dir):
    """Union of per-batch incremental checks over a 3-way partition of
    the training corpus == the one-shot contamination_pairs, pair for
    pair and count for count."""
    from dbt_glue_spark.extensions.dedup import (
        contamination_check_incremental,
        contamination_ledger,
        contamination_pairs,
    )
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    eval_ = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    one_shot = {
        (r.a_id, r.b_id): r.n_common
        for r in contamination_pairs(train, eval_, min_common=2).collect()
    }
    ledger = contamination_ledger(eval_)
    got = {}
    for m in range(3):
        batch = train.filter(F.col("doc_id") % 3 == m)
        for r in contamination_check_incremental(
            batch, ledger, min_common=2
        ).collect():
            assert (r.a_id, r.b_id) not in got  # batches partition a_ids
            got[(r.a_id, r.b_id)] = r.n_common
    assert got == one_shot


def test_contamination_ledger_extension(spark, sf_dir):
    """Extending the ledger with a second eval release == building it
    from the union of releases; checks against the extended ledger catch
    contamination against BOTH releases."""
    from dbt_glue_spark.extensions.dedup import (
        contamination_check_incremental,
        contamination_ledger,
        extend_contamination_ledger,
    )
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    ev1 = docs.filter(F.col("source") == "src0")
    ev2 = docs.filter(F.col("source") == "src1")
    train = docs.filter(~F.col("source").isin("src0", "src1"))
    extended = extend_contamination_ledger(contamination_ledger(ev1), ev2)
    union_built = contamination_ledger(ev1.unionByName(ev2))
    assert sorted(map(tuple, extended.collect())) == sorted(
        map(tuple, union_built.collect())
    )
    got = {
        (r.a_id, r.b_id)
        for r in contamination_check_incremental(
            train, extended, min_common=2
        ).collect()
    }
    ev1_ids = {r.doc_id for r in ev1.select("doc_id").collect()}
    ev2_ids = {r.doc_id for r in ev2.select("doc_id").collect()}
    # pairs reference docs of both releases (data-dependent but true on
    # the fixed sf0.001 corpus at min_common=2)
    assert any(b in ev1_ids for _, b in got)
    assert any(b in ev2_ids for _, b in got)
    assert all(b in ev1_ids | ev2_ids for _, b in got)


def test_contamination_ledger_hand_case(spark):
    """A verbatim 5-gram leak is caught; 4 shared distinct 3-grams at
    min_common=5 is not; duplicate shingles inside one doc count once."""
    from dbt_glue_spark.extensions.dedup import (
        contamination_check_incremental,
        contamination_ledger,
    )

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over lazy dogs")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            # contains "quick brown fox jumps over" -> 3-grams: qbf bfj fjo
            # plus "the quick brown" "brown fox jumps"... count >= 5
            (1, "prefix the quick brown fox jumps over lazy words"),
            # shares only "the quick brown" + "quick brown fox" (2 < 5)
            (2, "the quick brown fox sat still x y z"),
            # repeated leak: distinct shingles still counted once
            (3, "the quick brown fox jumps the quick brown fox jumps over"),
        ],
        "doc_id bigint, text string",
    )
    led = contamination_ledger(ev)
    got = {
        r.a_id: r.n_common
        for r in contamination_check_incremental(
            train, led, min_common=5
        ).collect()
    }
    # doc1 shares: "the quick brown","quick brown fox","brown fox jumps",
    # "fox jumps over","jumps over lazy" = 5 -> caught
    assert got.get(1) == 5
    assert 2 not in got
    # doc3 shares the first 4 of those 5 -> below threshold
    assert 3 not in got


# ---------------------------------------------------------------------------
# cross-cutting gates (the round-7/8 pool discipline)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_staged9_survive_empty_input(spark, sf_dir, tmp_path_factory):
    """Zero-row tables: every staged spec returns an empty or
    NULL-aggregate frame with its normal schema, never raises."""
    import os

    from dbt_glue_spark.sources.registry import TABLES, load_table

    out = str(tmp_path_factory.mktemp("sf_empty_staged9"))
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    for name, spec in sorted(SPECS_HERE.items()):
        rows = spec.fn(spark, out).collect()
        assert isinstance(rows, list), name


@pytest.mark.slow
def test_staged9_driver_contract(spark, sf_dir):
    """Flat orderable scalar columns + pandas sort round-trip — the
    driver's canonicalization precondition."""
    from tests.test_driver_contract import NESTED, _driver_canon

    for name, spec in sorted(SPECS_HERE.items()):
        df = spec.fn(spark, sf_dir)
        nested = [
            f.name for f in df.schema.fields if isinstance(f.dataType, NESTED)
        ]
        assert not nested, (name, nested)
        _driver_canon(df.toPandas())


def test_staged9_plan_shapes(spark, sf_dir):
    """Scale-shape gates: ppswor plans a partitioned-window rank (no
    global sort of the corpus, no TakeOrdered on the full data), and the
    authored sources force-broadcast only constant-size frames (the
    psi/js 1-row totals); the contamination batch side never broadcasts
    the TRAIN corpus (the ledger is the documented broadcast side)."""
    import inspect

    from dbt_glue_spark.extensions import audit, dedup, sampling
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    pw_plan = (
        sampling.ppswor_sample_by_group(
            docs.select("source", "doc_id", "n_chars"),
            "source",
            "doc_id",
            "n_chars",
            k=32,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in pw_plan
    for fn in (
        sampling.ppswor_sample_by_group,
        audit.psi_js_drift,
        audit._joined_histograms,
        dedup.contamination_ledger,
        dedup.contamination_check_incremental,
    ):
        hints = [
            ln
            for ln in inspect.getsource(fn).splitlines()
            if "F.broadcast(" in ln
        ]
        ok = ("totals", "n_a", "n_b")
        assert all(any(t in ln for t in ok) for ln in hints), (
            fn.__name__,
            hints,
        )


# ---------------------------------------------------------------------------
# vocab_growth / ngram_novelty
# ---------------------------------------------------------------------------


def test_vocab_growth_hand_case(spark):
    """2-bucket corpus with known first occurrences: ids 0..4 -> bucket
    0, 5..9 -> bucket 1 (equi-width over [0,9]); types first seen in
    bucket 1 are exactly the ones absent from bucket 0."""
    from dbt_glue_spark.extensions.text_analysis import vocab_growth

    rows = (
        [(i, "alpha beta") for i in range(5)]
        + [(5, "alpha gamma"), (6, "delta"), (7, ""), (8, "beta"), (9, "Gamma!")]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.bucket: r for r in vocab_growth(df, n_buckets=2).collect()}
    assert set(got) == {0, 1}
    b0, b1 = got[0], got[1]
    assert (b0.n_docs, b0.n_tokens, b0.n_new_types) == (5, 10, 2)  # alpha beta
    # bucket 1 tokens: alpha gamma | delta | (empty) | beta | gamma = 5
    assert (b1.n_docs, b1.n_tokens, b1.n_new_types) == (5, 5, 2)  # gamma delta
    assert (b0.cum_tokens, b0.cum_types) == (10, 2)
    assert (b1.cum_tokens, b1.cum_types) == (15, 4)


def test_vocab_growth_reconciles(spark, sf_dir):
    """Bucket rows partition the corpus exactly: new-type masses sum to
    the vocabulary, token masses to the corpus total, cumulatives are
    monotone and end at the totals; layout-invariant."""
    from dbt_glue_spark.extensions.text_analysis import vocab_growth
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = sorted(
        (tuple(r) for r in vocab_growth(docs).collect()), key=lambda t: t[0]
    )
    toks = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok")
    )
    vocab = toks.select("tok").distinct().count()
    total = toks.count()
    assert sum(r[3] for r in rows) == vocab
    assert sum(r[2] for r in rows) == total
    assert rows[-1][4] == total and rows[-1][5] == vocab
    for a, b in zip(rows, rows[1:]):
        assert b[4] >= a[4] and b[5] >= a[5]
    again = sorted(
        (tuple(r) for r in vocab_growth(docs.repartition(7)).collect()),
        key=lambda t: t[0],
    )
    assert rows == again
    with pytest.raises(ValueError, match="n_buckets"):
        vocab_growth(docs, n_buckets=0)


def test_ngram_novelty_hand_case(spark):
    """Shingle repeated across buckets counts as a repeat; repeats
    WITHIN a bucket (or within one doc) do not; bucket 0 never has
    repeats."""
    from dbt_glue_spark.extensions.text_analysis import ngram_novelty

    rows = [
        (0, "a b c d"),          # bucket 0: shingles {abc, bcd}
        (4, "a b c x"),          # bucket 0: {abc, bcx} — intra-bucket dup
        (5, "a b c a b c"),      # bucket 1: distinct {abc, bca, cab} — abc repeat
        (9, "b c d q"),          # bucket 1: {bcd, cdq} — bcd repeat
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.bucket: r for r in ngram_novelty(df, n_buckets=2).collect()}
    b0, b1 = got[0], got[1]
    assert (b0.n_occurrences, b0.n_repeats, b0.repeat_q6) == (4, 0, 0)
    # bucket 1 occurrences: abc bca cab bcd cdq = 5; repeats: abc, bcd
    assert (b1.n_occurrences, b1.n_repeats) == (5, 2)
    assert b1.repeat_q6 == (2 * 1000000) // 5


def test_ngram_novelty_reconciles(spark, sf_dir):
    """Occurrence masses sum to the per-doc distinct shingle total;
    repeats never exceed occurrences; bucket 0 has zero repeats."""
    from dbt_glue_spark.extensions.text_analysis import ngram_novelty
    from dbt_glue_spark.functions.text import shingle_postings
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = sorted(
        (tuple(r) for r in ngram_novelty(docs).collect()), key=lambda t: t[0]
    )
    total = shingle_postings(docs, "text", ["doc_id"]).count()
    assert sum(r[1] for r in rows) == total
    assert all(0 <= r[2] <= r[1] for r in rows)
    assert rows[0][2] == 0


def test_minhash_capped_identity_on_clean_corpus(spark, sf_dir):
    """With no mega-buckets (the clean corpus), the cap is a no-op: the
    capped output equals the exact-recall uncapped output."""
    from dbt_glue_spark.extensions.dedup import minhash_lsh_pairs
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    uncapped = sorted(
        map(
            tuple,
            minhash_lsh_pairs(docs, threshold=0.5, max_band_bucket=None).collect(),
        )
    )
    capped = sorted(
        map(
            tuple,
            minhash_lsh_pairs(docs, threshold=0.5, max_band_bucket=64).collect(),
        )
    )
    assert capped == uncapped


def test_minhash_cap_star_keeps_family_connected(spark):
    """Boilerplate corpus: every doc shares a long template prefix, so
    all docs land in shared band buckets. Under the cap, capped ⊆
    uncapped (star pairs are exact-verified), the own-content pair
    survives, and the template family's QUADRATIC mass is refused but
    the family stays CONNECTED — its O(bucket) star pairs (every member
    → bucket min, diameter 2) link all 30 docs into one component (the
    round-9 dupheavy finding: skipping over-cap buckets returned ZERO
    pairs on a mirror corpus and the whole dup mass vanished; a
    consecutive-id CHAIN stalls dup_clusters' label propagation at
    O(bucket) diameter)."""
    from dbt_glue_spark.extensions.dedup import minhash_lsh_pairs

    boiler = " ".join(f"tpl{i}" for i in range(40))
    rows = [(i, f"{boiler} unique{i}a unique{i}b unique{i}c") for i in range(30)]
    # one genuine near-dup pair with its own distinctive content
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    uncapped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, threshold=0.5, max_band_bucket=None).collect()
    }
    starred = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, threshold=0.5, max_band_bucket=8).collect()
    }
    assert starred <= uncapped
    assert (100, 101) in starred
    tpl_all = {(a, b) for a, b in uncapped if a < 100 and b < 100}
    tpl_star = {(a, b) for a, b in starred if a < 100 and b < 100}
    # quadratic mass (LSH banding may probabilistically miss a few of
    # the 435 true pairs — 425 observed; the point is the scale class)
    assert len(tpl_all) > 300
    assert 0 < len(tpl_star) < len(tpl_all)      # linear, not quadratic
    assert len(tpl_star) <= 4 * 29               # ≤ one star per band
    # connectivity: union-find over the star pairs joins all 30
    parent = list(range(30))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in tpl_star:
        parent[find(int(a))] = find(int(b))
    assert len({find(i) for i in range(30)}) == 1
    with pytest.raises(ValueError, match="max_band_bucket"):
        minhash_lsh_pairs(df, max_band_bucket=0)


def test_minhash_capped_plan_is_bucketed(spark, sf_dir):
    """The capped variant must keep the bucketed band join — never a
    cartesian/broadcast-nested-loop pair generation (the gate
    test_plan_quality pins for the live pair generators, applied to the
    staged entry ahead of its promotion)."""
    from dbt_glue_spark.sources.registry import load_table
    from dbt_glue_spark.extensions.dedup import minhash_lsh_pairs

    df = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5, max_band_bucket=64
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_hand_case(spark):
    """A short doc fully inside a long one qualifies a->b but not b->a;
    a partial overlap below 4/5 does not; min_shingles excludes trivial
    contained sides; duplicate shingles count once."""
    from dbt_glue_spark.extensions.dedup import containment_pairs

    long_text = " ".join(f"w{i}" for i in range(40))  # 38 shingles
    quote = " ".join(f"w{i}" for i in range(10, 20))  # 8 shingles, all inside
    partial = " ".join(f"w{i}" for i in range(36, 44))  # straddles the end
    tiny = "w5 w6 w7 w8"  # 2 shingles -> below min_shingles
    df = spark.createDataFrame(
        [(1, long_text), (2, quote), (3, partial), (4, tiny), (5, quote + " " + quote)],
        "doc_id bigint, text string",
    )
    got = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b)
        for r in containment_pairs(df).collect()
    }
    assert (2, 1) in got and got[(2, 1)][0] == 8  # fully contained
    assert (1, 2) not in got  # long side not contained in the quote
    assert (3, 1) not in got  # only 2 of 6 shingles shared < 4/5
    assert all(a != 4 for a, _ in got)  # tiny contained side excluded
    # doc5 repeats the quote: distinct shingles still 8 + the 1 bridge
    # shingles crossing the junction; containment in doc1 fails only if
    # bridge shingles push |S5| above the 4/5 bound — check consistency
    for (a, b), (c, na, nb) in got.items():
        assert c * 5 >= na * 4 and na >= 3


def test_containment_symmetric_identicals_both_directions(spark, sf_dir):
    """Identical docs qualify in BOTH directions; the pair set agrees
    with a brute-force Python evaluation on the real corpus subset."""
    from dbt_glue_spark.extensions.dedup import containment_pairs
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(150)
    rows = docs.collect()
    sets = {}
    for r in rows:
        toks = [t for t in (r.text or "").split() if t]
        sets[r.doc_id] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    expected = set()
    for a, sa in sets.items():
        if len(sa) < 3:
            continue
        for b, sb in sets.items():
            if a == b:
                continue
            c = len(sa & sb)
            if c and c * 5 >= len(sa) * 4:
                expected.add((a, b))
    got = {
        (r.id_a, r.id_b)
        for r in containment_pairs(docs, df_freq_cutoff=None).collect()
    }
    assert got == expected
    with pytest.raises(ValueError, match="min_shingles"):
        containment_pairs(docs, min_shingles=0)
    with pytest.raises(ValueError, match="threshold"):
        containment_pairs(docs, threshold_den=0)


@pytest.mark.slow
def test_lsh_recall_audit_consistency(spark, sf_dir):
    """n_found <= n_true (LSH pairs are exact-verified, so LSH ⊆ truth),
    counters reconcile with the operators they audit, and the capped
    variant's recall is <= the uncapped recall."""
    from dbt_glue_spark.extensions.dedup import (
        lsh_recall_audit,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    r = lsh_recall_audit(docs, threshold=0.5).collect()[0]
    assert r.n_found <= r.n_true and r.n_missed == r.n_true - r.n_found
    assert r.n_true == ngram_jaccard_pairs(docs, threshold=0.5).count()
    # the audit's default mirrors the exact-recall opt-in (cap=None)
    assert (
        r.n_found
        == minhash_lsh_pairs(docs, threshold=0.5, max_band_bucket=None).count()
    )
    if r.n_true:
        assert r.recall_q6 == (r.n_found * 1000000) // r.n_true
    capped = lsh_recall_audit(docs, threshold=0.5, max_band_bucket=2).collect()[0]
    assert capped.n_found <= r.n_found
    assert capped.n_true == r.n_true  # the truth side never changes


def test_psi_by_group_matches_global_per_group(spark, sf_dir):
    """Each group's stratified PSI/JS equals the GLOBAL operator run on
    that group's slice alone — stratification is exact partitioning,
    nothing leaks across groups."""
    from dbt_glue_spark.extensions.audit import (
        psi_js_drift,
        psi_js_drift_by_group,
    )
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.length("text").cast("bigint").alias("len")
    )
    b = docs.withColumn("len", F.col("len") + 40)  # uniform shift drift
    got = {
        r.source: (r.n_a, r.n_b, r.n_buckets_used, r.psi, r.js)
        for r in psi_js_drift_by_group(docs, b, "source", "len").collect()
    }
    for g in list(got)[:3]:  # three groups suffice; each is a full run
        sa = docs.filter(F.col("source") == g).select("len")
        sb = b.filter(F.col("source") == g).select("len")
        ref = psi_js_drift(sa, sb, "len").collect()[0]
        assert got[g] == (ref.n_a, ref.n_b, ref.n_buckets_used, ref.psi, ref.js), g


def test_psi_by_group_one_sided_group_null(spark):
    """A group present on only one side has NULL psi/js with the
    missing side's total NULL — never an eps-fabricated finite score."""
    from dbt_glue_spark.extensions.audit import psi_js_drift_by_group

    a = spark.createDataFrame([("g1", 5), ("g1", 15)], "g string, v bigint")
    b = spark.createDataFrame(
        [("g1", 5), ("g1", 15), ("g2", 25)], "g string, v bigint"
    )
    rows = {r.g: r for r in psi_js_drift_by_group(a, b, "g", "v").collect()}
    assert rows["g1"].psi == 0.0 and rows["g1"].js == 0.0
    assert rows["g2"].n_a is None
    assert rows["g2"].psi is None and rows["g2"].js is None
    with pytest.raises(ValueError, match="eps"):
        psi_js_drift_by_group(a, b, "g", "v", eps=0)


def test_dup_clusters_long_path_pointer_doubling(spark):
    """A 200-vertex PATH (the worst diameter shape — before round 9 this
    silently returned partial labels once max_iter rounds ran out):
    pointer doubling must converge it to ONE component labeled 0 within
    the default max_iter, and a max_iter too small to converge must
    RAISE, never return a wrong labelling."""
    from dbt_glue_spark.extensions.dedup import dup_clusters

    n = 200
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    )
    out = dup_clusters(docs, pairs).collect()
    assert len(out) == n
    assert {r.cluster_id for r in out} == {0}
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(docs, pairs, max_iter=3)
