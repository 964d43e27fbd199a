"""Direct tests for the queries in plans/curation_queries.py (crawl,
mixture, quality and chat/SFT curation).

Each spec is proven against its DuckDB oracle with the exact compare of
tools/check_parity.py; each operator also gets hand-computed,
brute-force or property checks.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dbt_glue_spark.plans import curation_queries
from dbt_glue_spark.plans.catalog import SPECS
from tools.check_parity import compare

# Promotion-gate / full-sweep module: deselected by default so the suite
# fits the driver's pytest window (r12 verdict item 3); `pytest -m slow` runs it.
pytestmark = pytest.mark.slow


SPECS_HERE = {
    n: s for n, s in SPECS().items() if s.fn.__module__ == curation_queries.__name__
}


@pytest.mark.parametrize("name", sorted(SPECS_HERE))
def test_oracle_parity(spark, sf_dir, name):
    err = compare(spark, SPECS_HERE[name], sf_dir)
    assert err is None, err


# ---------------------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------------------


def _canon(spark, urls):
    from dbt_glue_spark.extensions.web import canonical_url

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]


def test_canonical_url_hand_cases(spark):
    cases = {
        # case, default port, tracking param, param order, fragment, slash
        "HTTPS://WWW.Example.COM:443/A/?utm_source=x&b=2&a=1#f":
            "https://www.example.com/A?a=1&b=2",
        "https://www.example.com/A?a=1&b=2": "https://www.example.com/A?a=1&b=2",
        "http://h.example.org:80/": "http://h.example.org",
        "http://h.example.org:8080/x": "http://h.example.org:8080/x",
        # path/query case is PRESERVED (only scheme/host lowercase)
        "https://H.example.org/PaTh?Q=V": "https://h.example.org/PaTh?Q=V",
        # all params tracking → '?' dropped entirely
        "https://e.com/x?utm_campaign=a&fbclid=b&gclid=c&ref=d":
            "https://e.com/x",
        "https://e.com": "https://e.com",
    }
    got = _canon(spark, list(cases))
    for (raw, want), g in zip(cases.items(), got):
        assert g == want, (raw, g, want)


def test_canonical_url_idempotent(spark):
    """canon(canon(u)) == canon(u) — the fixed-point property every
    canonicalizer needs (otherwise two pipeline stages disagree)."""
    raws = [
        "HTTPS://WWW.Example.COM:443/A/?utm_source=x&b=2&a=1#f",
        "http://a.b.co.uk:80/p/?z=1&y=2&utm_x=3#s",
        "https://e.com/x?c=3&a=1&b=2",
        "https://e.com/x/",
    ]
    once = _canon(spark, raws)
    twice = _canon(spark, once)
    assert once == twice


def test_registered_domain_suffix_rules(spark):
    from dbt_glue_spark.extensions.web import registered_domain

    cases = {
        "www.sub.example.com": "example.com",
        "news.example.co.uk": "example.co.uk",
        "example.co.uk": "example.co.uk",
        "co.uk": "co.uk",          # bare suffix: take-all guard
        "example.com": "example.com",
        "a.b.c.d.example.ac.jp": "example.ac.jp",
        "deep.example.org": "example.org",
    }
    df = spark.createDataFrame([(h,) for h in cases], "h string")
    got = [
        r.d
        for r in df.select(registered_domain(F.col("h")).alias("d")).collect()
    ]
    for (h, want), g in zip(cases.items(), got):
        assert g == want, (h, g, want)


def test_url_dedup_null_and_variants(spark):
    from dbt_glue_spark.extensions.web import url_dedup

    rows = [
        (1, "HTTPS://E.com/x?utm_source=a"),
        (2, "https://e.com/x"),
        (3, "https://e.com/x/#frag"),
        (4, None),
        (5, "https://e.com/y"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    out = {r.canon_url: (r.keep_id, r.n_variants) for r in url_dedup(df).collect()}
    assert out == {
        "https://e.com/x": (1, 3),
        "https://e.com/y": (5, 1),
    }


def test_domain_caps_order_and_cap(spark):
    from dbt_glue_spark.extensions.web import domain_caps

    rows = [(i, f"https://d{i % 2}.example.com/p{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    out = sorted(
        (r.domain, r.doc_id, r.rank) for r in domain_caps(df, cap=2).collect()
    )
    assert out == [
        ("example.com", 0, 1),
        ("example.com", 1, 2),
    ]
    with pytest.raises(ValueError, match="cap"):
        domain_caps(df, cap=0)


# ---------------------------------------------------------------------------
# token budget allocation
# ---------------------------------------------------------------------------


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5000),   # tokens
            st.integers(min_value=0, max_value=1000),   # quality
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=0, max_value=20000),
)
def test_token_budget_exact_conservation(spark, groups, budget):
    """Σ alloc == min(budget, Σ n) EXACTLY, 0 ≤ alloc_i ≤ n_i, for any
    (tokens, quality) profile — including all-zero qualities (D = 0)
    and sources larger than the whole budget."""
    from dbt_glue_spark.extensions.sampling import token_budget_allocation

    rows = [(f"s{i}", n, q) for i, (n, q) in enumerate(groups)]
    df = spark.createDataFrame(rows, "src string, toks bigint, q bigint")
    out = token_budget_allocation(df, "src", "toks", "q", budget).collect()
    tot_n = sum(r.n_tokens for r in out)
    tot_a = sum(r.alloc_tokens for r in out)
    # all-zero weights: rounds 1-2 allocate nothing proportional, the
    # crumb fill still pours the budget into headroom deterministically
    assert tot_a == min(budget, tot_n), (tot_a, budget, tot_n)
    for r in out:
        assert 0 <= r.alloc_tokens <= r.n_tokens
        assert 0 <= r.rate_ppm <= 1_000_000


def test_token_budget_prefers_quality(spark):
    """Two equal-size sources, one 9× the quality weight: the allocator
    gives the high-quality source ~9× the tokens (caps permitting)."""
    from dbt_glue_spark.extensions.sampling import token_budget_allocation

    df = spark.createDataFrame(
        [("hi", 10_000, 900), ("lo", 10_000, 100)],
        "src string, toks bigint, q bigint",
    )
    out = {r.src: r.alloc_tokens for r in
           token_budget_allocation(df, "src", "toks", "q", 1000).collect()}
    assert out["hi"] + out["lo"] == 1000
    assert out["hi"] == 900 and out["lo"] == 100


def test_token_budget_rejects_negative(spark):
    from dbt_glue_spark.extensions.sampling import token_budget_allocation

    df = spark.createDataFrame([("a", 1, 1)], "src string, toks bigint, q bigint")
    with pytest.raises(ValueError, match="budget"):
        token_budget_allocation(df, "src", "toks", "q", -1)


# ---------------------------------------------------------------------------
# gopher quality flags
# ---------------------------------------------------------------------------


def _gopher_py(text):
    """Independent Python reimplementation of the rule arithmetic."""
    import re

    text = text or ""
    words = [w for w in re.split(r"\s+", text) if w]
    lines = [l for l in text.split("\n") if l]
    n_words = len(words)
    word_chars = sum(len(w) for w in words)
    n_alpha = sum(1 for w in words if re.search("[a-zA-Z]", w))
    n_sym = len(re.findall(r"#|\.\.\.|…", text))
    n_lines = len(lines)
    n_ell = sum(1 for l in lines if re.search(r"(\.\.\.|…)\s*$", l))
    dist = list(dict.fromkeys(lines))
    n_dup = n_lines - len(dist)
    line_chars = sum(len(l) for l in lines)
    dup_chars = line_chars - sum(len(l) for l in dist)
    ok = (
        50 <= n_words <= 100000
        and 3 * n_words <= word_chars <= 10 * n_words
        and 10 * n_sym <= n_words
        and 10 * n_ell <= 3 * n_lines
        and 10 * n_dup <= 3 * n_lines
        and 5 * dup_chars <= line_chars
        and 5 * n_alpha >= 4 * n_words
        and n_words > 0
    )
    return (n_words, word_chars, n_alpha, n_sym, n_lines, n_ell, n_dup,
            dup_chars, line_chars, ok)


def test_gopher_flags_vs_python_reimpl(spark):
    from dbt_glue_spark.extensions.text_analysis import gopher_quality_flags

    good = " ".join(f"word{i}" for i in range(60))
    docs = [
        good,
        "short",
        None,
        "",
        "dup\ndup\ndup\nother\n" + good,
        " ".join(["###"] * 20 + ["ok"] * 40),
        "\n".join([f"l{i} end..." for i in range(9)] + [good]),
        " ".join(["12345"] * 60),           # no alpha words
        " ".join(["x" * 40] * 60),          # mean word len > 10
        good + " ……… #",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id bigint, text string"
    )
    rows = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    for i, t in enumerate(docs):
        want = _gopher_py(t)
        r = rows[i]
        got = (r.n_words, r.word_chars, r.n_alpha_words, r.n_symbols,
               r.n_lines, r.n_ellipsis_lines, r.n_dup_lines,
               r.dup_line_chars, r.line_chars, r.pass_gopher)
        assert got == want, (i, t[:40] if t else t, got, want)


def test_gopher_flags_map_only_plan(spark, sf_dir):
    """The whole operator must stay one map-only projection: no shuffle
    (Exchange), no explode (Generate) — scan-speed at any corpus size."""
    from dbt_glue_spark.extensions.text_analysis import gopher_quality_flags
    from dbt_glue_spark.sources.registry import load_table

    df = gopher_quality_flags(load_table(spark, sf_dir, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan


def test_url_dedup_groupby_plan(spark, sf_dir):
    """url_dedup's only wide op is the canonical-URL groupBy (with a
    map-side partial aggregate); never a join or a window."""
    df = SPECS_HERE["ext_url_dedup"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


# ---------------------------------------------------------------------------
# line-level dedup (second staged tranche)
# ---------------------------------------------------------------------------


def test_line_dedup_brute_force(spark):
    """Hand corpus vs an independent Python reimplementation: cross-doc
    boilerplate (>2 docs), within-doc repeats (count once toward doc
    frequency, every occurrence dropped), NULL/empty lines excluded."""
    from dbt_glue_spark.extensions.dedup import line_dedup

    rows = [
        (1, "cookie banner"), (1, "unique a"), (1, "cookie banner"),
        (2, "cookie banner"), (2, "unique b"),
        (3, "cookie banner"), (3, "shared x"),
        (4, "shared x"), (4, None), (4, ""),
        (5, "shared x"), (5, "unique c"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, line string")
    out = {r.doc_id: r for r in line_dedup(df, max_doc_freq=2).collect()}

    lines = [(d, l) for d, l in rows if l]
    from collections import defaultdict
    docs_per_line = defaultdict(set)
    for d, l in lines:
        docs_per_line[l].add(d)
    for doc in (1, 2, 3, 4, 5):
        mine = [l for d, l in lines if d == doc]
        dup = [l for l in mine if len(docs_per_line[l]) > 2]
        kept = [l for l in mine if len(docs_per_line[l]) <= 2]
        r = out[doc]
        assert r.n_lines == len(mine)
        assert r.n_dup_lines == len(dup)
        assert r.kept_chars == sum(len(l) for l in kept)
        assert r.dropped_chars == sum(len(l) for l in dup)
        assert r.dup_line_ppm == 1_000_000 * len(dup) // len(mine)

    with pytest.raises(ValueError, match="max_doc_freq"):
        line_dedup(df, max_doc_freq=0)


def test_line_dedup_doc_all_null_lines_absent(spark):
    from dbt_glue_spark.extensions.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, "")], "doc_id bigint, line string"
    )
    assert [r.doc_id for r in line_dedup(df).collect()] == [1]


# ---------------------------------------------------------------------------
# temperature mixture
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**12),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=0, max_value=10**9),
)
def test_temperature_mixture_exact_shares(spark, sizes, budget):
    """Each share is EXACTLY ⌊B·w/W⌋ for w = ⌊sqrt(n)·1000⌋ computed in
    Python (IEEE sqrt is exactly rounded — the cross-engine invariant
    the operator's α=0.5 pin relies on); Σ alloc ≤ B; p_ppm ≤ 10⁶."""
    import math

    from dbt_glue_spark.extensions.sampling import temperature_mixture

    rows = [(f"s{i}", n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "src string, toks bigint")
    out = {r.src: r for r in
           temperature_mixture(df, "src", "toks", budget).collect()}
    weights = {f"s{i}": int(math.floor(math.sqrt(n) * 1000))
               for i, n in enumerate(sizes)}
    W = sum(weights.values())
    assert sum(r.alloc_tokens for r in out.values()) <= budget
    for src, r in out.items():
        assert r.weight == weights[src], (src, r.weight, weights[src])
        if W > 0:
            assert r.alloc_tokens == budget * weights[src] // W
            assert r.p_ppm == 1_000_000 * weights[src] // W
        else:
            assert r.alloc_tokens == 0 and r.p_ppm == 0
    assert sum(r.p_ppm for r in out.values()) <= 1_000_000


def test_temperature_mixture_flattens(spark):
    """sqrt flattening: a 100× bigger source gets only 10× the share,
    and the small source's epochs_ppm exceeds the big one's (the
    up-sampling signature)."""
    from dbt_glue_spark.extensions.sampling import temperature_mixture

    df = spark.createDataFrame(
        [("big", 1_000_000), ("small", 10_000)], "src string, toks bigint"
    )
    out = {r.src: r for r in
           temperature_mixture(df, "src", "toks", 500_000).collect()}
    assert abs(out["big"].weight - 10 * out["small"].weight) <= 10
    assert out["small"].epochs_ppm > out["big"].epochs_ppm
    with pytest.raises(ValueError, match="budget"):
        temperature_mixture(df, "src", "toks", -1)


# ---------------------------------------------------------------------------
# threshold retention sweep
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-500, max_value=1500),  # score, signed!
            st.integers(min_value=0, max_value=10_000),   # size
        ),
        min_size=1,
        max_size=40,
    )
)
def test_threshold_retention_brute_force(spark, rows):
    """Every output row equals the brute-force `score >= threshold`
    filter — including NEGATIVE scores (the pmod floor-division path)."""
    from dbt_glue_spark.extensions.sampling import threshold_retention

    df = spark.createDataFrame(
        [(q, s) for q, s in rows], "q bigint, sz bigint"
    )
    out = threshold_retention(df, "q", "sz", 100).collect()
    tot_docs, tot_toks = len(rows), sum(s for _, s in rows)
    buckets = sorted({q // 100 for q, _ in rows})
    assert [r.threshold for r in out] == [b * 100 for b in buckets]
    for r in out:
        kept = [(q, s) for q, s in rows if q >= r.threshold]
        assert r.docs_kept == len(kept)
        assert r.tokens_kept == sum(s for _, s in kept)
        assert r.docs_ppm == 1_000_000 * len(kept) // tot_docs
        want_tppm = (1_000_000 * sum(s for _, s in kept) // tot_toks
                     if tot_toks else 0)
        assert r.tokens_ppm == want_tppm
    docs_seq = [r.docs_kept for r in out]
    assert docs_seq == sorted(docs_seq, reverse=True)  # monotone curve


def test_threshold_retention_rejects_bad_width(spark):
    from dbt_glue_spark.extensions.sampling import threshold_retention

    df = spark.createDataFrame([(1, 1)], "q bigint, sz bigint")
    with pytest.raises(ValueError, match="bucket_width"):
        threshold_retention(df, "q", "sz", 0)


# ---------------------------------------------------------------------------
# URL frontier ledger
# ---------------------------------------------------------------------------


def test_url_frontier_disjoint_subset_idempotent(spark):
    from dbt_glue_spark.extensions.web import url_frontier_new

    ledger = spark.createDataFrame(
        [(0, "https://e.com/a"), (1, "HTTPS://E.COM/b?utm_x=1")],
        "doc_id bigint, url string",
    )
    batch = spark.createDataFrame(
        [(10, "https://e.com/b"),       # seen (canonicalizes onto ledger)
         (11, "https://e.com/c/"),      # new
         (12, "https://e.com/c#f"),     # same new URL, variant
         (13, None)],
        "doc_id bigint, url string",
    )
    out = {r.canon_url: (r.keep_id, r.n_variants)
           for r in url_frontier_new(batch, ledger).collect()}
    assert out == {"https://e.com/c": (11, 2)}

    # batch ⊆ ledger → empty
    assert url_frontier_new(ledger, ledger).count() == 0
    # idempotence: ledger ∪ batch as the new ledger → nothing new
    assert url_frontier_new(batch, ledger.union(batch)).count() == 0
    # a pre-canonicalized ledger behaves identically (fixed point)
    from dbt_glue_spark.extensions.web import canonical_url
    canon_ledger = ledger.select(
        "doc_id", canonical_url(F.col("url")).alias("url")
    )
    out2 = {r.canon_url: (r.keep_id, r.n_variants)
            for r in url_frontier_new(batch, canon_ledger).collect()}
    assert out2 == out


# ---------------------------------------------------------------------------
# domain quality blocklist
# ---------------------------------------------------------------------------


def test_domain_quality_hand_case(spark):
    from dbt_glue_spark.extensions.web import domain_quality

    rows = (
        [(f"https://spam.example.com/p{i}", 100) for i in range(5)]
        + [(f"https://good.example.org/p{i}", 900) for i in range(5)]
        + [("https://thin.example.net/p0", 0)]        # support < min_docs
        + [("https://x.example.net/p1", None)]        # NULL quality excluded
        + [(None, 500)]                               # NULL url excluded
    )
    df = spark.createDataFrame(rows, "url string, quality bigint")
    out = {r.domain: r for r in
           domain_quality(df, min_docs=5, threshold_micro=500_000_000).collect()}
    assert set(out) == {"example.com", "example.org", "example.net"}
    assert out["example.com"].blocked is True
    assert out["example.com"].mean_q_micro == 100_000_000
    assert out["example.org"].blocked is False
    assert out["example.net"].blocked is False       # only 1 doc of support
    assert out["example.net"].n_docs == 1
    with pytest.raises(ValueError, match="min_docs"):
        domain_quality(df, min_docs=0)


def test_streaming_url_frontier_equals_batch(spark, sf_dir):
    """Kappa twin: the streaming frontier's emitted canon_url set must
    equal the batch operator's, regardless of file arrival order."""
    from dbt_glue_spark.extensions.web import url_frontier_new
    from dbt_glue_spark.plans.curation_queries import (
        _synth_url_spark,
    )
    from dbt_glue_spark.sources.registry import load_table

    stream_rows = {
        r.canon_url
        for r in SPECS_HERE["streaming_url_frontier"].fn(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_spark(F.col("doc_id")).alias("url")
    )
    ledger = docs.filter((F.col("doc_id") < 100) & (F.col("doc_id") % 3 == 0))
    batch = docs.filter(F.col("doc_id") >= 100)
    batch_rows = {
        r.canon_url for r in url_frontier_new(batch, ledger).collect()
    }
    assert stream_rows == batch_rows
    assert stream_rows  # non-degenerate: the corpus must yield new URLs


def test_staged10_survive_empty_input(spark, tmp_path_factory):
    """Every staged spec must degrade to an empty frame on zero-row
    tables (the r8 lesson: streaming_priority_sample's empty-corpus
    FileNotFoundError was caught by exactly this sweep)."""
    import os

    from dbt_glue_spark.sources.registry import TABLES, load_table

    src = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    out = str(tmp_path_factory.mktemp("sf_empty10"))
    for t in TABLES:
        load_table(spark, src, t).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    failures = []
    for name, spec in sorted(SPECS_HERE.items()):
        try:
            spec.fn(spark, out).limit(5).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:150]}")
    assert not failures, failures


# ---------------------------------------------------------------------------
# Third tranche: keep-best dedup, epoch repeats, fertility, curriculum
# ---------------------------------------------------------------------------


def test_keep_best_hand_case(spark):
    """Highest score survives; ties break to lowest id; NULL score loses
    to any real score; NULL text rows are excluded entirely."""
    from dbt_glue_spark.extensions.dedup import exact_dedup_keep_best

    df = spark.createDataFrame(
        [
            (1, "dup text", 10),
            (2, "dup text", 90),      # winner: best score
            (3, "dup text", 90),      # same score, higher id — loses
            (4, "solo", None),        # all-NULL-score cluster → min id
            (5, "tie", 7),
            (6, "tie", 7),            # tie → id 5 wins
            (7, None, 99),            # NULL text → excluded
        ],
        "doc_id bigint, text string, q bigint",
    )
    out = {r.keep_id: (r.n_copies, r.best_score)
           for r in exact_dedup_keep_best(df, "text", "doc_id", "q").collect()}
    assert out == {2: (3, 90), 4: (1, -1), 5: (2, 7)}


def test_keep_best_single_exchange_plan(spark, sf_dir):
    """One groupBy, no join, no window: exactly one Exchange in the plan
    (AQE may append reads, never a second shuffle or a SortMergeJoin)."""
    plan = SPECS_HERE["ext_dedup_keep_best"].fn(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan and "Window" not in plan, plan


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5000),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=0, max_value=80000),
    st.integers(min_value=1, max_value=5),
)
def test_epoch_repeat_exact_conservation(spark, groups, budget, epochs):
    """With repeats: Σ alloc == min(B, E·Σn) EXACTLY, 0 ≤ alloc_i ≤ E·n_i,
    and rate_ppm ≤ E·10⁶ — for any profile including all-zero weights."""
    from dbt_glue_spark.extensions.sampling import token_budget_allocation

    rows = [(f"s{i}", n, q) for i, (n, q) in enumerate(groups)]
    df = spark.createDataFrame(rows, "src string, toks bigint, q bigint")
    out = token_budget_allocation(
        df, "src", "toks", "q", budget, max_epochs=epochs
    ).collect()
    tot_n = sum(r.n_tokens for r in out)
    tot_a = sum(r.alloc_tokens for r in out)
    assert tot_a == min(budget, epochs * tot_n), (tot_a, budget, epochs, tot_n)
    for r in out:
        assert 0 <= r.alloc_tokens <= epochs * r.n_tokens
        assert 0 <= r.rate_ppm <= epochs * 1_000_000


def test_epoch_repeat_dominates_single_epoch(spark):
    """Same budget, same corpus: allowing repeats can only increase the
    total allocation (headroom grows), and E=1 matches the old law."""
    from dbt_glue_spark.extensions.sampling import token_budget_allocation

    df = spark.createDataFrame(
        [("a", 1000, 500), ("b", 200, 900)],
        "src string, toks bigint, q bigint",
    )
    one = sum(r.alloc_tokens for r in
              token_budget_allocation(df, "src", "toks", "q", 5000).collect())
    four = sum(r.alloc_tokens for r in
               token_budget_allocation(
                   df, "src", "toks", "q", 5000, max_epochs=4).collect())
    assert one == 1200          # capped at unique tokens
    assert four == 4800         # 4 epochs of everything still < budget


def test_epoch_repeat_rejects_bad_epochs(spark):
    from dbt_glue_spark.extensions.sampling import token_budget_allocation

    df = spark.createDataFrame([("a", 1, 1)], "src string, toks bigint, q bigint")
    with pytest.raises(ValueError, match="max_epochs"):
        token_budget_allocation(df, "src", "toks", "q", 10, max_epochs=0)


def test_tokenizer_fertility_unicode_hand_case(spark):
    """CJK with no spaces is ONE word; fullwidth digits are invisible to
    the ASCII lexer (each its own punct token); bytes > chars for
    multibyte; NULL text counts as a doc with all-zero metrics."""
    from dbt_glue_spark.extensions.text_analysis import tokenizer_fertility

    df = spark.createDataFrame(
        [
            ("ascii", "ab cd 12"),
            ("cjk", "日本語テキスト"),
            ("full", "１２３"),
            ("empty", None),
            (None, "dropped"),
        ],
        "source string, text string",
    )
    out = {r.source: r for r in tokenizer_fertility(df).collect()}
    assert set(out) == {"ascii", "cjk", "full", "empty"}
    a = out["ascii"]
    assert (a.n_words, a.n_tokens, a.n_chars, a.n_bytes) == (3, 3, 8, 8)
    c = out["cjk"]
    # one whitespace word, 7 single-char punct tokens, 3 bytes/char
    assert (c.n_words, c.n_tokens, c.n_chars, c.n_bytes) == (1, 7, 7, 21)
    assert c.fertility_micro == 7_000_000
    assert c.bytes_per_char_micro == 3_000_000
    f = out["full"]
    assert f.n_tokens == 3 and f.n_chars == 3 and f.n_bytes == 9
    e = out["empty"]
    assert (e.n_docs, e.n_words, e.n_tokens, e.n_bytes) == (1, 0, 0, 0)
    assert e.fertility_micro == 0 and e.bytes_per_token_micro == 0


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),      # source selector
            st.integers(min_value=-500, max_value=500), # score (signed!)
        ),
        min_size=1,
        max_size=30,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_curriculum_matches_plain_window(spark, rows, n_stages):
    """The bucket-offset distributed rank must equal a plain
    row_number() OVER (PARTITION BY source ORDER BY score DESC, id) —
    for signed scores (the pmod floor identity) and any stage count."""
    from pyspark.sql import Window as W

    from dbt_glue_spark.extensions.sampling import curriculum_stages

    data = [(f"s{s}", i, q) for i, (s, q) in enumerate(rows)]
    df = spark.createDataFrame(data, "src string, id bigint, q bigint")
    got = {
        (r.src, r.id): (r.rank, r.stage)
        for r in curriculum_stages(
            df, "src", "q", "id", n_stages=n_stages, bucket_width=100
        ).collect()
    }
    w = W.partitionBy("src").orderBy(F.col("q").desc(), F.col("id").asc())
    ref = df.select(
        "src", "id",
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.count("*").over(W.partitionBy("src")).cast("bigint").alias("n"),
    ).collect()
    want = {
        (r.src, r.id): (r.rank, (r.rank - 1) * n_stages // r.n) for r in ref
    }
    assert got == want


def test_curriculum_invariant_to_bucket_width(spark):
    """bucket_width is a physical knob, not a semantic one: any width
    yields the identical ranking."""
    from dbt_glue_spark.extensions.sampling import curriculum_stages

    df = spark.createDataFrame(
        [("a", i, (i * 37) % 250 - 100) for i in range(200)],
        "src string, id bigint, q bigint",
    )
    outs = [
        sorted(
            (r.id, r.rank, r.stage)
            for r in curriculum_stages(
                df, "src", "q", "id", 4, bucket_width=wd
            ).collect()
        )
        for wd in (1, 7, 100, 10_000)
    ]
    assert outs[0] == outs[1] == outs[2] == outs[3]


def test_curriculum_stage_balance_and_rejects(spark):
    """Stage sizes differ by ≤ 1 per source; bad params raise."""
    from dbt_glue_spark.extensions.sampling import curriculum_stages

    df = spark.createDataFrame(
        [("a", i, i % 97) for i in range(103)],
        "src string, id bigint, q bigint",
    )
    out = curriculum_stages(df, "src", "q", "id", n_stages=4).collect()
    sizes = {}
    for r in out:
        sizes[r.stage] = sizes.get(r.stage, 0) + 1
    assert sorted(sizes) == [0, 1, 2, 3]
    assert max(sizes.values()) - min(sizes.values()) <= 1, sizes
    with pytest.raises(ValueError, match="n_stages"):
        curriculum_stages(df, "src", "q", "id", n_stages=0)
    with pytest.raises(ValueError, match="bucket_width"):
        curriculum_stages(df, "src", "q", "id", 4, bucket_width=0)


# ---------------------------------------------------------------------------
# Big-magnitude (100 TB token counts) overflow hardening
# ---------------------------------------------------------------------------


def _alloc_law(rows, budget, epochs=1):
    """Pure-python replication of the allocator law in unbounded ints —
    the ground truth the decimal(38,0) Spark path must match exactly."""
    d = {s: q * n for s, n, q in rows}
    cap = {s: epochs * n for s, n, q in rows}
    dsum = sum(d.values())
    a1 = {
        s: min(cap[s], budget * d[s] // dsum) if dsum > 0 else 0
        for s, n, q in rows
    }
    lred = budget - sum(a1.values())
    h = {s: cap[s] - a1[s] for s in a1}
    d2 = sum(d[s] for s in d if h[s] > 0)
    b = {
        s: min(h[s], lred * d[s] // d2) if h[s] > 0 and d2 > 0 else 0
        for s in d
    }
    rem = {s: (lred * d[s]) % d2 if h[s] > 0 and d2 > 0 else -1 for s in d}
    rfin = lred - sum(b.values())
    h2 = {s: h[s] - b[s] for s in d}
    cum = 0
    alloc = {}
    for s in sorted(d, key=lambda s: (-rem[s], s)):
        c = max(0, min(h2[s], rfin - cum))
        cum += h2[s]
        alloc[s] = a1[s] + b[s] + c
    return alloc


def test_allocator_survives_100tb_magnitudes(spark):
    """A 2^44-token source with a 10-trillion-token budget: the share
    product B·(w·n) ≈ 1.6e30 is 11 orders past int64 — bigint arithmetic
    would abort the job under ANSI (pinned below); the decimal(38,0)
    path must return the EXACT unbounded-int allocation."""
    from dbt_glue_spark.extensions.sampling import token_budget_allocation

    rows = [("web", 1 << 44, 900), ("books", 1 << 40, 999), ("tiny", 1000, 100)]
    budget = 10**13
    df = spark.createDataFrame(rows, "src string, toks bigint, q bigint")
    for epochs in (1, 4):
        got = {
            r.src: r.alloc_tokens
            for r in token_budget_allocation(
                df, "src", "toks", "q", budget, max_epochs=epochs
            ).collect()
        }
        want = _alloc_law(rows, budget, epochs)
        assert got == want, (epochs, got, want)
        assert sum(got.values()) == min(
            budget, epochs * sum(n for _, n, _ in rows)
        )


def test_int64_share_product_would_abort(spark):
    """Pin the hazard the decimal path exists for: the same product in
    bigint arithmetic raises ARITHMETIC_OVERFLOW under ANSI Spark. If
    this stops raising (ANSI default change), the overflow would become
    SILENT wrap — re-audit every share/ppm site before relying on it."""
    df = spark.createDataFrame([(1 << 44,)], "n bigint")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        df.select((F.col("n") * F.lit(1_000_000)).alias("x")).collect()


def test_threshold_sweep_100tb_magnitudes(spark):
    """tokens_kept·10⁶ at 2^44-token documents: exact ppm from the
    decimal path, validated against unbounded-int python."""
    from dbt_glue_spark.extensions.sampling import threshold_retention

    rows = [(i % 10 * 100, (1 << 44) + i) for i in range(20)]
    df = spark.createDataFrame(rows, "q bigint, toks bigint")
    out = {r.threshold: (r.tokens_kept, r.tokens_ppm)
           for r in threshold_retention(df, "q", "toks", 100).collect()}
    tot = sum(t for _, t in rows)
    for thr, (kept, ppm) in out.items():
        want_kept = sum(t for q, t in rows if q >= thr)
        assert kept == want_kept
        assert ppm == want_kept * 1_000_000 // tot


# ---------------------------------------------------------------------------
# Non-finite quarantine operators
# ---------------------------------------------------------------------------


def test_nonfinite_audit_hand_case(spark):
    from dbt_glue_spark.extensions.audit import nonfinite_audit

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(1, nan), (2, inf), (3, -inf), (4, -0.0), (5, 5e-324),
         (6, None), (7, 1.5), (8, 0.0), (9, 1e-300)],
        "id bigint, x double",
    )
    r = nonfinite_audit(df, ["x"]).collect()[0]
    assert (r.n_rows, r.n_null, r.n_nan) == (9, 1, 1)
    assert (r.n_pos_inf, r.n_neg_inf) == (1, 1)
    # -0.0 counted; +0.0 not; 5e-324 AND 1e-300? 1e-300 is NORMAL
    assert r.n_neg_zero == 1
    assert r.n_denormal == 1
    with pytest.raises(ValueError, match="cols"):
        nonfinite_audit(df, [])


def test_sanitize_nonfinite_hand_case(spark):
    """NaN/Inf -> NULL, -0.0 -> +0.0, finite (incl. denormal) bit-exact;
    the flag reflects PRE-sanitization values (regression: a naive
    withColumn chain re-resolves the flag against the NULLed column and
    reports 0 for every row); untouched columns pass through."""
    import math

    from dbt_glue_spark.extensions.audit import sanitize_nonfinite

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(1, nan, inf), (2, -inf, 2.5), (3, -0.0, nan), (4, 5e-324, None)],
        "id bigint, a double, b double",
    )
    rows = {r.id: r for r in sanitize_nonfinite(df, ["a", "b"]).collect()}
    assert rows[1].a is None and rows[1].b is None and rows[1].n_sanitized == 2
    assert rows[2].a is None and rows[2].b == 2.5 and rows[2].n_sanitized == 1
    assert rows[3].b is None and rows[3].n_sanitized == 1
    assert rows[3].a == 0.0 and not math.copysign(1, rows[3].a) < 0
    assert rows[4].a == 5e-324 and rows[4].b is None
    assert rows[4].n_sanitized == 0  # NULL was already missing, not damaged


# ---------------------------------------------------------------------------
# Chat / preference tier (fourth tranche)
# ---------------------------------------------------------------------------


def _turns_df(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id bigint, turn_idx bigint, role string, text string"
    )


def test_validate_turns_hand_case(spark):
    """One conversation per defect class: leading system is legal,
    misplaced system flags, same-role adjacency breaks (system turns
    transparent), adjacent NULL roles break null-safely, empty turns
    count, and a clean conversation is well_formed."""
    from dbt_glue_spark.extensions.chat import validate_turns

    rows = [
        # conv 1: clean — system prompt, then u/a/u/a
        (1, 0, "system", "be brief"),
        (1, 1, "user", "hi"),
        (1, 2, "assistant", "hello"),
        (1, 3, "user", "more"),
        (1, 4, "assistant", "sure"),
        # conv 2: user,user break bridged by a transparent system turn;
        # misplaced system; trailing user
        (2, 0, "user", "a"),
        (2, 1, "system", "mid prompt"),
        (2, 2, "user", "b"),
        (2, 3, "assistant", ""),
        (2, 4, "user", "tail"),
        # conv 3: adjacent NULL roles break null-safely; starts assistant
        (3, 0, "assistant", "x"),
        (3, 1, None, "y"),
        (3, 2, None, "z"),
        # NULL conv excluded
        (None, 0, "user", "ghost"),
    ]
    out = {r.conv_id: r.asDict() for r in validate_turns(_turns_df(spark, rows)).collect()}
    assert set(out) == {1, 2, 3}
    c1 = out[1]
    assert (c1["well_formed"], c1["n_system"], c1["n_alternation_breaks"]) == (1, 1, 0)
    assert (c1["starts_user"], c1["ends_assistant"]) == (1, 1)
    c2 = out[2]
    assert c2["n_alternation_breaks"] == 1          # user→(sys)→user
    assert c2["n_misplaced_system"] == 1
    assert c2["n_empty_turns"] == 1                 # the "" assistant turn
    assert (c2["ends_assistant"], c2["well_formed"]) == (0, 0)
    c3 = out[3]
    assert c3["n_other"] == 2                       # two NULL roles
    assert c3["n_alternation_breaks"] == 1          # NULL <=> NULL adjacency
    assert (c3["starts_user"], c3["well_formed"]) == (0, 0)


def test_truncation_plan_hand_case(spark):
    """Suffix rule: keep the longest suffix ≤ L opening on a user turn;
    nothing fits → dropped; everything fits → untruncated."""
    from dbt_glue_spark.extensions.chat import truncation_plan

    rows = [
        # conv 1: tokens 5,3,4,2 (u,a,u,a); L=7 → suffix(2,3)=6 fits and
        # starts at user turn 2; suffix(1..)=9 > 7
        (1, 0, "user", "t t t t t"),
        (1, 1, "assistant", "t t t"),
        (1, 2, "user", "t t t t"),
        (1, 3, "assistant", "t t"),
        # conv 2: fits entirely (4 ≤ 7), starts user
        (2, 0, "user", "t t"),
        (2, 1, "assistant", "t t"),
        # conv 3: last user turn alone exceeds L → dropped
        (3, 0, "user", "t t t t t t t t t t"),
        (3, 1, "assistant", "t"),
    ]
    out = {
        r.conv_id: r.asDict()
        for r in truncation_plan(_turns_df(spark, rows), max_tokens=7).collect()
    }
    c1 = out[1]
    assert (c1["first_kept_turn"], c1["n_turns_kept"]) == (2, 2)
    assert (c1["tokens_kept"], c1["loss_tokens"]) == (6, 2)
    assert (c1["truncated"], c1["dropped"]) == (1, 0)
    c2 = out[2]
    assert (c2["first_kept_turn"], c2["truncated"], c2["dropped"]) == (0, 0, 0)
    assert c2["loss_tokens"] == 2
    c3 = out[3]
    assert (c3["first_kept_turn"], c3["n_turns_kept"], c3["dropped"]) == (-1, 0, 1)


def test_response_dedup_hand_case(spark):
    """Keeper is lexicographic-min (conv, turn); only duplicated
    responses emit; user turns and NULL text never participate."""
    from dbt_glue_spark.extensions.chat import response_dedup

    rows = [
        (1, 1, "assistant", "canned reply"),
        (1, 3, "assistant", "canned reply"),   # same conv repeat
        (2, 0, "assistant", "canned reply"),
        (2, 2, "assistant", "unique reply"),
        (3, 1, "user", "canned reply"),        # role filtered
        (3, 2, "assistant", None),             # NULL text filtered
    ]
    out = response_dedup(_turns_df(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.keep_conv, r.keep_turn, r.n_copies, r.n_convs) == (1, 1, 3, 2)


def test_preference_pair_audit_conflicts(spark):
    """Both orientations of one content pair → conflict; verbatim repeat
    → dup without conflict; chosen == rejected → self_pair; unique
    clean pairs stay out of the manifest."""
    from dbt_glue_spark.extensions.chat import preference_pair_audit

    df = spark.createDataFrame(
        [
            (1, "A", "B"),
            (2, "B", "A"),        # conflict with pair 1
            (3, "C", "D"),
            (4, "C", "D"),        # duplicate, same orientation
            (5, "E", "E"),        # self pair
            (6, "F", "G"),        # clean unique — absent
            (7, None, "H"),       # NULL side — excluded
        ],
        "pair_id bigint, chosen_text string, rejected_text string",
    )
    out = {r.keep_pair: r.asDict() for r in preference_pair_audit(df).collect()}
    assert set(out) == {1, 3, 5}
    assert out[1]["conflict"] == 1 and out[1]["n_pairs"] == 2
    assert {out[1]["n_fwd"], out[1]["n_rev"]} == {1}
    assert out[3]["conflict"] == 0 and out[3]["n_pairs"] == 2
    assert out[5]["self_pair"] == 1 and out[5]["n_pairs"] == 1


def test_preference_length_bias_exact(spark):
    """ppm and signed mean delta match an exact integer reimplementation,
    including a negative mean (rejected longer) and NULL text as zero
    tokens."""
    from dbt_glue_spark.extensions.chat import preference_length_bias

    rows = [
        ("s1", "a b c", "a"),          # +2
        ("s1", "a", "a b b b b"),      # -4
        ("s1", "a b", "c d"),          # tie
        ("s2", None, "w w w"),         # NULL chosen → -3
    ]
    df = spark.createDataFrame(
        rows, "source string, chosen_text string, rejected_text string"
    )
    out = {r.source: r.asDict() for r in preference_length_bias(df).collect()}
    s1 = out["s1"]
    assert s1["n_pairs"] == 3
    assert (s1["chosen_tokens"], s1["rejected_tokens"]) == (6, 8)
    assert s1["chosen_longer_ppm"] == 333_333
    assert s1["tie_ppm"] == 333_333
    assert s1["mean_delta_micro"] == -666_666   # sign·(|−2|·10⁶ div 3)
    s2 = out["s2"]
    assert (s2["chosen_tokens"], s2["rejected_tokens"]) == (0, 3)
    assert s2["mean_delta_micro"] == -3_000_000


def test_chat_single_exchange_plans(spark, sf_dir):
    """The conv-keyed operators plan exactly ONE exchange (every window
    and the final groupBy share the conv_id partitioning); the audit
    groupBys shuffle only hash-sized keys."""
    for name, n_exchanges in (
        ("ext_chat_turn_validation", 1),
        ("ext_chat_truncation_plan", 1),
        ("ext_preference_length_bias", 1),
    ):
        plan = (
            SPECS_HERE[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == n_exchanges, (name, plan)
        assert "SortMergeJoin" not in plan, name


def test_streaming_chat_response_dedup_equals_batch(spark, sf_dir):
    """Kappa equivalence: the streamed response frontier equals the batch
    set (distinct assistant-text md5s minus the ledger's) exactly."""
    from dbt_glue_spark.plans.curation_queries import (
        _synth_role_spark,
    )
    from dbt_glue_spark.sources.registry import load_table

    got = {
        r.resp_hash
        for r in SPECS_HERE["streaming_chat_response_dedup"]
        .fn(spark, sf_dir)
        .collect()
    }
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    turns = docs.select(
        "doc_id", _synth_role_spark(F.col("doc_id")).alias("role"), "text"
    ).filter((F.col("role") == "assistant") & F.col("text").isNotNull())
    led = {
        r.h
        for r in turns.filter(F.col("doc_id") < 100)
        .select(F.md5("text").alias("h"))
        .distinct()
        .collect()
    }
    want = {
        r.h
        for r in turns.filter(F.col("doc_id") >= 100)
        .select(F.md5("text").alias("h"))
        .distinct()
        .collect()
    } - led
    assert got == want


def test_chat_null_turn_idx_excluded(spark):
    """NULL turn_idx rows are excluded by the ordered chat operators
    (module NULL contract): Spark sorts NULL first, DuckDB last, so a
    NULL position has no engine-stable place in a conversation."""
    from dbt_glue_spark.extensions.chat import truncation_plan, validate_turns

    rows = [
        (1, 0, "user", "a b"),
        (1, None, "assistant", "ghost turn"),
        (1, 1, "assistant", "c d"),
    ]
    df = _turns_df(spark, rows)
    v = validate_turns(df).collect()[0]
    assert v.n_turns == 2 and v.n_assistant == 1
    t = truncation_plan(df, max_tokens=10).collect()[0]
    assert t.n_turns_total == 2 and t.tokens_total == 4


def test_cluster_keep_best_hand_case(spark):
    """The best-scored member of a TRANSITIVE family survives even when
    it is neither the lowest id (dedup_apply's rule) nor directly
    paired with every member; singletons keep themselves; NULL score
    loses via the -1 coalesce."""
    from dbt_glue_spark.extensions.dedup import cluster_keep_best

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (4, None), (9, 7)],
        "doc_id bigint, q bigint",
    )
    # chain 1-3-2: doc 2 (best q) only reachable transitively from 1
    pairs = spark.createDataFrame(
        [(1, 3), (2, 3)], "id_a bigint, id_b bigint"
    )
    out = {r.cluster_id: r.asDict() for r in
           cluster_keep_best(docs, pairs, "doc_id", "q").collect()}
    assert out[1]["keep_id"] == 2 and out[1]["n_members"] == 3
    assert out[1]["best_score"] == 99
    assert out[4]["keep_id"] == 4 and out[4]["best_score"] == -1
    assert out[9]["keep_id"] == 9 and out[9]["n_members"] == 1


def test_chat_render_deterministic_and_hand_case(spark):
    """The rendered hash is a pure function of the data — identical
    under any physical partitioning (array_sort carries the order, not
    collect_list) — and matches a hand-rendered string; NULL role/text
    render as empty; NULL turn_idx rows are excluded."""
    import hashlib

    from dbt_glue_spark.extensions.chat import render_conversations

    rows = [
        (1, 1, "assistant", "hello"),
        (1, 0, "user", "hi"),          # out of order on purpose
        (1, 2, None, None),            # NULL role/text render empty
        (1, None, "user", "ghost"),    # excluded
    ]
    df = _turns_df(spark, rows)
    a = {r.conv_id: r.asDict() for r in render_conversations(df).collect()}
    b = {
        r.conv_id: r.asDict()
        for r in render_conversations(df.repartition(7)).collect()
    }
    assert a == b
    want = "<|user|>\nhi\n<|assistant|>\nhello\n<||>\n\n"
    got = a[1]
    assert got["n_turns"] == 3
    assert got["render_hash"] == hashlib.md5(want.encode()).hexdigest()
    assert got["n_chars"] == len(want)
