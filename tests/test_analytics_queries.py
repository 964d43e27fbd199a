"""Direct tests for the queries in plans/analytics_queries.py (sampling,
statistics, time series, graph and set-similarity operators).

Each spec is proven against its DuckDB oracle with the exact compare of
tools/check_parity.py; each operator also gets hand-computed,
brute-force or property checks.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dbt_glue_spark.plans import analytics_queries
from dbt_glue_spark.plans.catalog import SPECS
from tools.check_parity import compare

SPECS_HERE = {
    n: s for n, s in SPECS().items() if s.fn.__module__ == analytics_queries.__name__
}


# The parity sweep and every test over 10 s on 4 cores are slow-only
# (`pytest -m slow`); the hand checks run in the default set.
@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(SPECS_HERE))
def test_oracle_parity(spark, sf_dir, name):
    err = compare(spark, SPECS_HERE[name], sf_dir)
    assert err is None, err


def test_weighted_sample_layout_invariant(spark, sf_dir):
    """Priority sampling must be a pure function of the data: identical
    selected set and estimator under any physical partitioning."""
    from dbt_glue_spark.extensions.sampling import weighted_sample
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    a = sorted(tuple(r) for r in weighted_sample(docs, "doc_id", "n_chars", k=64).collect())
    b = sorted(
        tuple(r)
        for r in weighted_sample(
            docs.repartition(7), "doc_id", "n_chars", k=64
        ).collect()
    )
    assert a == b


def test_weighted_sample_estimator_contract(spark, sf_dir):
    """Sample size, est_weight ≥ weight (priority sampling's estimator is
    max(w, tau)), and the deterministic subset-sum estimate Σ est_weight
    lands near the true corpus weight (fixed data + fixed seed → this is
    a deterministic regression value, not a statistical flake)."""
    from dbt_glue_spark.extensions.sampling import weighted_sample
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n = docs.count()
    k = 128
    rows = weighted_sample(docs, "doc_id", "n_chars", k=k).collect()
    assert len(rows) == min(k, n)
    assert all(r.est_weight >= r.weight for r in rows)
    true_total = docs.agg(
        F.sum(F.greatest(F.col("n_chars").cast("bigint"), F.lit(1)))
    ).collect()[0][0]
    est_total = sum(r.est_weight for r in rows)
    # DLT estimator is unbiased; at k=128 the realized deviation for this
    # fixed corpus+seed is a few percent — 25% is a loose deterministic band
    assert abs(est_total - true_total) / true_total < 0.25, (est_total, true_total)


def test_weighted_sample_small_corpus_no_tau(spark):
    """Corpora with ≤ k rows: every row returned, est_weight == weight."""
    from dbt_glue_spark.extensions.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, 10 * (i + 1)) for i in range(5)], "id bigint, w bigint"
    )
    rows = weighted_sample(df, "id", "w", k=64).collect()
    assert len(rows) == 5
    assert all(r.est_weight == float(r.weight) for r in rows)


def test_pmi_pairs_hand_computed(spark):
    """Window-2 pair counts, marginals, and staged-floor-division scores
    verified against a hand computation on a 2-doc corpus."""
    from dbt_glue_spark.extensions.text_analysis import pmi_pairs

    df = spark.createDataFrame([("a b a",), ("b a c",)], "text string")
    rows = pmi_pairs(df, "text", window=2, min_count=1, k=10).collect()
    # doc1 [a,b,a]: gap1 (a,b),(a,b); gap2 (a,a) excluded
    # doc2 [b,a,c]: gap1 (a,b),(a,c); gap2 (b,c)
    # c_ab: (a,b)=3 (a,c)=1 (b,c)=1; P=5; m_a=4 m_b=4 m_c=2
    got = [(r.tok_a, r.tok_b, r.c_ab, r.m_a, r.m_b, r.pmi_q6) for r in rows]
    assert got == [
        ("a", "b", 3, 4, 4, ((3 * 1000000) // 4) * 5 // 4),
        ("a", "c", 1, 4, 2, ((1 * 1000000) // 4) * 5 // 2),
        ("b", "c", 1, 4, 2, ((1 * 1000000) // 4) * 5 // 2),
    ]


def test_zipf_buckets_reconcile(spark, sf_dir):
    """Decade rows must partition the vocabulary exactly: type and
    occurrence masses sum to the corpus totals, and a decade can never
    hold more types than it has ranks (9·10^(d-1))."""
    from dbt_glue_spark.extensions.text_analysis import zipf_rank_buckets
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("text")
    rows = zipf_rank_buckets(docs, "text").collect()
    toks = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok")
    )
    vocab = toks.select("tok").distinct().count()
    total = toks.count()
    assert sum(r.n_types for r in rows) == vocab
    assert sum(r.n_occurrences for r in rows) == total
    for r in rows:
        assert r.n_types <= 9 * 10 ** (r.rank_decade - 1)
        assert r.min_freq <= r.max_freq


def test_staged_plan_shapes(spark, sf_dir):
    """Scale-shape gates for the staged operators: top-k must plan as
    TakeOrderedAndProject (per-partition partial top-k, no global sort),
    and the only forced broadcasts are 1-row frames (tau / pair total) —
    never a vocabulary- or corpus-proportional side (the r5-verdict
    broadcast lesson, applied at authoring time)."""
    from dbt_glue_spark.extensions.sampling import weighted_sample
    from dbt_glue_spark.extensions.text_analysis import pmi_pairs
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    ws_plan = (
        weighted_sample(docs.select("doc_id", "n_chars"), "doc_id", "n_chars", k=256)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in ws_plan
    pmi_plan = (
        pmi_pairs(docs.select("text"), "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in pmi_plan
    # source-level gate: the new operators force-broadcast only the 1-row
    # tau/totals aggregates (grep the authored code, not the plan, because
    # the planner legitimately broadcasts small sides at test scale)
    import inspect

    from dbt_glue_spark.extensions import sampling, text_analysis

    for src in (
        inspect.getsource(sampling.weighted_sample),
        inspect.getsource(text_analysis.pmi_pairs),
    ):
        hints = [ln for ln in src.splitlines() if "F.broadcast(" in ln]
        assert all("tau" in ln or "totals" in ln for ln in hints), hints


def test_ohlc_hand_computed(spark):
    """Open/close follow the (ts, id) total order; high/low/range/count."""
    from dbt_glue_spark.extensions.timeseries import ohlc_bars

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:05:00", "a", 5.0),
            (2, "2024-01-01 10:01:00", "a", 2.0),
            (3, "2024-01-01 10:59:00", "a", 9.0),
            (4, "2024-01-01 10:30:00", "a", 1.0),
            (5, "2024-01-01 11:00:00", "a", 7.0),
        ],
        "event_id bigint, ts string, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "event_type", "value")
    rows = {r.bar_hour.hour: r for r in ohlc_bars(df).collect()}
    b10 = rows[10]
    assert (b10.open, b10.high, b10.low, b10.close) == (2.0, 9.0, 1.0, 9.0)
    assert b10.hl_range == 8.0 and b10.n_events == 4
    assert rows[11].open == rows[11].close == 7.0 and rows[11].n_events == 1


def test_ohlc_tie_break_on_id(spark):
    """Equal timestamps: the id column decides open/close deterministically."""
    from dbt_glue_spark.extensions.timeseries import ohlc_bars

    df = spark.createDataFrame(
        [(2, "2024-01-01 10:00:00", "a", 20.0), (1, "2024-01-01 10:00:00", "a", 10.0)],
        "event_id bigint, ts string, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "event_type", "value")
    r = ohlc_bars(df).collect()[0]
    assert (r.open, r.close) == (10.0, 20.0)


def test_gap_fill_carries_and_flags(spark):
    """Empty hours inherit the previous close; hours before the series'
    first bar stay NULL; is_gap marks exactly the synthesized cells."""
    from dbt_glue_spark.extensions.timeseries import gap_fill_hourly

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:10:00", "a", 3.0),
            (2, "2024-01-01 13:10:00", "a", 8.0),
            (3, "2024-01-01 12:10:00", "b", 5.0),
        ],
        "event_id bigint, ts string, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "event_type", "value")
    out = {
        (r.event_type, r.bar_hour.hour): (r.close, r.filled, r.is_gap)
        for r in gap_fill_hourly(df).collect()
    }
    # spine is the global hour range 10..13 for BOTH series
    assert len(out) == 8
    assert out[("a", 10)] == (3.0, 3.0, 0)
    assert out[("a", 11)] == (None, 3.0, 1)
    assert out[("a", 12)] == (None, 3.0, 1)
    assert out[("a", 13)] == (8.0, 8.0, 0)
    assert out[("b", 10)] == (None, None, 1)  # before b's first bar
    assert out[("b", 12)] == (5.0, 5.0, 0)
    assert out[("b", 13)] == (None, 5.0, 1)


def test_token_gini_hand_computed(spark):
    """gini_q6 = 10^6 - floor(sum(c^2)*10^6 / n^2); token-free docs keep a
    row with NULL score."""
    from dbt_glue_spark.extensions.text_analysis import token_gini

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b"), (4, "123 !!")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.n_types, r.gini_q6) for r in token_gini(df).collect()}
    assert got[1] == (4, 1, 0)  # degenerate: 1 - 16/16
    assert got[2] == (4, 4, 1000000 - (4 * 1000000) // 16)
    assert got[3] == (3, 2, 1000000 - (5 * 1000000) // 9)
    assert got[4] == (0, 0, None)


def test_basket_lift_hand_computed(spark):
    """Pair/marginal counts and the staged floor-division lift on a
    3-basket toy; duplicate (basket, item) rows collapse first."""
    from dbt_glue_spark.extensions.associations import basket_lift_pairs

    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (1, "y"), (2, "x"), (2, "y"), (2, "z"), (3, "x")],
        "b bigint, i string",
    )
    rows = basket_lift_pairs(df, "b", "i", min_support=1, k=10).collect()
    got = {(r.item_a, r.item_b): (r.c_ab, r.m_a, r.m_b, r.n_baskets, r.lift_q6) for r in rows}
    # m_x=3 m_y=2 m_z=1, N=3; (x,y)=2 (x,z)=1 (y,z)=1
    assert got[("x", "y")] == (2, 3, 2, 3, ((2 * 1000000) // 3 * 3) // 2)
    assert got[("x", "z")] == (1, 3, 1, 3, ((1 * 1000000) // 3 * 3) // 1)
    assert got[("y", "z")] == (1, 2, 1, 3, ((1 * 1000000) // 2 * 3) // 1)


def test_triangle_counts_vs_bruteforce(spark):
    """Degree-oriented wedge counting equals the brute-force enumeration
    on a graph with a hub, a clique, and disconnected chaff."""
    from itertools import combinations

    from dbt_glue_spark.extensions.graph import triangle_counts

    edges = {
        # K4 clique
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        # hub 10 connected to clique + leaves (star adds no triangles
        # except where leaves interconnect)
        (1, 10), (2, 10), (11, 10), (12, 10), (11, 12),
        # disconnected edge
        (20, 21),
    }
    norm = {(min(a, b), max(a, b)) for a, b in edges}
    expected = {}
    nodes = {n for e in edges for n in e}
    has = lambda a, b: (min(a, b), max(a, b)) in norm
    for a, b, c in combinations(sorted(nodes), 3):
        if has(a, b) and has(a, c) and has(b, c):
            for n in (a, b, c):
                expected[n] = expected.get(n, 0) + 1
    df = spark.createDataFrame(sorted(edges), "u bigint, v bigint")
    got = {r.node: r.n_triangles for r in triangle_counts(df, k=100).collect()}
    assert got == expected


def test_pareto_frontier_vs_bruteforce(spark):
    """Bucketed prefix-max frontier equals the NOT-EXISTS dominance
    definition, including duplicate points and same-x/same-y ties, and
    under a degenerate single-x-value corpus (the mx==mn bucket branch)."""
    import random

    from dbt_glue_spark.extensions.skyline import pareto_frontier_2d

    rng = random.Random(13)
    pts = [(rng.randint(0, 20) * 1.0, rng.randint(0, 20) * 1.0) for _ in range(120)]
    pts += pts[:5]  # exact duplicates must all survive together
    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]

    def brute(rows):
        keep = []
        for i, x, y in rows:
            dominated = any(
                (x2 >= x and y2 >= y and (x2 > x or y2 > y))
                for _, x2, y2 in rows
            )
            if not dominated:
                keep.append(i)
        return sorted(keep)

    df = spark.createDataFrame(rows, "id bigint, x double, y double")
    got = sorted(r.id for r in pareto_frontier_2d(df, "x", "y", n_buckets=8).collect())
    assert got == brute(rows)

    const = [(i, 5.0, float(i % 7)) for i in range(20)]
    dfc = spark.createDataFrame(const, "id bigint, x double, y double")
    gotc = sorted(r.id for r in pareto_frontier_2d(dfc, "x", "y").collect())
    assert gotc == brute(const)


def test_new_staged_plan_shapes(spark, sf_dir):
    """Top-k staged operators must plan TakeOrderedAndProject, and the
    authored sources may force-broadcast only constant-size frames
    (1-row totals/bounds, the 64-row bucket seeds) — never a corpus- or
    vocabulary-proportional side."""
    import inspect

    from dbt_glue_spark.extensions import associations, graph, skyline, timeseries
    from dbt_glue_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem")
    lift_plan = (
        associations.basket_lift_pairs(li, "l_orderkey", "l_partkey", 2, 100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in lift_plan
    tri_plan = (
        graph.triangle_counts(
            associations.copurchase_edges(li, "l_orderkey", "l_partkey", 2), 20
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in tri_plan
    from dbt_glue_spark.extensions import audit
    from dbt_glue_spark.operators import temporal

    for mod, fn in (
        (associations, associations.basket_lift_pairs),
        (graph, graph.triangle_counts),
        (skyline, skyline.pareto_frontier_2d),
        (timeseries, timeseries.gap_fill_hourly),
        (timeseries, timeseries.ohlc_bars),
        (audit, audit.ks_distance),
        (audit, audit.mad_outliers),
        (temporal, temporal.interval_islands),
    ):
        hints = [
            ln
            for ln in inspect.getsource(fn).splitlines()
            if "F.broadcast(" in ln
        ]
        ok = ("totals", "stats", "seeds")
        assert all(any(t in ln for t in ok) for ln in hints), (fn.__name__, hints)


def test_gap_fill_trailing_window(spark):
    """trailing_hours clips the spine to the last N hours ending at the
    corpus max; closes before the window are dropped, not carried in."""
    from dbt_glue_spark.extensions.timeseries import gap_fill_hourly

    df = spark.createDataFrame(
        [
            (1, "1900-01-01 00:00:00", "a", 1.0),  # outlier far outside window
            (2, "2024-01-01 10:10:00", "a", 3.0),
            (3, "2024-01-01 12:10:00", "a", 7.0),
        ],
        "event_id bigint, ts string, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "event_type", "value")
    rows = gap_fill_hourly(df, trailing_hours=4).collect()
    got = {r.bar_hour.hour: (r.close, r.filled, r.is_gap) for r in rows}
    assert len(rows) == 4  # hours 09..12, one series
    assert got[9] == (None, None, 1)  # 1900 close NOT carried in
    assert got[10] == (3.0, 3.0, 0)
    assert got[11] == (None, 3.0, 1)
    assert got[12] == (7.0, 7.0, 0)


@pytest.mark.slow
def test_staged_survive_empty_input(spark, sf_dir, tmp_path_factory):
    """Zero-row tables (partition pruning / outage reality at 100 TB):
    every staged spec must return an empty or NULL-aggregate frame with
    its normal schema, never raise."""
    import os

    from dbt_glue_spark.sources.registry import TABLES, load_table

    out = str(tmp_path_factory.mktemp("sf_empty_staged"))
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    for name, spec in sorted(SPECS_HERE.items()):
        df = spec.fn(spark, out)
        rows = df.collect()
        assert isinstance(rows, list), name


def test_prefix_jaccard_lossless_and_pruning(spark, sf_dir):
    """Prefix filtering must be LOSSLESS (same qualifying pairs as a
    Python brute force over the full shingle sets, exact integer
    threshold) while generating strictly fewer candidates than the full
    inverted-index join on real data."""
    from dbt_glue_spark.extensions.dedup import prefix_jaccard_pairs
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.collect()
    sets = {}
    for r in rows:
        toks = [t for t in (r.text or "").split() if t]
        sets[r.doc_id] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    expected = set()
    ids = sorted(sets)
    import itertools

    for a, b in itertools.combinations(ids, 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        c = len(sa & sb)
        if c and c * 2 >= (len(sa) + len(sb) - c):
            expected.add((a, b))
    got = {
        (r.id_a, r.id_b)
        for r in prefix_jaccard_pairs(docs, "text", "doc_id", 3, (1, 2)).collect()
    }
    assert got == expected
    # values: n_common / sizes agree with the brute force
    for r in prefix_jaccard_pairs(docs, "text", "doc_id", 3, (1, 2)).collect():
        sa, sb = sets[r.id_a], sets[r.id_b]
        assert (r.n_common, r.n_a, r.n_b) == (len(sa & sb), len(sa), len(sb))


def test_prefix_jaccard_hand_case(spark):
    """A pair exactly AT the threshold qualifies (>=, cross-multiplied);
    one shingle short does not."""
    from dbt_glue_spark.extensions.dedup import prefix_jaccard_pairs

    # doc1/doc2: 4-token docs -> 2 shingles each, sharing 1 -> J = 1/3 < 1/2
    # doc3/doc4: identical -> J = 1 >= 1/2
    # doc5/doc6: share 2 of 3 shingles each -> J = 2/4 = 1/2 (boundary)
    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "b c d e"),
            (3, "x y z w"),
            (4, "x y z w"),
            (5, "p q r s t"),
            (6, "p q r s u"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_jaccard_pairs(df, "text", "doc_id", 3, (1, 2)).collect()
    }
    assert set(got) == {(3, 4), (5, 6)}
    assert got[(3, 4)] == 1.0
    assert got[(5, 6)] == 0.5


def test_sequence_ngrams_hand_case(spark):
    """Trigram counts over per-key time-ordered streams; NULL-item and
    NULL-ts rows are dropped; short streams contribute nothing."""
    from dbt_glue_spark.extensions.associations import sequence_ngrams

    df = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 10:00:00", "v"),
            (2, 1, "2024-01-01 10:01:00", "c"),
            (3, 1, "2024-01-01 10:02:00", "p"),
            (4, 1, "2024-01-01 10:03:00", "v"),
            (5, 2, "2024-01-01 09:00:00", "v"),
            (6, 2, "2024-01-01 09:01:00", "c"),
            (7, 2, "2024-01-01 09:02:00", "p"),
            (8, 2, None, "x"),  # dropped: NULL order field
            (9, 2, "2024-01-01 09:03:00", None),  # dropped: NULL item
            (10, 3, "2024-01-01 08:00:00", "v"),  # stream too short
        ],
        "event_id bigint, user_id bigint, ts string, event_type string",
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) ts", "event_type")
    rows = sequence_ngrams(df, "user_id", ["ts", "event_id"], "event_type", 3, 10).collect()
    got = {r.ngram: (r.n_occurrences, r.n_keys) for r in rows}
    assert got == {"v c p": (2, 2), "c p v": (1, 1)}


def test_prefix_jaccard_heavy_df_lossless(spark, sf_dir):
    """The regime prefix filtering exists for: a boilerplate-heavy corpus
    (stop-shingles with df ~ corpus size). Output must stay bit-identical
    to the naive full inverted join under the same integer threshold —
    SCALE.md round-6 measured the 7.6x runtime win at sf0.1; this pins
    the losslessness half of that claim in the suite."""
    from dbt_glue_spark.extensions.dedup import prefix_jaccard_pairs
    from dbt_glue_spark.functions.text import shingle_postings
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = " ".join(f"footer{i % 7} legal{i % 5} notice{i % 3}" for i in range(14))
    heavy = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 != 0, F.concat_ws(" ", "text", F.lit(boiler))
        ).otherwise(F.col("text")),
    )
    pref = {
        (r.id_a, r.id_b, r.n_common, r.n_a, r.n_b)
        for r in prefix_jaccard_pairs(heavy, "text", "doc_id", 3, (1, 2)).collect()
    }
    for a, b, c, na, nb in pref:
        assert c * 2 >= (na + nb - c)
    # nothing qualifying is missed AND nothing extra admitted: the naive
    # full inverted join under the same exact integer rule is the reference

    sh = shingle_postings(heavy, "text", [F.col("doc_id").alias("id")])
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("c"))
    )
    szs = sh.groupBy("id").agg(F.count("*").alias("n"))
    full = (
        inter.join(szs.selectExpr("id AS id_a", "n AS na"), "id_a")
        .join(szs.selectExpr("id AS id_b", "n AS nb"), "id_b")
        .filter(F.col("c") * 2 >= F.col("na") + F.col("nb") - F.col("c"))
    )
    expected = {
        (r.id_a, r.id_b, r.c, r.na, r.nb)
        for r in full.selectExpr(
            "id_a", "id_b", "CAST(c AS BIGINT) c",
            "CAST(na AS BIGINT) na", "CAST(nb AS BIGINT) nb",
        ).collect()
    }
    assert pref == expected


def test_weighted_sample_by_group_contracts(spark, sf_dir):
    """Per-group sample size min(k, group size), est >= weight, per-group
    subset-sum estimate near the group's true mass, and layout
    invariance."""
    from dbt_glue_spark.extensions.sampling import weighted_sample_by_group
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    k = 32
    rows = weighted_sample_by_group(docs, "source", "doc_id", "n_chars", k=k).collect()
    by_group = {}
    for r in rows:
        by_group.setdefault(r.source, []).append(r)
        assert r.est_weight >= r.weight
    true_sizes = {
        r.source: (r.n, r.mass)
        for r in docs.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.greatest(F.col("n_chars").cast("bigint"), F.lit(1))).alias("mass"),
        )
        .collect()
    }
    assert set(by_group) == set(true_sizes)
    for g, sample in by_group.items():
        n, mass = true_sizes[g]
        assert len(sample) == min(k, n)
        est = sum(r.est_weight for r in sample)
        # fixed corpus + fixed seed: deterministic regression band
        assert abs(est - mass) / mass < 0.45, (g, est, mass)
    b = sorted(
        tuple(r)
        for r in weighted_sample_by_group(
            docs.repartition(11), "source", "doc_id", "n_chars", k=k
        ).collect()
    )
    assert sorted(tuple(r) for r in rows) == b


def test_operator_input_validation(spark):
    """Fail-fast contracts: non-numeric skyline x, empty order_cols,
    non-positive trailing window."""
    from dbt_glue_spark.extensions.associations import sequence_ngrams
    from dbt_glue_spark.extensions.skyline import pareto_frontier_2d
    from dbt_glue_spark.extensions.timeseries import gap_fill_hourly

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a", 1.0)],
        "event_id bigint, ts string, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "event_type", "value")
    with pytest.raises(TypeError, match="must be numeric"):
        pareto_frontier_2d(df, "ts", "value")
    with pytest.raises(ValueError, match="order_cols"):
        sequence_ngrams(df, "event_type", [], "event_type")
    with pytest.raises(ValueError, match="trailing_hours"):
        gap_fill_hourly(df, trailing_hours=0)
    from dbt_glue_spark.extensions.audit import ks_distance, mad_outliers

    with pytest.raises(TypeError, match="must be numeric"):
        ks_distance(df, "ts", F.lit(True), F.lit(True))
    with pytest.raises(ValueError, match="n_buckets"):
        ks_distance(df, "value", F.lit(True), F.lit(True), n_buckets=0)
    with pytest.raises(ValueError, match="k_sigma"):
        mad_outliers(df, "event_type", "value", k_sigma=0)


def test_ks_distance_vs_bruteforce(spark):
    """Bucketed prefix-sum KS equals a Python empirical-CDF computation,
    including ties, identical distributions (D=0 over shared values...
    actually D>0 when masses differ), and one-sided emptiness."""
    from dbt_glue_spark.extensions.audit import ks_distance

    rows = [(i, float(v)) for i, v in enumerate([1, 1, 2, 3, 3, 3, 7, 9, 9, 12])]
    df = spark.createDataFrame(rows, "id bigint, v double")
    a_cond = F.col("id") % 2 == 0
    b_cond = F.col("id") % 2 == 1
    got = ks_distance(df, "v", a_cond, b_cond, n_buckets=3).collect()[0]
    a_vals = sorted(v for i, v in rows if i % 2 == 0)
    b_vals = sorted(v for i, v in rows if i % 2 == 1)
    na, nb = len(a_vals), len(b_vals)
    points = sorted(set(a_vals + b_vals))
    d_num = max(
        abs(
            sum(1 for x in a_vals if x <= p) * nb
            - sum(1 for x in b_vals if x <= p) * na
        )
        for p in points
    )
    assert (got.n_a, got.n_b, got.ks_num) == (na, nb, d_num)
    import math

    assert got.ks == math.floor(d_num / (na * nb) * 1e6 + 0.5) / 1e6
    # identical populations -> D = 0
    same = ks_distance(df, "v", F.lit(True), F.lit(True)).collect()[0]
    assert same.ks_num == 0 and same.ks == 0.0
    # one side empty -> NULL statistic, no zero-division error
    empty = ks_distance(df, "v", F.lit(True), F.lit(False)).collect()[0]
    assert empty.n_b == 0 and empty.ks is None


def test_mad_outliers_hand_computed(spark):
    """Median/MAD/outlier count on a hand-checkable group, a zero-MAD
    group (NULL n_outliers, never 'everything is an outlier'), and
    robustness to the very outlier a z-score would absorb."""
    from dbt_glue_spark.extensions.audit import mad_outliers

    rows = (
        [("g1", float(v)) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]]
        + [("g2", 5.0)] * 6
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r.g: r for r in mad_outliers(df, "g", "v").collect()}
    # g1: med = 5.5, deviations [4.5,3.5,2.5,1.5,.5,.5,1.5,2.5,3.5,994.5]
    # -> mad = 2.5; threshold 3*1.4826*2.5 = 11.1195 -> only 1000 flagged
    assert got["g1"].median == 5.5 and got["g1"].mad == 2.5
    assert got["g1"].n == 10 and got["g1"].n_outliers == 1
    # g2: constant -> mad 0 -> undefined outlier count
    assert got["g2"].mad == 0.0 and got["g2"].n_outliers is None


@pytest.mark.slow
def test_staged_driver_contract(spark, sf_dir):
    """Staged results must already satisfy the driver's canonicalization
    precondition (flat orderable scalar columns + pandas sort round-trip)
    so promotion cannot re-create the round-4 array_agg incident."""
    from pyspark.sql import types as T

    from tests.test_driver_contract import NESTED, _driver_canon

    for name, spec in sorted(SPECS_HERE.items()):
        df = spec.fn(spark, sf_dir)
        nested = [
            f.name for f in df.schema.fields if isinstance(f.dataType, NESTED)
        ]
        assert not nested, (name, nested)
        _driver_canon(df.toPandas())


def test_interval_islands_hand_case(spark):
    """Overlap merges, touching endpoints merge, gaps split, end-before-
    start clamps, NULL bounds drop."""
    from dbt_glue_spark.operators.temporal import interval_islands

    rows = [
        ("u", "2024-01-01", "2024-01-05"),
        ("u", "2024-01-03", "2024-01-04"),  # nested -> same island
        ("u", "2024-01-05", "2024-01-07"),  # touching -> merges
        ("u", "2024-01-09", "2024-01-08"),  # inverted -> clamps to [09,09]
        ("u", "2024-01-20", "2024-01-21"),  # gap -> new island
        ("v", "2024-01-01", None),          # dropped
        ("v", "2024-01-02", "2024-01-02"),
    ]
    df = spark.createDataFrame(rows, "k string, s string, e string").selectExpr(
        "k", "CAST(s AS DATE) s", "CAST(e AS DATE) e"
    )
    got = sorted(
        (r.k, str(r.island_start), str(r.island_end), r.n_intervals)
        for r in interval_islands(df, "k", "s", "e").collect()
    )
    assert got == [
        ("u", "2024-01-01", "2024-01-07", 3),
        ("u", "2024-01-09", "2024-01-09", 1),
        ("u", "2024-01-20", "2024-01-21", 1),
        ("v", "2024-01-02", "2024-01-02", 1),
    ]


@pytest.mark.slow
@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e", "f"]),
            min_size=0,
            max_size=12,
        ),
        min_size=2,
        max_size=14,
    ),
    st.sampled_from([(1, 3), (1, 2), (2, 3), (4, 5), (1, 1)]),
)
def test_prefix_jaccard_positional_filter_lossless(spark, docs_tokens, pq):
    """Property pin for the round-9 PPJoin positional filter
    (c ≤ min(n_a − rk_a* + 1, n_b − rk_b* + 1), checked as
    ubound·(p+q) ≥ p·(n_a+n_b)): on random small corpora over a tiny
    vocabulary (maximal shingle collisions, lots of boundary pairs) and
    across thresholds INCLUDING exact 1/1, the operator must equal the
    Python brute force exactly — a too-tight bound loses pairs AT the
    threshold boundary first, which random tiny corpora hit constantly
    and the fixed sf corpus may never."""
    import itertools

    from dbt_glue_spark.extensions.dedup import prefix_jaccard_pairs

    p, q = pq
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sets = {
        i: {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
        for i, toks in enumerate(docs_tokens)
    }
    expected = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        c = len(sa & sb)
        if c and c * q >= p * (len(sa) + len(sb) - c):
            expected.add((a, b))
    got = {
        (r.id_a, r.id_b)
        for r in prefix_jaccard_pairs(df, "text", "doc_id", 3, (p, q)).collect()
    }
    assert got == expected
