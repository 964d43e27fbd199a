"""Operator-level unit tests: edge cases not covered by the oracle catalog
(null keys, empty inputs, direction variants, inference corners)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dbt_glue_spark.extensions import sampling
from dbt_glue_spark.extensions.dedup import exact_dedup, minhash_signatures
from dbt_glue_spark.extensions.sketches import bloom_build, countmin_build
from dbt_glue_spark.extensions.text_analysis import dsir_weights
from dbt_glue_spark.functions.text import normalize_text, tokens, word_shingles
from dbt_glue_spark.functions.vectors import cosine_sim
from dbt_glue_spark.materializations.seed import infer_seed_df
from dbt_glue_spark.materializations.snapshot import scd2_apply
from dbt_glue_spark.operators.merge import merge_upsert
from dbt_glue_spark.operators.schema_evolution import (
    SchemaChangeError,
    diff_schemas,
    evolve,
)
from dbt_glue_spark.operators.temporal import asof_join
from dbt_glue_spark.operators.zorder import zorder_rewrite, zorder_value
from dbt_glue_spark.quality.tests import accepted_values, unique


def test_merge_composite_and_null_keys(spark):
    tgt = spark.createDataFrame(
        [(1, "a", "old"), (1, "b", "old"), (None, "c", "old")],
        "k1 int, k2 string, v string",
    )
    src = spark.createDataFrame(
        [(1, "a", "new"), (None, "c", "new"), (2, "d", "new")],
        "k1 int, k2 string, v string",
    )
    out = merge_upsert(tgt, src, ["k1", "k2"]).collect()
    vals = {(r.k1, r.k2): r.v for r in out}
    assert len(out) == 4
    assert vals[(1, "a")] == "new"
    assert vals[(1, "b")] == "old"
    # NULL keys match null-safely (eqNullSafe), like MERGE <=> semantics
    assert vals[(None, "c")] == "new"
    assert vals[(2, "d")] == "new"


def test_merge_exclude_columns_and_empty_source(spark):
    tgt = spark.createDataFrame([(1, "x", "keep")], "id int, a string, b string")
    src = spark.createDataFrame([(1, "y", "clobber")], "id int, a string, b string")
    out = merge_upsert(tgt, src, ["id"], exclude_columns=["b"]).collect()[0]
    assert out.a == "y" and out.b == "keep"
    empty = src.filter("id < 0")
    assert merge_upsert(tgt, empty, ["id"]).count() == 1


def test_schema_evolution_modes(spark):
    src = spark.createDataFrame([(1, "a", 1.5)], "id int, name string, extra double")
    tgt = spark.createDataFrame([(2, "b", True)], "id int, name string, old boolean")
    d = diff_schemas(src.schema, tgt.schema)
    assert [f.name for f in d.source_only] == ["extra"]
    assert [f.name for f in d.target_only] == ["old"]

    s2, t2, schema = evolve(src, tgt, "ignore")
    assert schema.fieldNames() == ["id", "name", "old"]
    assert s2.collect()[0].old is None  # source lacks it → NULL backfill

    s3, _, schema3 = evolve(src, tgt, "append_new_columns")
    assert schema3.fieldNames() == ["id", "name", "old", "extra"]

    _, t4, schema4 = evolve(src, tgt, "sync_all_columns")
    assert schema4.fieldNames() == ["id", "name", "extra"]
    assert t4.collect()[0].extra is None  # target-only col dropped, new NULL

    with pytest.raises(SchemaChangeError):
        evolve(src, tgt, "fail")
    # identical schemas pass under fail
    evolve(src, src, "fail")


def test_asof_forward_and_no_match(spark):
    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10)), (1, dt.datetime(2024, 1, 1, 12))],
        "id int, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 11), 100.0)],
        "id int, ts timestamp, px double",
    )
    back = asof_join(left, right, on="ts", by="id", right_cols=["px"])
    rows = {r.ts.hour: r for r in back.collect()}
    assert rows[10].px_matched is None  # nothing at-or-before 10:00
    assert rows[12].px_matched == 100.0
    fwd = asof_join(left, right, on="ts", by="id", right_cols=["px"], direction="forward")
    rows = {r.ts.hour: r for r in fwd.collect()}
    assert rows[10].px_matched == 100.0  # nearest at-or-after
    assert rows[12].px_matched is None


def test_scd2_hard_delete_invalidation(spark):
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    v2 = spark.createDataFrame([(1, "a")], "id int, v string")  # id=2 deleted
    s1 = scd2_apply(None, v1, ["id"], "2024-01-01 00:00:00")
    s2 = scd2_apply(s1, v2, ["id"], "2024-02-01 00:00:00", invalidate_hard_deletes=True)
    rows = {r.id: r for r in s2.collect()}
    assert rows[2].dbt_valid_to is not None  # closed by deletion
    assert rows[1].dbt_valid_to is None
    # default: deletion keeps the row open
    s2b = scd2_apply(s1, v2, ["id"], "2024-02-01 00:00:00")
    assert {r.id: r.dbt_valid_to for r in s2b.collect()} == {1: None, 2: None}


def test_seed_inference_corners(spark):
    csv = (
        "i,f,b,d,ts,s,empty\n"
        "1,1.5,true,2024-01-01,2024-01-01T10:00:00,xy,\n"
        "2,2,false,2024-02-01,2024-02-01T11:00:00,,\n"
    )
    df = infer_seed_df(spark, csv)
    types = dict(df.dtypes)
    assert types == {
        "i": "bigint", "f": "double", "b": "boolean", "d": "date",
        "ts": "timestamp", "s": "string", "empty": "string",
    }
    r1, r2 = df.orderBy("i").collect()
    assert r2.s is None and r1.empty is None  # empty cells → NULL
    # column_types override casts after inference
    df2 = infer_seed_df(spark, "x\n007\n", column_types={"x": "string"})
    assert df2.collect()[0].x == "7"  # sniffed integral first, then cast


def test_quality_accepted_values_unquoted(spark):
    df = spark.createDataFrame([(1,), (1,), (2,), (9,)], "v int")
    bad = accepted_values(df, "v", [1, 2], quote_values=False).collect()
    assert [(r.value_field, r.n_records) for r in bad] == [(9, 1)]
    dup = unique(df, "v").collect()
    assert [(r.v, r.n_records) for r in dup] == [(1, 2)]


def test_text_primitives_edges(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "  Héllo,   WORLD!  ")], "id int, t string"
    )
    out = df.select(
        "id",
        F.size(word_shingles(tokens(F.col("t")), 3)).alias("n_sh"),
        normalize_text(F.col("t")).alias("norm"),
    ).collect()
    rows = {r.id: r for r in out}
    assert rows[1].n_sh == 0  # shorter than n → empty, not descending-range
    assert rows[2].n_sh == 0
    assert rows[3].norm == "h llo world"  # accents stripped to space, collapsed


@pytest.mark.parametrize(
    "a, b, want",
    [
        ([0.0, 0.0], [1.0, 2.0], None),  # zero norm: undefined
        ([1.0, None], [1.0, 2.0], None),  # a NULL element poisons the folds
        ([1.0, 2.0, 3.0], [1.0, 2.0], None),  # zip_with pads NULL: NULL dot
        ([1e200, 1.0], [1e200, 2.0], "nan"),  # overflow: Inf / Inf
    ],
    ids=["zero", "null_elem", "unequal_len", "overflow"],
)
def test_cosine_zero_vector_null(spark, a, b, want):
    """Per-row ``cosine_sim`` on the undefined-geometry inputs, and the
    joined-pair kernel (norms taken per row before the join) returns the
    identical rounded value on the same pair, NULL included."""
    import math

    from dbt_glue_spark.functions.scalars import half_up_round
    from dbt_glue_spark.functions.vectors import cosine_pairs

    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    row = df.select(
        cosine_sim(F.col("a"), F.col("b")).alias("s"),
        half_up_round(cosine_sim(F.col("a"), F.col("b")), 4).alias("s4"),
    ).collect()[0]
    if want is None:
        assert row.s is None
    else:
        assert math.isnan(row.s)
    side = lambda v: spark.createDataFrame([(v,)], "v array<double>")  # noqa: E731
    pair = cosine_pairs(side(a), side(b)).collect()
    assert len(pair) == 1 and pair[0].sim == row.s4


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(5, "same text"), (2, "same text"), (9, "other")], "doc_id int, text string"
    )
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [2, 9]


def test_salted_join_preserves_semantics(spark):
    from dbt_glue_spark.operators.skew import salted_join, two_phase_agg

    left = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, i) for i in range(5)], "k int, v int"
    )
    right = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "none")], "k int, tag string")
    out = salted_join(left, right, ["k"], salt=4)
    assert out.count() == 55  # every left row matched exactly once
    assert out.filter("tag = 'hot'").count() == 50
    lo = salted_join(left, right.filter("k = 2"), ["k"], how="left", salt=4)
    assert lo.count() == 55
    assert lo.filter("tag is null").count() == 50  # unmatched survive left join

    agg = two_phase_agg(
        left,
        ["k"],
        partial=[F.sum("v").alias("ps"), F.count("*").alias("pc")],
        final=lambda part: [
            F.sum("ps").cast("bigint").alias("total"),
            F.sum("pc").cast("bigint").alias("n"),
        ],
        salt=4,
    )
    rows = {r.k: (r.total, r.n) for r in agg.collect()}
    assert rows[1] == (sum(range(50)), 50)
    assert rows[2] == (sum(range(5)), 5)


def test_dup_clusters_multi_hop_chain(spark):
    from dbt_glue_spark.extensions.dedup import dup_clusters

    docs = spark.createDataFrame(
        [Row(doc_id=i) for i in (1, 2, 3, 4, 5, 6, 7)]
    )
    # chain 1-2-3 (1≈2, 2≈3 but 1≉3 directly), pair 5-6, singletons 4 and 7
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=5, id_b=6)]
    )
    out = {r.doc_id: r.cluster_id for r in dup_clusters(docs, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_dup_clusters_no_edges(spark):
    from dbt_glue_spark.extensions.dedup import dup_clusters

    docs = spark.createDataFrame([Row(doc_id=i) for i in (10, 20)])
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    out = {r.doc_id: r.cluster_id for r in dup_clusters(docs, pairs).collect()}
    assert out == {10: 10, 20: 20}


def test_hash_sample_repartition_invariant(spark):
    from dbt_glue_spark.extensions.sampling import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r.k for r in hash_sample(df, "k", 0.3).collect()}
    b = {r.k for r in hash_sample(df.repartition(17), "k", 0.3).collect()}
    assert a == b  # membership is content-derived, not layout-derived
    assert 0.2 < len(a) / 2000 < 0.4
    # incremental-load stability: a smaller corpus keeps the same members
    sub = {r.k for r in hash_sample(df.filter("k < 500"), "k", 0.3).collect()}
    assert sub == {k for k in a if k < 500}


def test_stratified_sample_exact_per_stratum(spark):
    from dbt_glue_spark.extensions.sampling import stratified_sample

    rows = [Row(g="a", k=i) for i in range(100)] + [Row(g="b", k=i + 1000) for i in range(7)]
    df = spark.createDataFrame(rows)
    out = stratified_sample(df, ["g"], "k", 0.1).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, 0)
        by_g[r.g] += 1
    assert by_g == {"a": 10, "b": 1}  # ceil(100*0.1)=10, ceil(7*0.1)=1


def test_kmv_exact_below_k_and_stable_above(spark):
    from dbt_glue_spark.extensions.sketches import kmv_distinct

    small = spark.range(0, 50).withColumnRenamed("id", "v")
    [r] = kmv_distinct(small, "v", k=64).collect()
    assert r.approx_distinct == 50.0  # exact below k

    big = spark.range(0, 20000).withColumnRenamed("id", "v")
    [r1] = kmv_distinct(big, "v", k=256).collect()
    [r2] = kmv_distinct(big.repartition(13), "v", k=256).collect()
    assert r1.approx_distinct == r2.approx_distinct  # layout-invariant
    assert abs(r1.approx_distinct - 20000) / 20000 < 0.25


def test_paragraph_dedup_keeps_first_occurrence_only(spark):
    from dbt_glue_spark.extensions.dedup import paragraph_dedup

    sep = "\n\n"
    df = spark.createDataFrame(
        [
            (1, sep.join(["shared para", "unique one"])),
            (2, sep.join(["shared para", "unique two", "shared para"])),
            (3, "shared para"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    # doc 1 has the first (lowest doc_id, pos) occurrence — keeps both
    assert out[1].dedup_text == "shared para" + sep + "unique one"
    assert out[1].n_paras_kept == 2
    # doc 2 loses both copies (its pos-0 copy is not the corpus-first)
    assert out[2].dedup_text == "unique two"
    assert out[2].n_paras_kept == 1 and out[2].n_paras_total == 3
    # doc 3 was ONLY the shared para → survives as empty text
    assert out[3].dedup_text == "" and out[3].n_paras_kept == 0


def test_hll_accuracy_layout_invariance_and_grouping(spark):
    from dbt_glue_spark.extensions.sketches import hll_distinct

    big = spark.range(0, 20000).withColumnRenamed("id", "v")
    [r1] = hll_distinct(big, "v").collect()
    [r2] = hll_distinct(big.repartition(17), "v").collect()
    # BIGINT register sum ⇒ estimate is bit-identical under any layout
    assert r1.approx_distinct == r2.approx_distinct
    # m=256 ⇒ ~6.5% std error; allow 3 sigma
    assert abs(r1.approx_distinct - 20000) / 20000 < 0.20

    from pyspark.sql import functions as F

    grouped = big.withColumn("g", F.col("v") % 2)
    rows = {r.g: r.approx_distinct for r in hll_distinct(grouped, "v", ["g"]).collect()}
    assert set(rows) == {0, 1}
    for est in rows.values():
        assert abs(est - 10000) / 10000 < 0.20


def test_contamination_pairs_detects_verbatim_leak(spark):
    from dbt_glue_spark.extensions.dedup import contamination_pairs

    leak = "the quick brown fox jumps over the lazy dog again and again"
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="completely unrelated training text about spark plans"),
            Row(doc_id=2, text="prefix words " + leak + " suffix words here"),
        ]
    )
    eval_ = spark.createDataFrame([Row(doc_id=100, text=leak)])
    out = contamination_pairs(train, eval_, min_common=5).collect()
    assert [(r.a_id, r.b_id) for r in out] == [(2, 100)]
    assert out[0].n_common >= 5


def _md5(s: str) -> bytes:
    import hashlib

    return hashlib.md5(s.encode()).digest()


def test_shingle_postings_key_is_md5_of_the_ngram(spark):
    from dbt_glue_spark.functions.text import shingle_postings

    df = spark.createDataFrame(
        [
            (1, "a b c d", "x"),
            (2, "a b", "y"),  # fewer than n tokens: no postings
            (3, None, "z"),  # NULL text: no postings
            (4, "a  b c a b c", "w"),  # repeated shingles count once
        ],
        "doc_id bigint, text string, tag string",
    )
    out = shingle_postings(df, "text", ["doc_id", "tag"])
    assert out.columns == ["doc_id", "tag", "h"]
    assert dict(out.dtypes)["h"] == "binary"
    got = sorted((r.doc_id, r.tag, bytes(r.h)) for r in out.collect())
    want = [(1, "x", g) for g in ("a b c", "b c d")]
    want += [(4, "w", g) for g in ("a b c", "b c a", "c a b")]
    assert got == sorted((i, t, _md5(g)) for i, t, g in want)


def test_shingle_postings_cutoff_drops_exactly_the_frequent_shingles(spark):
    from dbt_glue_spark.functions.text import shingle_postings

    texts = {1: "a b c d", 2: "a b c e", 3: "a b c f", 4: "x b c d"}
    df = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    post = {
        (i, " ".join(t.split()[k : k + 3]))
        for i, t in texts.items()
        for k in range(len(t.split()) - 2)
    }
    freq = {}
    for _, g in post:
        freq[g] = freq.get(g, 0) + 1
    for cutoff in (1, 2, 3):
        got = {
            (r.doc_id, bytes(r.h))
            for r in shingle_postings(df, "text", ["doc_id"], 3, cutoff).collect()
        }
        assert got == {(i, _md5(g)) for i, g in post if freq[g] <= cutoff}, cutoff


def test_containment_pairs_matches_brute_force(spark):
    from dbt_glue_spark.extensions.dedup import containment_pairs

    texts = {
        1: " ".join(f"w{i}" for i in range(20)),
        2: " ".join(f"w{i}" for i in range(5, 13)),  # inside 1, not vice versa
        3: " ".join(f"m{i}" for i in range(10)),  # 3 and 4 contain each other
        4: " ".join(f"m{i}" for i in range(11)),
        5: "z0 z1 z2 z3 z4",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    sets = {
        i: {" ".join(t.split()[k : k + 3]) for k in range(len(t.split()) - 2)}
        for i, t in texts.items()
    }
    expected = {
        (a, b): (len(sa & sb), len(sa), len(sb))
        for a, sa in sets.items()
        for b, sb in sets.items()
        if a != b and len(sa) >= 3 and sa & sb and len(sa & sb) * 5 >= len(sa) * 4
    }
    got = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b)
        for r in containment_pairs(df).collect()
    }
    assert got == expected
    assert (2, 1) in got and (1, 2) not in got
    assert (3, 4) in got and (4, 3) in got


# ---- retrieval / chunking / repetition ------------------------------------


def test_chunk_tokens_covers_every_token_once_per_stride(spark):
    from dbt_glue_spark.extensions.text_analysis import chunk_tokens

    text = " ".join(f"t{i}" for i in range(95))
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    rows = chunk_tokens(df, size=50, stride=40).orderBy("chunk_idx").collect()
    # starts 0, 40, 80 → lengths 50, 50, 15; last chunk short, none empty
    assert [r.chunk_idx for r in rows] == [0, 1, 2]
    assert [r.n_chunk_tokens for r in rows] == [50, 50, 15]
    assert rows[2].chunk_text.split(" ")[0] == "t80"
    # overlap: chunk 1 starts at t40, inside chunk 0's [0, 50) window
    assert rows[1].chunk_text.split(" ")[0] == "t40"


def test_chunk_tokens_doc_shorter_than_one_chunk(spark):
    from dbt_glue_spark.extensions.text_analysis import chunk_tokens

    df = spark.createDataFrame([(7, "a b c")], "doc_id bigint, text string")
    rows = chunk_tokens(df, size=50, stride=40).collect()
    assert len(rows) == 1
    assert rows[0].n_chunk_tokens == 3
    assert rows[0].chunk_text == "a b c"


def test_repetition_ratio_extremes(spark):
    from dbt_glue_spark.extensions.text_analysis import repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "x y x y x y x y"),   # maximally repetitive 3-grams
            (2, "a b c d e f g h"),   # all distinct
            (3, "a b"),               # shorter than n → 0 ngrams, frac 0
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in repetition_ratio(df, n=3).collect()}
    assert out[1].n_ngrams == 6 and out[1].n_distinct_ngrams == 2
    assert out[1].dup_ngram_frac == pytest.approx(4 / 6, abs=1e-6)
    assert out[2].dup_ngram_frac == 0.0
    assert out[3].n_ngrams == 0 and out[3].dup_ngram_frac == 0.0


def test_tfidf_df_counts_come_from_full_corpus(spark):
    from pyspark.sql import functions as SF

    from dbt_glue_spark.extensions.retrieval import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "rare common"), (2, "common"), (3, "common")],
        "doc_id bigint, text string",
    )
    # scope only doc 1: its df column must still see docs 2-3
    out = {r.tok: r for r in tfidf_top_terms(df, k=5, scope=SF.col("doc_id") == 1).collect()}
    assert set(out) == {"rare", "common"}
    assert out["common"].df == 3 and out["rare"].df == 1
    # rarer term scores higher: idf (3+1)/(1+1)=2 vs (3+1)/(3+1)=1
    assert out["rare"].tfidf > out["common"].tfidf
    assert out["rare"].rnk == 1


def test_bm25_prefers_matching_docs_and_shorter_docs(spark):
    from dbt_glue_spark.extensions.retrieval import bm25_search

    df = spark.createDataFrame(
        [
            (1, "spark spark spark"),
            (2, "spark " + "filler " * 40),
            (3, "nothing relevant here"),
        ],
        "doc_id bigint, text string",
    )
    rows = bm25_search(df, ["spark"], topk=10).collect()
    ids = [r.doc_id for r in rows]
    assert 3 not in ids                      # no query term → no score row
    assert ids[0] == 1                        # high tf, short doc wins
    assert rows[0].bm25 > rows[1].bm25 > 0.0


def test_countmin_overestimates_and_is_exact_without_collisions(spark):
    from dbt_glue_spark.extensions.sketches import countmin_build, countmin_estimate

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "tok string"
    )
    sketch = countmin_build(df, "tok")
    items = spark.createDataFrame([("a",), ("b",), ("c",), ("zzz",)], "tok string")
    out = {r.tok: r.cm_count for r in countmin_estimate(sketch, items, "tok").collect()}
    # 3 distinct keys in 256 buckets: no collisions → exact; absent key → 0
    assert out == {"a": 5, "b": 3, "c": 1, "zzz": 0}


def test_countmin_merge_is_cellwise_sum(spark):
    from pyspark.sql import functions as SF

    from dbt_glue_spark.extensions.sketches import countmin_build, countmin_estimate

    h1 = spark.createDataFrame([("a",)] * 2 + [("b",)], "tok string")
    h2 = spark.createDataFrame([("a",)] * 3, "tok string")
    merged = (
        countmin_build(h1, "tok").unionAll(countmin_build(h2, "tok"))
        .groupBy("row_idx", "bucket").agg(SF.sum("cnt").cast("bigint").alias("cnt"))
    )
    whole = countmin_build(h1.unionAll(h2), "tok")
    assert sorted(merged.collect()) == sorted(whole.collect())


def test_bloom_no_false_negatives_and_some_rejection(spark):
    from dbt_glue_spark.extensions.sketches import bloom_build, bloom_probe

    members = spark.range(0, 100).selectExpr("id AS k")
    probe = spark.range(0, 10000).selectExpr("id AS k")
    bloom = bloom_build(members, "k")
    kept = {r.k for r in bloom_probe(bloom, probe, "k").collect()}
    # every member passes (no false negatives)
    assert set(range(100)) <= kept
    # 2^16 bits / 400 set positions → vast majority of non-members rejected
    assert len(kept) < 300


def test_bloom_tiny_filter_has_false_positives_but_still_no_negatives(spark):
    from dbt_glue_spark.extensions.sketches import bloom_build, bloom_probe

    members = spark.range(0, 50).selectExpr("id AS k")
    probe = spark.range(0, 500).selectExpr("id AS k")
    bloom = bloom_build(members, "k", bits=64, k=2)
    kept = {r.k for r in bloom_probe(bloom, probe, "k", bits=64, k=2).collect()}
    assert set(range(50)) <= kept
    assert len(kept) > 50  # saturated 64-bit filter must admit extras


def test_countmin_and_bloom_are_layout_invariant(spark):
    from dbt_glue_spark.extensions.sketches import bloom_build, countmin_build

    base = spark.range(0, 1000).selectExpr("CAST(id % 137 AS STRING) AS k")
    for reshaped in (base.repartition(17), base.coalesce(1), base.repartition(5, "k")):
        assert sorted(countmin_build(reshaped, "k").collect()) == sorted(
            countmin_build(base, "k").collect()
        )
        assert sorted(bloom_build(reshaped, "k").collect()) == sorted(
            bloom_build(base, "k").collect()
        )


def test_histogram_quantiles_close_to_exact_and_merge_friendly(spark):
    from dbt_glue_spark.extensions.sketches import histogram_quantiles

    df = spark.range(0, 10000).selectExpr("CAST(id AS DOUBLE) AS x")
    out = {r.q: r.estimate for r in histogram_quantiles(df, "x").collect()}
    # uniform 0..9999: p50 ≈ 5000 within one bucket width (10000/256 ≈ 39)
    assert abs(out[0.5] - 5000) < 40
    assert abs(out[0.9] - 9000) < 40
    assert abs(out[0.99] - 9900) < 40
    # layout invariance
    out2 = {
        r.q: r.estimate
        for r in histogram_quantiles(df.repartition(13), "x").collect()
    }
    assert out == out2


def test_train_val_test_split_stable_under_corpus_growth(spark):
    from dbt_glue_spark.extensions.sampling import train_val_test_split

    small = spark.range(0, 500).selectExpr("id AS k")
    big = spark.range(0, 1000).selectExpr("id AS k")
    s_small = {r.k: r.split for r in train_val_test_split(small, "k").collect()}
    s_big = {r.k: r.split for r in train_val_test_split(big, "k").collect()}
    # growing the corpus never reassigns an existing key
    assert all(s_big[k] == v for k, v in s_small.items())
    # all three splits populated, proportions roughly 80/10/10
    from collections import Counter

    c = Counter(s_big.values())
    assert set(c) == {"train", "val", "test"}
    assert 700 < c["train"] < 900


def test_asof_join_bucketed_equivalent_to_window_asof(spark):
    # property: the segmented-scan (bucketed) formulation must equal the
    # single-window formulation on every direction / bucket width —
    # including buckets so narrow that most carry rows matter, and a hot
    # key holding half the rows
    import random

    from dbt_glue_spark.operators.temporal import asof_join, asof_join_bucketed

    rng = random.Random(11)
    # unique (key, ts) on the right so tie-resolution can't differ
    right_rows = [
        (k, float(t), k * 1000 + t)
        for k in range(5)
        for t in rng.sample(range(1000), 40)
    ]
    left_rows = []
    for i in range(600):
        k = 0 if i % 2 == 0 else rng.randrange(5)  # key 0 is hot (50%)
        left_rows.append((i, k, float(rng.randrange(1000))))
    left = spark.createDataFrame(left_rows, ["event_id", "k", "ts"])
    right = spark.createDataFrame(right_rows, ["k", "ts", "payload"])

    for direction in ("backward", "forward"):
        base = asof_join(left, right, on="ts", by="k", direction=direction)
        for width in (50.0, 173.0, 100000.0):  # incl. one-bucket degenerate
            bucketed = asof_join_bucketed(
                left, right, on="ts", by="k",
                direction=direction, bucket_seconds=width,
            )
            assert bucketed.schema == base.schema
            diff = base.exceptAll(bucketed).count() + bucketed.exceptAll(base).count()
            assert diff == 0, (direction, width)


def test_asof_join_bucketed_window_partitions_by_bucket(spark):
    # the scale claim itself: the heavy window must partition by
    # (key, bucket), never by key alone
    from dbt_glue_spark.operators.temporal import asof_join_bucketed
    import contextlib, io

    left = spark.createDataFrame([(1, 0, 5.0)], ["event_id", "k", "ts"])
    right = spark.createDataFrame([(0, 1.0, 7)], ["k", "ts", "payload"])
    out = asof_join_bucketed(left, right, on="ts", by="k", bucket_seconds=10.0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    win_lines = [
        ln for ln in plan.splitlines() if "Window" in ln or "Arguments: [last" in ln
    ]
    main_win = [ln for ln in win_lines if "__r" in ln]
    assert main_win and all("__b" in ln for ln in main_win), plan


def test_bigram_lm_score_hand_computed(spark):
    from dbt_glue_spark.extensions.text_analysis import bigram_lm_score

    docs = spark.createDataFrame(
        [
            (1, "The cat sat"),
            (2, "the cat ran"),
            (3, "zq xv"),
            (4, "word"),  # <2 tokens -> no bigrams -> absent
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    assert set(rows) == {1, 2, 3}
    # unigrams: the:2 cat:2 sat:1 ran:1 zq:1 xv:1 word:1 -> V=7
    # p(the->cat)=(2+1)/(2+7)=1/3; p(cat->sat)=p(cat->ran)=(1+1)/(2+7)=2/9
    # doc1/doc2 mean = (1/3 + 2/9)/2 = 5/18; p9 quantization:
    # 333333333 + 222222222 = 555555555 -> /2e9 = 0.2777777775 -> 0.277778
    assert rows[1]["n_bigrams"] == 2
    assert rows[1]["avg_next_word_p"] == 0.277778
    assert rows[2]["avg_next_word_p"] == 0.277778
    # doc3: p(zq->xv)=(1+1)/(1+7)=0.25 exactly
    assert rows[3]["n_bigrams"] == 1
    assert rows[3]["avg_next_word_p"] == 0.25
    # in-distribution text outranks the rare-word doc
    assert rows[1]["avg_next_word_p"] > rows[3]["avg_next_word_p"]


def test_wordpiece_greedy_matches_python_reference(spark):
    from dbt_glue_spark.extensions.text_analysis import (
        WORDPIECE_VOCAB,
        wordpiece_tokenize,
    )

    def py_wordpiece(word: str) -> list[str]:
        vocab = set(WORDPIECE_VOCAB)
        out, pos = [], 0
        while pos < len(word):
            for ln in (4, 3, 2, 1):
                if word[pos : pos + ln] in vocab and len(word[pos : pos + ln]) == ln:
                    out.append(word[pos : pos + ln])
                    pos += ln
                    break
        return out

    text = (
        "The nation mentioned a verification agreement tonight and "
        "questioned whether able zebras organize estimations"
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = {r["word"]: r for r in wordpiece_tokenize(df).collect()}
    import re

    for word in set(re.findall(r"[a-z]+", text.lower())):
        ref = py_wordpiece(word)
        got = rows[word]
        assert got["n_pieces"] == len(ref), (word, ref, got["pieces"])
        rendered = " ".join(
            p if i == 0 else "##" + p for i, p in enumerate(ref)
        )
        assert got["pieces"] == rendered, (word, ref, got["pieces"])
        # pieces always reassemble to the original word (no UNK possible
        # for [a-z]+ words: every letter is in the vocab)
        assert "".join(ref) == word


def test_corpus_diff_statuses(spark):
    from dbt_glue_spark.extensions.audit import corpus_diff

    a = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will vanish")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "brand new")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["status"] for r in corpus_diff(a, b).collect()}
    assert rows == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_cdc_chunks_are_shift_resistant_unlike_stride_windows(spark):
    from dbt_glue_spark.extensions.dedup import cdc_chunks

    base = " ".join(f"tok{i}" for i in range(200))
    shifted = "inserted " + base  # one word prepended
    docs = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    ch = cdc_chunks(docs).collect()
    h1 = {r["chunk_hash"] for r in ch if r["doc_id"] == 1}
    h2 = {r["chunk_hash"] for r in ch if r["doc_id"] == 2}
    # content-defined boundaries re-synchronize after the insertion: the
    # overwhelming majority of chunks survive byte-identical
    shared = len(h1 & h2) / len(h1)
    assert shared >= 0.8, (shared, len(h1), len(h2))
    # fixed-stride windows shift instead: stride-32 spans of the same two
    # docs share (almost) nothing
    from dbt_glue_spark.extensions.text_analysis import chunk_tokens

    fixed = chunk_tokens(docs, size=32, stride=32).collect()
    f1 = {r["chunk_text"] for r in fixed if r["doc_id"] == 1}
    f2 = {r["chunk_text"] for r in fixed if r["doc_id"] == 2}
    assert len(f1 & f2) / len(f1) <= 0.2


def test_cdc_chunks_cover_every_token_and_count_sharing(spark):
    from dbt_glue_spark.extensions.dedup import cdc_chunks

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z")],
        "doc_id long, text string",
    )
    ch = cdc_chunks(docs).collect()
    by_doc = {}
    for r in ch:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # chunks partition the token stream exactly
    assert sum(r["n_chunk_tokens"] for r in by_doc[1]) == 8
    assert sum(r["n_chunk_tokens"] for r in by_doc[3]) == 3
    # identical docs share every chunk; the unrelated doc shares none
    assert all(r["n_docs_with_chunk"] == 2 for r in by_doc[1])
    assert all(r["n_docs_with_chunk"] == 1 for r in by_doc[3])


def test_cluster_safe_split_keeps_dup_groups_together(spark):
    from dbt_glue_spark.extensions.sampling import (
        cluster_safe_split,
        train_val_test_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(300)], "doc_id long, text string"
    )
    # synthetic near-dup graph: chains {3k, 3k+1, 3k+2} for k < 20
    pairs = spark.createDataFrame(
        [(3 * k, 3 * k + 1) for k in range(20)]
        + [(3 * k + 1, 3 * k + 2) for k in range(20)],
        "id_a long, id_b long",
    )
    ass = {
        r["doc_id"]: r
        for r in cluster_safe_split(docs, pairs, "doc_id").collect()
    }
    assert len(ass) == 300
    # every transitive group lands on one side
    for k in range(20):
        s = {ass[3 * k + j]["split"] for j in range(3)}
        assert len(s) == 1, (k, s)
        assert ass[3 * k]["cluster_id"] == 3 * k
    # singletons agree exactly with the plain per-doc hash split
    plain = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(docs, "doc_id").collect()
    }
    clustered = {3 * k + j for k in range(20) for j in range(3)}
    for i in range(300):
        if i not in clustered:
            assert ass[i]["split"] == plain[i], i
    # zero leakage: no pair crosses a split boundary
    crossings = [
        (a, b)
        for a, b in [(r["id_a"], r["id_b"]) for r in pairs.collect()]
        if ass[a]["split"] != ass[b]["split"]
    ]
    assert crossings == []


def test_pit_join_selects_version_valid_at_event_time(spark):
    from datetime import datetime

    from dbt_glue_spark.operators.temporal import pit_join

    dim = spark.createDataFrame(
        [
            (1, "v1", datetime(2024, 1, 1), datetime(2024, 2, 1)),
            (1, "v2", datetime(2024, 2, 1), None),
            (2, "only", datetime(2024, 1, 1), None),
        ],
        "k long, ver string, dbt_valid_from timestamp, dbt_valid_to timestamp",
    )
    facts = spark.createDataFrame(
        [
            (10, 1, datetime(2024, 1, 15)),   # inside v1
            (11, 1, datetime(2024, 2, 1)),    # boundary: valid_to exclusive -> v2
            (12, 1, datetime(2024, 3, 1)),    # open v2
            (13, 2, datetime(2023, 12, 1)),   # before any version -> no match
            (14, 3, datetime(2024, 1, 15)),   # unknown key -> no match
        ],
        "fid long, k long, ts timestamp",
    )
    out = {r["fid"]: r["ver"] for r in pit_join(facts, dim, ["k"], "ts").collect()}
    assert out == {10: "v1", 11: "v2", 12: "v2"}
    # SCD2 non-overlap invariant => never a fan-out
    assert pit_join(facts, dim, ["k"], "ts").count() == 3
    # left join keeps unmatched facts with NULL dim columns
    left = pit_join(facts, dim, ["k"], "ts", how="left")
    assert left.count() == 5


def test_pit_join_plan_is_hash_join_not_nested_loop(spark):
    from datetime import datetime

    from dbt_glue_spark.operators.temporal import pit_join

    dim = spark.createDataFrame(
        [(1, "v1", datetime(2024, 1, 1), None)],
        "k long, ver string, dbt_valid_from timestamp, dbt_valid_to timestamp",
    )
    facts = spark.createDataFrame(
        [(10, 1, datetime(2024, 1, 15))], "fid long, k long, ts timestamp"
    )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pit_join(facts, dim, ["k"], "ts").explain(mode="simple")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_quota_sample_exact_counts_and_minimal_churn(spark):
    from dbt_glue_spark.extensions.sampling import quota_sample

    rows = [(i, "en" if i % 3 else "fr") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = quota_sample(df, ["lang"], 10, "doc_id").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert len(by_lang["en"]) == 10 and len(by_lang["fr"]) == 10
    # small stratum: takes everything it has
    tiny = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "doc_id long, lang string"
    )
    t = quota_sample(tiny, ["lang"], 10, "doc_id")
    assert t.count() == 3
    # growth churns minimally: doubling the corpus keeps most picks
    grown = spark.createDataFrame(
        rows + [(i + 1000, "en" if i % 3 else "fr") for i in range(100)],
        "doc_id long, lang string",
    )
    out2 = quota_sample(grown, ["lang"], 10, "doc_id").collect()
    picks1 = {r["doc_id"] for r in out}
    picks2 = {r["doc_id"] for r in out2}
    assert len(picks1 & picks2) >= 10  # ≥half the original 20 survive


def test_bpe_train_matches_python_reference(spark):
    from collections import Counter

    from dbt_glue_spark.extensions.bpe import bpe_train

    text = "the thing then these the then low lower lowest low low"
    import re

    def py_bpe(corpus: str, n: int):
        freqs = Counter(re.findall(r"[a-z]+", corpus.lower()))
        words = {w: list(w) for w in freqs}
        out = []
        for r in range(1, n + 1):
            pc = Counter()
            for w, syms in words.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += freqs[w]
            if not pc:
                break
            (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((r, a, b, c))
            for w, syms in words.items():
                i, ns = 0, []
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                        ns.append(a + b)
                        i += 2
                    else:
                        ns.append(syms[i])
                        i += 1
                words[w] = ns
        return out

    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [
        (r["round"], r["sym_a"], r["sym_b"], r["pair_count"])
        for r in bpe_train(docs, n_merges=6)
        .orderBy("round")
        .collect()
    ]
    assert got == py_bpe(text, 6), got


def test_word_lexer_resolves_any_text_column_name(spark):
    """The word-lexing operators take ``text_col`` as a column, not as a
    SQL fragment: a text column named ``doc-text`` gives the same rows
    as one named ``text``. The same holds for the other operators that
    take a caller's column name (score column ``q-score``)."""
    from dbt_glue_spark.extensions.retrieval import tfidf_top_terms
    from dbt_glue_spark.extensions.sampling import threshold_retention
    from dbt_glue_spark.extensions.text_analysis import (
        bigram_lm_score,
        gopher_quality_flags,
        token_gini,
        vocab_coverage,
    )
    from dbt_glue_spark.quality.profile import winsorize_report

    docs = spark.createDataFrame(
        [
            (1, "The cat sat on the mat", 7),
            (2, "the dog sat; THE cat ran... #tag", 42),
            (3, "ΣΟΦΟΣ İstanbul cat cat cat", -5),
            (4, None, None),
        ],
        "doc_id bigint, text string, score bigint",
    )
    dashed = docs.withColumnRenamed("text", "doc-text").withColumnRenamed(
        "score", "q-score"
    )
    for run in (
        lambda d, c, s: bigram_lm_score(d, text_col=c),
        lambda d, c, s: vocab_coverage(d, ks=(1, 3), text_col=c),
        lambda d, c, s: token_gini(d, text_col=c),
        lambda d, c, s: tfidf_top_terms(d, k=2, text_col=c),
        lambda d, c, s: gopher_quality_flags(d, text_col=c),
        lambda d, c, s: threshold_retention(d, s, "doc_id", 10),
        lambda d, c, s: winsorize_report(d, s, "doc_id"),
    ):
        want = sorted(map(tuple, run(docs, "text", "score").collect()))
        assert want
        got = run(dashed, "doc-text", "q-score").collect()
        assert sorted(map(tuple, got)) == want


_ARG_CHECKS = {
    "train_val_test_split": (
        "val_fraction",
        lambda d: sampling.train_val_test_split(d, "doc_id", 0.6, 0.5),
    ),
    "cluster_safe_split": (
        "val_fraction",
        lambda d: sampling.cluster_safe_split(
            d, d.selectExpr("doc_id id_a", "doc_id id_b"), "doc_id", 0.6, 0.5
        ),
    ),
    "minhash_signatures": ("num_hashes", lambda d: minhash_signatures(d, num_hashes=9)),
    "dsir_weights": ("n_buckets", lambda d: dsir_weights(d, "doc_id = 1", n_buckets=1000)),
    "countmin_build": ("width", lambda d: countmin_build(d, "doc_id", width=1000)),
    "bloom_build": ("bits", lambda d: bloom_build(d, "doc_id", bits=1000)),
    "scd2_apply": (
        "updated_at",
        lambda d: scd2_apply(d, d, ["doc_id"], "2024-01-01", strategy="timestamp"),
    ),
    "zorder_rewrite": ("bigint", lambda d: zorder_rewrite(d, ["doc_id", "n", "m", "o"], 2)),
    "zorder_value": ("bigint", lambda d: zorder_value(["doc_id", "n", "m", "o"], {}, {})),
}


@pytest.mark.parametrize("name", sorted(_ARG_CHECKS))
def test_argument_checks_raise_value_error_before_any_job(spark, name):
    """User-facing argument checks are ValueErrors (an assert vanishes
    under python -O) and fire before the operator submits a Spark job."""
    from tests.test_schema_test_pass import jobs_run

    match, call = _ARG_CHECKS[name]
    docs = spark.createDataFrame(
        [(1, "a b c d", 1, 2, 3)], "doc_id long, text string, n int, m int, o int"
    )

    def check():
        with pytest.raises(ValueError, match=match):
            call(docs)

    _, n_jobs = jobs_run(spark, check)
    assert n_jobs == 0


def test_weighted_sample_by_group_is_global_sample_per_group(spark):
    """Every group's stratified priority sample equals the global
    sampler run on that group's rows alone (same k, same seed): a group
    larger than k (its own τ), one with ≤ k rows (no τ) and the NULL
    group, which is a stratum of its own."""
    from dbt_glue_spark.extensions.sampling import (
        weighted_sample,
        weighted_sample_by_group,
    )

    rows = [("big", i, (i * 37) % 11) for i in range(1, 10)]
    rows += [("small", 20, 5), ("small", 21, None)]
    rows += [(None, 30 + i, 3 * i) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, id long, w long")
    k = 3
    got = {}
    for r in weighted_sample_by_group(df, "g", "id", "w", k=k, seed="3").collect():
        got.setdefault(r.g, []).append(tuple(r)[1:])
    assert set(got) == {"big", "small", None}
    for g, n in (("big", 9), ("small", 2), (None, 5)):
        part = df.filter(F.col("g").eqNullSafe(F.lit(g))).drop("g")
        want = weighted_sample(part, "id", "w", k=k, seed="3").collect()
        assert sorted(got[g]) == sorted(map(tuple, want)), g
        assert len(got[g]) == min(k, n)


def test_weighted_samplers_rank_null_key_last(spark):
    """A NULL key hashes to a NULL priority; both samplers rank it LAST
    (the oracles' NULLS LAST), so it never takes a slot from a real row
    whatever its weight, and the global and by-group forms agree."""
    from dbt_glue_spark.extensions.sampling import (
        priority_frame,
        weighted_sample,
        weighted_sample_by_group,
    )

    df = spark.createDataFrame(
        [(None, 1), (1, 1000), (2, 1000), (3, 1000)], "id long, w long"
    )
    pri = min((r.priority, r.id) for r in priority_frame(df, "id", "w").collect() if r.id)
    got = [tuple(r) for r in weighted_sample(df, "id", "w", k=1).collect()]
    assert [r[:3] for r in got] == [(pri[1], 1000, pri[0])]
    by_g = df.withColumn("g", F.lit("s"))
    grouped = weighted_sample_by_group(by_g, "g", "id", "w", k=1).collect()
    assert [tuple(r)[1:] for r in grouped] == got


def test_psi_js_drift_by_group_is_global_drift_per_group(spark):
    """Every group's stratified PSI/JS row equals the global operator run
    on that group's slices alone — including a group present on one
    side only (NULL psi/js) — and the NULL group is dropped."""
    from dbt_glue_spark.extensions.audit import psi_js_drift, psi_js_drift_by_group

    a = spark.createDataFrame(
        [("g1", 1), ("g1", 12), ("g1", 12), ("g1", 35), (None, 3), ("g1", None)],
        "g string, v bigint",
    )
    b = spark.createDataFrame(
        [("g1", 2), ("g1", 25), ("g1", 25), ("g2", 7), ("g2", 30), (None, 40)],
        "g string, v bigint",
    )
    got = {
        r.g: tuple(r)[1:]
        for r in psi_js_drift_by_group(a, b, "g", "v", bucket_width=10, n_buckets=3).collect()
    }
    assert set(got) == {"g1", "g2"}
    assert got["g2"][0] is None and got["g2"][3:] == (None, None)
    for g in got:
        ref = psi_js_drift(
            a.filter(F.col("g") == g).select("v"),
            b.filter(F.col("g") == g).select("v"),
            "v",
            bucket_width=10,
            n_buckets=3,
        ).collect()
        assert [tuple(r)[1:] for r in ref] == [got[g]], g
