"""Direct tests for the queries in plans/crossmodal_queries.py (cross-modal
caption/image pairs).

Each spec is proven against its DuckDB oracle with the exact compare of
tools/check_parity.py; each operator also gets hand-computed,
brute-force or property checks.
"""

from __future__ import annotations

import itertools
import os

import pytest
from pyspark.sql import functions as F

from dbt_glue_spark.plans.media_dedup_queries import synth_dhash_png
from dbt_glue_spark.plans import crossmodal_queries
from dbt_glue_spark.plans.catalog import SPECS
from dbt_glue_spark.plans.crossmodal_queries import (
    synth_caption,
    synth_image_bytes,
)
from tools.check_parity import compare


SPECS_HERE = {
    n: s for n, s in SPECS().items() if s.fn.__module__ == crossmodal_queries.__name__
}


@pytest.mark.parametrize("name", sorted(SPECS_HERE))
def test_staged12_oracle_parity(spark, sf_dir, name):
    err = compare(spark, SPECS_HERE[name], sf_dir)
    assert err is None, err


CROSSMODAL_NAMES = (
    "ext_caption_consistency",
    "ext_caption_spam",
    "ext_modality_mixture_card",
    "ext_pair_alignment",
    "ext_pair_completeness",
    "ext_paired_contamination",
    "ext_paired_keep_best",
    "streaming_mixture_monitor",
    "streaming_pair_frontier",
)


def test_staged12_promoted_and_sampled_first():
    """The 9 cross-modal queries are live in the catalog (one query per
    line of tests/catalog_names.txt in all) and are registered by
    plans/crossmodal_queries.py, and any of them WITHOUT a green latest
    driver CORRECTNESS row sits in the 50-query sampled prefix (green
    rows rotate out, red rows must re-enter)."""
    from dbt_glue_spark.plans.catalog import _previously_checked

    specs = SPECS()
    with open(os.path.join(os.path.dirname(__file__), "catalog_names.txt")) as fh:
        assert len(specs) == len(fh.read().split()), len(specs)
    assert sorted(SPECS_HERE) == sorted(CROSSMODAL_NAMES)
    missing = set(CROSSMODAL_NAMES) - set(specs)
    assert not missing, missing
    prefix = set(list(specs)[:50])
    unchecked = set(CROSSMODAL_NAMES) - _previously_checked()
    not_in_prefix = unchecked - prefix
    assert not not_in_prefix, not_in_prefix


# ---------------------------------------------------------------------------
# pair_signatures: one-pass joint key, NULL contract
# ---------------------------------------------------------------------------


def test_pair_signatures_null_and_corrupt_contract(spark):
    """NULL caption, NULL content and undecodable content all drop the
    pair from the joint signature (no joint class); survivors carry the
    md5 caption key and the dHash of the REAL decode."""
    from dbt_glue_spark.extensions.crossmodal import pair_signatures
    from dbt_glue_spark.extensions.multimodal_dedup import dhash_bytes

    png = synth_dhash_png(3, 0, False)
    rows = [
        (0, "cap a", png),
        (1, None, png),              # NULL caption -> dropped
        (2, "cap a", None),          # NULL content -> dropped
        (3, "cap a", b"not a png"),  # decode_error -> dropped
        (4, "cap b", png),
    ]
    df = spark.createDataFrame(
        rows, "pair_id long, caption string, content binary"
    )
    got = {r.pair_id: (bytes(r.caption_key), r.dhash)
           for r in pair_signatures(df).collect()}
    assert set(got) == {0, 4}
    assert got[0][1] == got[4][1] == dhash_bytes(png)
    assert got[0][0] != got[4][0]  # distinct captions -> distinct keys


def test_pair_signatures_is_single_pass(spark):
    """The joint signature must NOT self-join two lineages of the input
    (a corpus-sized shuffle join in batch; an illegal stream-stream join
    in streaming): exactly one MapInPandas, zero joins in the plan."""
    from dbt_glue_spark.extensions.crossmodal import pair_signatures

    df = spark.createDataFrame(
        [(0, "c", None)], "pair_id long, caption string, content binary"
    )
    plan = pair_signatures(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" not in plan, plan


# ---------------------------------------------------------------------------
# consistency / spam censuses: hand cases
# ---------------------------------------------------------------------------


def _pairs_df(spark, rows):
    return spark.createDataFrame(
        rows, "pair_id long, caption string, content binary, quality long"
    )


def test_caption_consistency_hand_case(spark):
    """Two perceptual classes: class A (3 members, 2 distinct captions →
    divergent), class B (2 members, same caption → consistent);
    singletons never surface."""
    from dbt_glue_spark.extensions.crossmodal import (
        caption_consistency_audit,
    )

    a = synth_dhash_png(1, 0, False)
    a_shift = synth_dhash_png(1, 9, False)   # brightness-shifted: same hash
    b = synth_dhash_png(2, 0, False)
    c = synth_dhash_png(3, 0, False)
    rows = [
        (10, "cat", a), (11, "cat", a_shift), (12, "dog", a),
        (20, "sun", b), (21, "sun", b),
        (30, "lone", c),
    ]
    got = {
        r.class_rep: (r.n_members, r.n_captions, r.divergent)
        for r in caption_consistency_audit(_pairs_df(
            spark, [(i, cap, png, 0) for i, cap, png in rows]
        )).collect()
    }
    assert got == {10: (3, 2, True), 20: (2, 1, False)}


def test_caption_spam_hand_case(spark):
    """One caption across two perceptual classes → spam; one caption
    repeated on the same class → benign duplicate; unique captions never
    surface."""
    from dbt_glue_spark.extensions.crossmodal import caption_spam_census

    a = synth_dhash_png(1, 0, False)
    b = synth_dhash_png(2, 0, False)
    rows = [
        (10, "stock", a), (11, "stock", b),   # spans 2 image classes
        (20, "twin", a), (21, "twin", a),     # same class twice
        (30, "solo", b),
    ]
    got = {
        r.class_rep: (r.n_pairs, r.n_image_classes, r.spam)
        for r in caption_spam_census(_pairs_df(
            spark, [(i, cap, png, 0) for i, cap, png in rows]
        )).collect()
    }
    assert got == {10: (2, 2, True), 20: (2, 1, False)}


# ---------------------------------------------------------------------------
# paired_keep_best: brute-force cross-check + survivor-consistency law
# ---------------------------------------------------------------------------


def _brute_joint_classes(rows):
    """Independent derivation: exact-caption × image connected component
    over brute-force hamming ≤ 2 (union-find)."""
    from dbt_glue_spark.extensions.multimodal_dedup import dhash_bytes

    ok = [(i, cap, dhash_bytes(png), q) for i, cap, png, q in rows
          if cap is not None and png is not None]
    parent = {i: i for i, *_ in ok}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (i, _, hi, _), (j, _, hj, _) in itertools.combinations(ok, 2):
        if bin((hi ^ hj) & ((1 << 64) - 1)).count("1") <= 2:
            parent[find(j)] = find(i)
    classes = {}
    for i, cap, _h, q in ok:
        classes.setdefault((cap, find(i)), []).append((i, q))
    return classes


def test_paired_keep_best_matches_brute_force(spark):
    """Operator output == brute-force joint classes with quality-argmax
    (tie → min id, NULL quality loses) — pins LSH candidate generation,
    component labeling AND the argmax in one go."""
    from dbt_glue_spark.extensions.crossmodal import paired_keep_best

    rows = []
    for i in range(30):
        png = synth_dhash_png(i % 3, (i % 5) * 3, (i // 15) % 2 == 1)
        cap = f"cap{i % 4}"
        q = None if i % 9 == 0 else (i * 11) % 7  # NULLs + ties
        rows.append((i, cap, png, q))
    got = {
        (r.keep_id, r.n_members, r.best_score)
        for r in paired_keep_best(_pairs_df(spark, rows)).collect()
    }
    want = set()
    for members in _brute_joint_classes(rows).values():
        scored = [(q if q is not None else -1, i) for i, q in members]
        best = max(qq for qq, _ in scored)
        keep = min(i for qq, i in scored if qq == best)
        want.add((keep, len(members), best))
    assert got == want and got


def test_paired_keep_best_survivor_is_one_pair(spark):
    """The consistency law the operator exists for: each joint class
    keeps ONE pair_id — the surviving caption and image are the same
    pair's two sides (independent per-side keep-best could keep pair
    A's caption and pair B's image)."""
    from dbt_glue_spark.extensions.crossmodal import paired_keep_best

    png0 = synth_dhash_png(0, 0, False)
    png0b = synth_dhash_png(0, 12, False)  # same perceptual class
    rows = [
        (1, "same cap", png0, 5),
        (2, "same cap", png0b, 9),   # better quality -> the survivor
    ]
    out = paired_keep_best(_pairs_df(spark, rows)).collect()
    assert len(out) == 1
    assert out[0].keep_id == 2 and out[0].n_members == 2
    assert out[0].best_score == 9


# ---------------------------------------------------------------------------
# modality_mixture_card: exact accounting hand case
# ---------------------------------------------------------------------------


def test_modality_mixture_card_hand_case(spark):
    """3 types, budget below Σ tokens: allocations are the allocator's
    exact law; NULL captions count as pairs with 0 tokens; Σ alloc ==
    budget exactly (enough headroom everywhere)."""
    from dbt_glue_spark.extensions.crossmodal import modality_mixture_card

    rows = [
        ("img", "a b c", 600000),    # 3 tokens
        ("img", "d e", 600000),      # 2 tokens
        ("img", None, 600000),       # NULL caption: pair yes, tokens 0
        ("aud", "f g h i", 250000),  # 4 tokens
        ("vid", "j", 150000),        # 1 token
    ]
    df = spark.createDataFrame(
        rows, "pair_type string, caption string, weight long"
    )
    out = {
        r.pair_type: (r.n_pairs, r.n_tokens, r.weight, r.alloc_tokens,
                      r.rate_ppm)
        for r in modality_mixture_card(df, budget=6).collect()
    }
    assert {t: v[:3] for t, v in out.items()} == {
        "img": (3, 5, 600000),
        "aud": (1, 4, 250000),
        "vid": (1, 1, 150000),
    }
    assert sum(v[3] for v in out.values()) == 6  # exact budget
    # shares d_i = w·n: img 3e6, aud 1e6, vid 0.15e6 -> floor alloc
    # 4/1/0, crumb to the largest remainder under caps
    assert out["img"][3] >= 4 and out["vid"][3] <= 1


def test_modality_mixture_card_zero_budget_and_empty(spark):
    from dbt_glue_spark.extensions.crossmodal import modality_mixture_card

    df = spark.createDataFrame(
        [("img", "a b", 5)], "pair_type string, caption string, weight long"
    )
    out = modality_mixture_card(df, budget=0).collect()
    assert out[0].alloc_tokens == 0 and out[0].rate_ppm == 0
    empty = spark.createDataFrame(
        [], "pair_type string, caption string, weight long"
    )
    assert modality_mixture_card(empty, budget=10).count() == 0


# ---------------------------------------------------------------------------
# pair_completeness_audit / pair_alignment_audit: hand cases
# ---------------------------------------------------------------------------


def test_pair_completeness_hand_case(spark):
    """All six cells reachable; precedence: NULL content is 'null' even
    if the bytes would also be undecodable."""
    from dbt_glue_spark.extensions.crossmodal import pair_completeness_audit

    png = synth_dhash_png(0, 0, False)
    rows = [
        (0, "c", png), (1, "c", png),            # present/ok ×2
        (2, "c", None),                           # present/null
        (3, "c", b"bad"),                         # present/decode_error
        (4, None, png),                           # missing/ok
        (5, None, None),                          # missing/null
        (6, None, b"bad"),                        # missing/decode_error
    ]
    df = spark.createDataFrame(
        rows, "pair_id long, caption string, content binary"
    )
    got = {
        (r.caption_state, r.image_state): r.n_pairs
        for r in pair_completeness_audit(df).collect()
    }
    assert got == {
        ("present", "ok"): 2,
        ("present", "null"): 1,
        ("present", "decode_error"): 1,
        ("missing", "ok"): 1,
        ("missing", "null"): 1,
        ("missing", "decode_error"): 1,
    }


def test_pair_alignment_hand_case(spark):
    """Hand-checkable cosines: identical (1.0 → bucket 9 via the clamp),
    orthogonal (0.0 → bucket 0, below threshold), opposite (−1.0 →
    bucket −10), NULL / zero-norm excluded."""
    from dbt_glue_spark.extensions.crossmodal import pair_alignment_audit

    rows = [
        (0, [1.0, 0.0], [1.0, 0.0]),    # sim 1.0  -> bucket 9 (clamped)
        (1, [1.0, 0.0], [0.0, 1.0]),    # sim 0.0  -> bucket 0, below 0.2
        (2, [1.0, 0.0], [-1.0, 0.0]),   # sim -1.0 -> bucket -10
        (3, None, [1.0, 0.0]),          # NULL vec -> excluded
        (4, [0.0, 0.0], [1.0, 0.0]),    # zero norm -> excluded
        (5, [3.0, 4.0], [3.0, 4.0]),    # sim 1.0  -> bucket 9
    ]
    df = spark.createDataFrame(
        rows,
        "pair_id long, caption_vec array<double>, image_vec array<double>",
    )
    got = {
        r.sim_bucket: (r.n_pairs, r.n_below_threshold)
        for r in pair_alignment_audit(df, threshold=0.2).collect()
    }
    assert got == {9: (2, 0), 0: (1, 1), -10: (1, 1)}


def test_paired_contamination_hand_case(spark):
    """Eval pair 100: caption shared by 3 train pairs, 2 of them in the
    SAME perceptual class (full-pair leaks), 1 in a different class
    (caption-only). Eval pair 101: clean caption → absent from the
    manifest."""
    from dbt_glue_spark.extensions.crossmodal import paired_contamination

    a = synth_dhash_png(1, 0, False)
    a2 = synth_dhash_png(1, 9, False)   # same class as a
    b = synth_dhash_png(2, 0, False)
    train = spark.createDataFrame(
        [
            (1, "leaked cap", a),
            (2, "leaked cap", a2),
            (3, "leaked cap", b),
            (4, "other", b),
        ],
        "pair_id long, caption string, content binary",
    )
    ev = spark.createDataFrame(
        [(100, "leaked cap", a), (101, "clean", a)],
        "pair_id long, caption string, content binary",
    )
    got = {
        r.eval_id: (r.n_caption_hits, r.n_full_pair_hits)
        for r in paired_contamination(train, ev).collect()
    }
    assert got == {100: (3, 2)}


def test_crossmodal_audits_empty_input(spark):
    from dbt_glue_spark.extensions import crossmodal as cm

    e1 = spark.createDataFrame(
        [], "pair_id long, caption string, content binary"
    )
    assert cm.pair_completeness_audit(e1).count() == 0
    e2 = spark.createDataFrame(
        [],
        "pair_id long, caption_vec array<double>, image_vec array<double>",
    )
    assert cm.pair_alignment_audit(e2).count() == 0


# ---------------------------------------------------------------------------
# plan shape: never all-pairs, media bytes never shuffle
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    ["ext_caption_consistency", "ext_caption_spam", "ext_paired_keep_best"],
)
def test_crossmodal_plans_have_no_cartesian(spark, sf_dir, name):
    df = SPECS_HERE[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, (name, plan)
    assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


@pytest.mark.parametrize(
    "name",
    ["ext_caption_consistency", "ext_caption_spam", "ext_paired_keep_best"],
)
def test_crossmodal_media_bytes_never_shuffle(spark, sf_dir, name):
    """Every hashpartitioning key must be a fixed-width/hash column —
    raw media bytes and full caption strings stay out of shuffles."""
    import re

    df = SPECS_HERE[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for part in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "content" not in part, (name, part)
        assert "caption#" not in part, (name, part)
    assert "MapInPandas" in plan, name


# ---------------------------------------------------------------------------
# streaming pair frontier: Kappa equivalence
# ---------------------------------------------------------------------------


def test_pair_frontier_stream_equals_batch_twin(spark, tmp_path):
    """The emitted new-joint-key set must equal the batch anti-join
    exactly, regardless of file arrival order."""
    from dbt_glue_spark.extensions.crossmodal import pair_signatures
    from dbt_glue_spark.streaming.pipelines import pair_frontier_stream

    rows = [
        (i, synth_caption(i), synth_image_bytes(i)) for i in range(40)
    ]
    pairs = spark.createDataFrame(
        rows, "pair_id long, caption string, content binary"
    )
    ledger = pair_signatures(
        pairs.filter(F.col("pair_id") % 2 == 0)
    ).select("caption_key", "dhash")
    stage = str(tmp_path / "pairs")
    pairs.repartition(5).write.mode("overwrite").parquet(stage)
    stream = (
        spark.readStream.schema(
            "pair_id long, caption string, content binary"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        pair_frontier_stream(stream, ledger)
        .writeStream.format("memory")
        .queryName("t_pairfrontier")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (bytes(r.caption_key), r.dhash)
        for r in spark.table("t_pairfrontier").collect()
    }
    batch = (
        pair_signatures(pairs)
        .select("caption_key", "dhash")
        .distinct()
        .join(ledger.distinct(), ["caption_key", "dhash"], "left_anti")
    )
    want = {(bytes(r.caption_key), r.dhash) for r in batch.collect()}
    assert got == want and got


def test_mixture_monitor_stream_equals_batch_twin(spark, tmp_path):
    """Complete-mode token census must equal the batch groupBy exactly
    regardless of file arrival order; NULL kinds excluded, NULL tokens
    coalesce to 0."""
    from dbt_glue_spark.streaming.pipelines import mixture_monitor_stream

    rows = [
        ("img", 3), ("img", 5), ("aud", 2), ("vid", None),
        (None, 9), ("aud", 4), ("vid", 1),
    ]
    typed = spark.createDataFrame(rows, "pair_type string, tokens long")
    stage = str(tmp_path / "mix")
    typed.repartition(3).write.mode("overwrite").parquet(stage)
    stream = (
        spark.readStream.schema("pair_type string, tokens long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        mixture_monitor_stream(stream)
        .writeStream.format("memory")
        .queryName("t_mixmon")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r.pair_type: r.n_tokens for r in spark.table("t_mixmon").collect()
    }
    assert got == {"img": 8, "aud": 6, "vid": 1}


# ---------------------------------------------------------------------------
# empty-input gate (the per-pool contract every tranche ships with)
# ---------------------------------------------------------------------------


def test_crossmodal_operators_empty_input(spark):
    from dbt_glue_spark.extensions import crossmodal as cm

    empty = spark.createDataFrame(
        [], "pair_id long, caption string, content binary, quality long"
    )
    assert cm.pair_signatures(empty).count() == 0
    assert cm.caption_consistency_audit(empty).count() == 0
    assert cm.caption_spam_census(empty).count() == 0
    assert cm.paired_keep_best(empty).count() == 0


def test_staged12_specs_survive_empty_documents(spark, sf_dir, tmp_path):
    """Every staged spec must degrade to an empty result on a zero-row
    documents table (the empty-sweep contract, now catalog-default)."""
    import os

    from dbt_glue_spark.sources.registry import TABLES, load_table

    out = str(tmp_path / "sf_empty12")
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    for name, spec in sorted(SPECS_HERE.items()):
        n = spec.fn(spark, out).count()
        assert n == 0, (name, n)
