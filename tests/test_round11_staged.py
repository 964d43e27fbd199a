"""Direct tests for the queries in plans/media_dedup_queries.py (multimodal
dedup and privacy censuses).

Each spec is proven against its DuckDB oracle with the exact compare of
tools/check_parity.py; each operator also gets hand-computed,
brute-force or property checks.

The dHash closed form, the brightness/perturbation invariants, banding
exhaustiveness, frame-set Jaccard, landmark constellations, the df
cutoffs and the decode-honesty contract are each checked directly.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from dbt_glue_spark.plans import media_dedup_queries
from dbt_glue_spark.plans.catalog import SPECS
from dbt_glue_spark.plans.media_dedup_queries import (
    expected_dhash,
    synth_audio_bytes,
    synth_dhash_png,
    synth_image_bytes,
    synth_video_bytes,
)
from tools.check_parity import compare


SPECS_HERE = {
    n: s for n, s in SPECS().items() if s.fn.__module__ == media_dedup_queries.__name__
}


@pytest.mark.parametrize("name", sorted(SPECS_HERE))
def test_staged11_oracle_parity(spark, sf_dir, name):
    err = compare(spark, SPECS_HERE[name], sf_dir)
    assert err is None, err


MEDIA_DEDUP_NAMES = (
    "ext_audio_fingerprint_pairs",
    "ext_audio_snippet_match",
    "ext_image_dhash_dedup",
    "ext_image_dup_clusters",
    "ext_image_near_dup_pairs",
    "ext_k_anonymity",
    "ext_l_diversity",
    "ext_media_data_card",
    "ext_media_decode_audit",
    "ext_video_keyframes",
    "ext_video_near_dup",
    "ext_video_scene_changes",
    "streaming_image_frontier",
)


def test_staged11_promoted_and_sampled_first():
    """The 13 multimodal-dedup queries are live in the catalog and are
    registered by plans/media_dedup_queries.py, and any of them WITHOUT a
    green latest driver CORRECTNESS row sits in the 50-query sampled
    prefix (green rows rotate out, red rows must re-enter)."""
    from dbt_glue_spark.plans.catalog import _previously_checked

    specs = SPECS()
    assert sorted(SPECS_HERE) == sorted(MEDIA_DEDUP_NAMES)
    missing = set(MEDIA_DEDUP_NAMES) - set(specs)
    assert not missing, missing
    prefix = set(list(specs)[:50])
    unchecked = set(MEDIA_DEDUP_NAMES) - _previously_checked()
    not_in_prefix = unchecked - prefix
    assert not not_in_prefix, not_in_prefix


# ---------------------------------------------------------------------------
# dHash: closed form, invariances, exactness
# ---------------------------------------------------------------------------


def test_dhash_matches_closed_form_for_every_codeword():
    """The REAL decoder+hasher must reproduce the construction's codeword
    for all 32 indices × offsets × perturbation — the end-to-end pin that
    the oracle's id-arithmetic derivation is talking about the same hash
    the operator computes."""
    from dbt_glue_spark.extensions.multimodal_dedup import dhash_bytes

    for idx, off, p in itertools.product(range(32), (0, 9, 18), (False, True)):
        got = dhash_bytes(synth_dhash_png(idx, off, p))
        assert got == expected_dhash(idx, p), (idx, off, p)


def test_dhash_brightness_invariant_and_perturbation_flips_one_bit():
    from dbt_glue_spark.extensions.multimodal_dedup import dhash_bytes

    h0 = dhash_bytes(synth_dhash_png(7, 0, False))
    assert h0 == dhash_bytes(synth_dhash_png(7, 18, False))
    hp = dhash_bytes(synth_dhash_png(7, 6, True))
    assert bin((h0 ^ hp) & ((1 << 64) - 1)).count("1") == 1


def test_dhash_cross_codeword_min_distance_is_six():
    """Distinct codewords differ in ≥ 6 bits (row-mask XOR popcount 6 per
    differing codeword bit) — the margin that guarantees cross-group
    pairs never survive max_hamming=2 verification."""
    from dbt_glue_spark.extensions.multimodal_dedup import dhash_bytes

    hs = [dhash_bytes(synth_dhash_png(i, 0, False)) for i in range(32)]
    mind = min(
        bin((a ^ b) & ((1 << 64) - 1)).count("1")
        for a, b in itertools.combinations(hs, 2)
    )
    assert mind == 6, mind


def test_dhash_hand_computed_tiny_image():
    """9×8 image (blocks == pixels): hash bits follow directly from the
    pixel staircase — a hand-checkable anchor independent of the codeword
    machinery."""
    from dbt_glue_spark.extensions.multimodal import png_encode
    from dbt_glue_spark.extensions.multimodal_dedup import dhash_bytes

    # row pattern 10,20,30,...,90 → every comparison increasing → all 64
    # bits set → signed -1
    px = bytes([10 * (c + 1) for _r in range(8) for c in range(9)])
    assert dhash_bytes(png_encode(9, 8, px, channels=1)) == -1
    # strictly decreasing rows → no bit set → 0
    px = bytes([100 - 10 * c for _r in range(8) for c in range(9)])
    assert dhash_bytes(png_encode(9, 8, px, channels=1)) == 0


def test_dhash_unequal_blocks_cross_multiplied():
    """11×10 image (block sizes 2/1 alternating): means must be compared
    by integer cross-multiplication, not float division — a constant
    image hashes to 0 even when block pixel counts differ."""
    from dbt_glue_spark.extensions.multimodal import png_encode
    from dbt_glue_spark.extensions.multimodal_dedup import dhash_bytes

    px = bytes([77] * (11 * 10))
    assert dhash_bytes(png_encode(11, 10, px, channels=1)) == 0


def test_dhash_rejects_undecodable_and_tiny():
    from dbt_glue_spark.extensions.multimodal import (
        DecodeUnavailable,
        png_encode,
    )
    from dbt_glue_spark.extensions.multimodal_dedup import dhash_bytes

    with pytest.raises(DecodeUnavailable):
        dhash_bytes(b"not a png")
    with pytest.raises(DecodeUnavailable):
        dhash_bytes(png_encode(4, 4, bytes(16), channels=1))  # < grid


# ---------------------------------------------------------------------------
# image_near_dup_pairs: brute-force cross-check + banding exhaustiveness
# ---------------------------------------------------------------------------


def test_image_near_dup_pairs_matches_brute_force(spark):
    """Operator output == brute-force hamming over every hash pair, for
    a corpus where distances 0, 1 and ≥6 all occur — pins candidate
    generation (banding) AND verification (bit_count) at once."""
    from dbt_glue_spark.extensions.multimodal_dedup import (
        dhash_bytes,
        image_near_dup_pairs,
    )

    rows = [
        (i, synth_dhash_png(i % 4, (i % 5) * 3, (i // 4) % 2 == 1))
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in image_near_dup_pairs(df, max_hamming=2, bands=4).collect()
    }
    hs = {i: dhash_bytes(c) for i, c in rows}
    want = {}
    for a, b in itertools.combinations(range(24), 2):
        d = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
        if d <= 2:
            want[(a, b)] = d
    assert got == want


def test_image_near_dup_pairs_rejects_bad_params(spark):
    from dbt_glue_spark.extensions.multimodal_dedup import (
        image_near_dup_pairs,
    )

    df = spark.createDataFrame([(0, None)], "media_id long, content binary")
    # ValueError (not assert) so the contract survives `python -O`,
    # matching the sibling validators in audit.k_anonymity (r10 ADVICE).
    with pytest.raises(ValueError):
        image_near_dup_pairs(df, max_hamming=4, bands=4)  # not exhaustive
    with pytest.raises(ValueError):
        image_near_dup_pairs(df, bands=3)  # 64 % 3 != 0
    # simhash_pairs runs the same bit-band LSH and the same checks
    from dbt_glue_spark.extensions.dedup import simhash_pairs

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash_pairs(docs, bits=16, bands=4, max_hamming=4)  # not exhaustive
    with pytest.raises(ValueError):
        simhash_pairs(docs, bits=16, bands=3)  # 16 % 3 != 0


def test_image_dedup_excludes_null_and_corrupt(spark):
    from dbt_glue_spark.extensions.multimodal_dedup import image_dhash

    rows = [
        (0, synth_dhash_png(1, 0, False)),
        (1, None),
        (2, b"garbage"),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r.media_id: r.status for r in image_dhash(df).collect()}
    assert got == {0: "ok", 1: "null", 2: "decode_error"}


# ---------------------------------------------------------------------------
# video: frame hashes, truncation Jaccard, df cutoff
# ---------------------------------------------------------------------------


def test_video_frame_hashes_match_per_frame_dhash(spark):
    from dbt_glue_spark.extensions.multimodal_dedup import video_frame_hashes

    did = 1  # g=1, nf=3, not truncated, not null/corrupt
    df = spark.createDataFrame(
        [(did, synth_video_bytes(did))], "media_id long, content binary"
    )
    got = sorted(
        (r.frame_idx, r.frame_dhash)
        for r in video_frame_hashes(df).collect()
    )
    want = [(f, expected_dhash(1 * 4 + f, False)) for f in range(3)]
    assert got == want


def test_video_near_dup_truncation_jaccard(spark):
    """Full vs last-frame-truncated copies of one 3-frame clip: prefix
    sets ⇒ J(full, full)=1, J(full, trunc)=2/3, J(trunc, trunc)=1."""
    from dbt_glue_spark.extensions.multimodal import video_encode
    from dbt_glue_spark.extensions.multimodal_dedup import (
        video_near_dup_pairs,
    )

    frames = [synth_dhash_png(k, 0, False) for k in (1, 2, 3)]
    rows = [
        (0, video_encode(frames, 2)),
        (1, video_encode(frames, 2)),
        (2, video_encode(frames[:2], 2)),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        (r.id_a, r.id_b): (r.n_shared, r.jaccard)
        for r in video_near_dup_pairs(df, threshold=0.5).collect()
    }
    assert got == {
        (0, 1): (3, 1.0),
        (0, 2): (2, 0.666667),
        (1, 2): (2, 0.666667),
    }


def test_video_df_cutoff_drops_boilerplate_frames(spark):
    """A title-card frame shared by EVERY clip must stop generating
    candidates once its document frequency exceeds max_df — two clips
    sharing ONLY the boilerplate frame are not near-dups."""
    from dbt_glue_spark.extensions.multimodal import video_encode
    from dbt_glue_spark.extensions.multimodal_dedup import (
        video_near_dup_pairs,
    )

    title = synth_dhash_png(0, 0, False)
    rows = [
        (i, video_encode([title, synth_dhash_png(1 + i, 0, False)], 2))
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    # cutoff 2 < 4 clips → the title frame is boilerplate → no pairs
    # (each clip's remaining set is its unique frame)
    assert video_near_dup_pairs(df, threshold=0.1, max_df=2).count() == 0
    # generous cutoff → all pairs share exactly the title frame
    got = video_near_dup_pairs(df, threshold=0.1, max_df=100).collect()
    assert len(got) == 6 and all(r.n_shared == 1 for r in got)


# ---------------------------------------------------------------------------
# audio: landmark construction, amplitude invariance, min_shared
# ---------------------------------------------------------------------------


def test_audio_fingerprints_closed_form(spark):
    """4 on-bin sine segments → exactly 7 landmarks: 4 self (k→k) and 3
    transitions (k_j→k_{j+1}), with the bins pinned by construction."""
    from dbt_glue_spark.extensions.multimodal_dedup import audio_fingerprints

    did = 2  # g=2 → bins 11,12,13,14
    df = spark.createDataFrame(
        [(did, synth_audio_bytes(did))], "media_id long, content binary"
    )
    got = sorted(r.lm_hash for r in audio_fingerprints(df).collect())
    ks = [3 + 2 * 4 + j for j in range(4)]
    want = sorted(
        {k * 65536 + k for k in ks}
        | {ks[j] * 65536 + ks[j + 1] for j in range(3)}
    )
    assert got == want


def test_audio_fingerprint_amplitude_invariant(spark):
    """Same melody at different volumes (doc_ids 2 and 1154 share
    g = 2 mod 6 but differ in amp = 4000 + 1000*(id % 7)) → identical
    landmark sets."""
    from dbt_glue_spark.extensions.multimodal_dedup import audio_fingerprints

    a, b = 2, 1154  # 1154 % 6 == 2, 1154 % 7 == 6 ≠ 2 % 7
    assert a % 6 == b % 6 and a % 7 != b % 7
    df = spark.createDataFrame(
        [(a, synth_audio_bytes(a)), (b, synth_audio_bytes(b))],
        "media_id long, content binary",
    )
    lm = audio_fingerprints(df).collect()
    sets = {}
    for r in lm:
        sets.setdefault(r.media_id, set()).add(r.lm_hash)
    assert sets[a] == sets[b] and len(sets[a]) == 7


def test_audio_pairs_min_shared_gate(spark):
    from dbt_glue_spark.extensions.multimodal_dedup import (
        audio_fingerprint_pairs,
    )

    # g=2 twins match; g=3 (doc 3, bins 15..18) shares nothing with g=2
    rows = [
        (2, synth_audio_bytes(2)),
        (1154, synth_audio_bytes(1154)),
        (3, synth_audio_bytes(3)),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in audio_fingerprint_pairs(df, min_shared=3).collect()
    }
    assert got == {(2, 1154): 7}


# ---------------------------------------------------------------------------
# decode audit honesty
# ---------------------------------------------------------------------------


def test_decode_audit_statuses(spark):
    from dbt_glue_spark.extensions.multimodal_dedup import decode_audit

    rows = [
        (0, "image", synth_dhash_png(0, 0, False)),
        (1, "image", b"bad"),
        (2, "image", None),
        (3, "audio", synth_audio_bytes(1)),
        (4, "audio", b"bad"),
        (5, "video", synth_video_bytes(1)),
        (6, "video", b"bad"),
        (7, "weird", b"bytes"),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary"
    )
    got = {r.media_id: r.status for r in decode_audit(df).collect()}
    assert got == {
        0: "ok",
        1: "decode_error",
        2: "null",
        3: "ok",
        4: "decode_error",
        5: "ok",
        6: "decode_error",
        7: "decode_error",
    }


def test_decode_audit_video_requires_every_frame(spark):
    """A container whose SECOND frame is garbage must be decode_error —
    'ok' means the whole clip decodes, not just the header."""
    from dbt_glue_spark.extensions.multimodal import video_encode
    from dbt_glue_spark.extensions.multimodal_dedup import decode_audit

    good = synth_dhash_png(0, 0, False)
    vid = video_encode([good, b"not a png frame"], 2)
    df = spark.createDataFrame(
        [(0, "video", vid)], "media_id long, kind string, content binary"
    )
    assert decode_audit(df).collect()[0].status == "decode_error"


# ---------------------------------------------------------------------------
# plan shape: never all-pairs, bytes never shuffle
# ---------------------------------------------------------------------------


def test_near_dup_plans_have_no_cartesian(spark, sf_dir):
    """All three pair generators must be candidate-bounded joins — a
    CartesianProduct or BroadcastNestedLoopJoin anywhere is the all-pairs
    scale-killer this tier exists to avoid."""
    for name in (
        "ext_image_near_dup_pairs",
        "ext_video_near_dup",
        "ext_audio_fingerprint_pairs",
    ):
        df = SPECS_HERE[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_media_bytes_never_shuffle(spark, sf_dir):
    """The binary content column must never be a shuffle key: every
    Exchange in the dedup pipelines partitions on the small fixed-width
    hash/id columns extracted by the Python stage (content only appears
    as INPUT to the MapInPandas decode, which runs before any shuffle)."""
    import re

    for name in sorted(SPECS_HERE):
        df = SPECS_HERE[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for part in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
            assert "content#" not in part, (name, part)
        # and for media entries the decode stage must consume content
        # directly off the synthesis/scan (the privacy censuses run on
        # real document columns — pure Catalyst, no Python stage at all)
        if name not in ("ext_k_anonymity", "ext_l_diversity"):
            assert "MapInPandas" in plan, name


def test_staged11_empty_input(spark):
    """Zero-row media frames flow through every operator without error
    and produce zero rows (the empty-sweep contract)."""
    from dbt_glue_spark.extensions import multimodal_dedup as md

    empty = spark.createDataFrame([], "media_id long, content binary")
    assert md.image_dhash_dedup(empty).count() == 0
    assert md.image_near_dup_pairs(empty).count() == 0
    assert md.video_near_dup_pairs(empty).count() == 0
    assert md.audio_fingerprint_pairs(empty).count() == 0
    ek = spark.createDataFrame([], "media_id long, kind string, content binary")
    assert md.decode_audit(ek).count() == 0


# ---------------------------------------------------------------------------
# second tranche: clusters, scene changes, snippet match
# ---------------------------------------------------------------------------


def test_image_dup_clusters_transitive_chain(spark):
    """a≈b (1 bit), b≈c (1 bit), a vs c 2 bits > max_hamming=1: no direct
    a-c pair, yet components must merge all three — the transitivity
    that pairs alone cannot express."""
    from dbt_glue_spark.plans.media_dedup_queries import synth_pattern_png
    from dbt_glue_spark.extensions.multimodal_dedup import image_dup_clusters

    w = 0x0123456789ABCDEF
    rows = [
        (0, synth_pattern_png(w)),
        (1, synth_pattern_png(w ^ (1 << 10))),
        (2, synth_pattern_png(w ^ (1 << 10) ^ (1 << 20))),
        (3, synth_pattern_png(w ^ ((1 << 40) - 1))),  # far away: singleton
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r.media_id: r.cluster_id
        for r in image_dup_clusters(df, max_hamming=1, bands=4).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3}


def test_video_scene_changes_hand_case(spark):
    """Two frames of scene A, three of scene B, one of scene C → 6 frames,
    3 scenes (2 cuts at the codeword switches)."""
    from dbt_glue_spark.extensions.multimodal import video_encode
    from dbt_glue_spark.extensions.multimodal_dedup import video_scene_changes

    fa = synth_dhash_png(1, 0, False)
    fb = synth_dhash_png(2, 0, False)
    fc = synth_dhash_png(3, 0, False)
    vid = video_encode([fa, fa, fb, fb, fb, fc], 2)
    df = spark.createDataFrame([(0, vid)], "media_id long, content binary")
    got = video_scene_changes(df, max_hamming=2).collect()[0]
    assert (got.n_frames, got.n_scenes) == (6, 3)


def test_video_scene_changes_single_shot(spark):
    """Identical frames (and brightness-only drift) → one scene."""
    from dbt_glue_spark.extensions.multimodal import video_encode
    from dbt_glue_spark.extensions.multimodal_dedup import video_scene_changes

    frames = [synth_dhash_png(4, off, False) for off in (0, 6, 12, 18)]
    df = spark.createDataFrame(
        [(0, video_encode(frames, 2))], "media_id long, content binary"
    )
    got = video_scene_changes(df, max_hamming=2).collect()[0]
    assert (got.n_frames, got.n_scenes) == (4, 1)


def test_audio_snippet_match_position_invariant(spark):
    """A clip of the MIDDLE two segments matches its source track (3
    shared landmarks) and no other — cutting position doesn't matter
    because landmark sets are position-free."""
    from dbt_glue_spark.plans.media_dedup_queries import (
        synth_audio_snippet_bytes,
    )
    from dbt_glue_spark.extensions.multimodal_dedup import audio_snippet_match

    corpus = spark.createDataFrame(
        [(2, synth_audio_bytes(2)), (3, synth_audio_bytes(3))],
        "media_id long, content binary",
    )
    queries = spark.createDataFrame(
        [(100, synth_audio_snippet_bytes(2))],  # g=2's middle segments
        "media_id long, content binary",
    )
    got = {
        (r.query_id, r.media_id): r.n_shared
        for r in audio_snippet_match(corpus, queries, min_shared=2).collect()
    }
    assert got == {(100, 2): 3}


# ---------------------------------------------------------------------------
# third tranche: keyframes, privacy censuses
# ---------------------------------------------------------------------------


def test_video_keyframes_hand_case(spark):
    """2 frames of A, 3 of B, 1 of C → shots (0, start 0, 2 frames),
    (1, start 2, 3 frames), (2, start 5, 1 frame)."""
    from dbt_glue_spark.extensions.multimodal import video_encode
    from dbt_glue_spark.extensions.multimodal_dedup import video_keyframes

    fa = synth_dhash_png(1, 0, False)
    fb = synth_dhash_png(2, 0, False)
    fc = synth_dhash_png(3, 0, False)
    vid = video_encode([fa, fa, fb, fb, fb, fc], 2)
    df = spark.createDataFrame([(7, vid)], "media_id long, content binary")
    got = sorted(
        (r.scene_idx, r.start_frame, r.n_frames)
        for r in video_keyframes(df, max_hamming=2).collect()
    )
    assert got == [(0, 0, 2), (1, 2, 3), (2, 5, 1)]


def test_k_anonymity_hand_case(spark):
    """Classes: (a,1)x3, (a,2)x1, (b,1)x1 and a NULL-quasi class x2 —
    NULL is an ordinary quasi value; sizes census {3:1, 2:1, 1:2}."""
    from dbt_glue_spark.extensions.audit import k_anonymity

    rows = [
        ("a", 1), ("a", 1), ("a", 1),
        ("a", 2),
        ("b", 1),
        (None, 9), (None, 9),
    ]
    df = spark.createDataFrame(rows, "q1 string, q2 int")
    got = {
        r.class_size: (r.n_classes, r.n_rows, r.below_k)
        for r in k_anonymity(df, ["q1", "q2"], k=2).collect()
    }
    assert got == {3: (1, 3, 0), 2: (1, 2, 0), 1: (2, 2, 1)}


def test_k_anonymity_rejects_bad_params(spark):
    from dbt_glue_spark.extensions.audit import k_anonymity

    df = spark.createDataFrame([("a",)], "q string")
    with pytest.raises(ValueError):
        k_anonymity(df, [], k=5)
    with pytest.raises(ValueError):
        k_anonymity(df, ["q"], k=0)


def test_l_diversity_homogeneity_and_null(spark):
    """A size-3 class with ONE sensitive value reports l_distinct=1
    (homogeneity attack), an all-NULL-sensitive class reports 0."""
    from dbt_glue_spark.extensions.audit import l_diversity

    rows = [
        ("g1", "s1"), ("g1", "s1"), ("g1", "s1"),   # l = 1
        ("g2", "s1"), ("g2", "s2"),                  # l = 2
        ("g3", None), ("g3", None),                  # l = 0
    ]
    df = spark.createDataFrame(rows, "q string, s string")
    got = {
        r.l_distinct: (r.n_classes, r.n_rows, r.below_l)
        for r in l_diversity(df, ["q"], "s", l_threshold=2).collect()
    }
    assert got == {1: (1, 3, 1), 2: (1, 2, 0), 0: (1, 2, 1)}


def test_image_frontier_stream_equals_batch_twin(spark, tmp_path):
    """The emitted new-hash set must equal the batch anti-join exactly,
    regardless of file arrival order (Kappa equivalence)."""
    from dbt_glue_spark.extensions.multimodal_dedup import image_dhash
    from dbt_glue_spark.streaming.pipelines import image_frontier_stream

    rows = [
        (i, synth_dhash_png(i % 6, (i % 5) * 3, False)) for i in range(24)
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    ledger = (
        image_dhash(media.filter(F.col("media_id") % 2 == 0))
        .filter(F.col("status") == "ok")
        .select("dhash")
    )
    stage = str(tmp_path / "imgs")
    media.repartition(5).write.mode("overwrite").parquet(stage)
    stream = (
        spark.readStream.schema("media_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        image_frontier_stream(stream, ledger)
        .writeStream.format("memory")
        .queryName("t_imgfrontier")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.dhash for r in spark.table("t_imgfrontier").collect()}
    batch = (
        image_dhash(media)
        .filter(F.col("status") == "ok")
        .select("dhash")
        .distinct()
        .join(ledger.distinct(), "dhash", "left_anti")
    )
    want = {r.dhash for r in batch.collect()}
    assert got == want and got  # odd-g classes only, emitted once each


def test_staged11_specs_survive_empty_documents(spark, sf_dir, tmp_path):
    """Every staged spec must degrade to an empty result on a zero-row
    documents table — the empty-input gate every pool ships with (at
    100 TB a pruned partition or tight predicate routinely hands an
    operator zero rows)."""
    import os

    from dbt_glue_spark.sources.registry import TABLES, load_table

    out = str(tmp_path / "sf_empty11")
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    for name, spec in sorted(SPECS_HERE.items()):
        n = spec.fn(spark, out).count()
        assert n == 0, (name, n)


def test_media_data_card_hand_case(spark):
    from dbt_glue_spark.extensions.multimodal_dedup import media_data_card

    rows = [
        (0, "image", synth_dhash_png(0, 0, False)),   # 18*16 = 288 px
        (1, "image", b"bad"),
        (2, "image", None),
        (3, "audio", synth_audio_bytes(1)),           # 4096 samples
        (4, "video", synth_video_bytes(1)),           # g=1 -> 3 frames
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary"
    )
    got = {
        r.kind: (r.n_rows, r.n_ok, r.ok_ppm, r.sum_units)
        for r in media_data_card(df).collect()
    }
    assert got == {
        "image": (3, 1, 333333, 288),
        "audio": (1, 1, 1000000, 4096),
        "video": (1, 1, 1000000, 3),
    }
