"""Multimodal dedup and privacy-census queries.

Same :class:`QuerySpec` contract and exact-DuckDB gates as every catalog
module (every pathological data profile).

MULTIMODAL DEDUP, the one LLM-pipeline family where the catalog had
analysis (multimodal.py features/resize/resample) but no dedup:

- ``ext_image_dhash_dedup`` — perceptual exact-duplicate manifest over
  dHash (brightness-shifted re-encodes collapse onto one hash);
- ``ext_image_near_dup_pairs`` — Hamming-distance pairs via bit-band
  LSH over the 64-bit dHash (pigeonhole-exhaustive, exact bit_count
  verification);
- ``ext_video_near_dup`` — frame-set Jaccard over per-frame dHashes
  (inverted index + df cutoff, truncation-tolerant);
- ``ext_audio_fingerprint_pairs`` — Shazam-style spectral-landmark
  constellation matching (windowed FFT dominant bins → anchor→target
  landmark hashes → inverted index);
- ``ext_media_decode_audit`` — the decode-status census (ok / null /
  decode_error by kind), the honesty contract around DecodeUnavailable;
- ``ext_image_dup_clusters`` — near-dup pairs → connected components →
  keep-one labels (composes with dedup.dup_clusters);
- ``ext_video_scene_changes`` — shot-boundary census from consecutive
  frame-hash Hamming jumps (the keyframe-extraction primitive);
- ``ext_audio_snippet_match`` — snippet → source lookup (the Shazam
  query direction), position-invariant landmark containment;
- ``ext_video_keyframes`` — the scene census materialized as a shot
  manifest (scene_idx, start_frame — what frame sampling reads);
- ``ext_k_anonymity`` / ``ext_l_diversity`` — the privacy-census tier
  over REAL document columns (quasi-identifier equivalence-class sizes,
  per-class sensitive-value diversity), the release gates that run
  beside PII scan/redact before a corpus ships;
- ``streaming_image_frontier`` — the ingestion-side Kappa twin of the
  image dedup (per-micro-batch decode+dHash, anti-join vs a seen-hash
  ledger, dropDuplicates on the 8-byte hash);
- ``ext_media_data_card`` — per-kind intake census (decode rate in
  exact ppm, natural size units from the real decode), the media twin
  of the text data_card.

Oracle style (the round-10 URL discipline, applied to media bytes): the
Spark side SYNTHESIZES real decodable media per document — PNGs whose
9×8 block structure encodes a chosen codeword, PNGV containers of such
frames, WAVs of on-bin sine segments — runs the REAL decode+hash
operators on the bytes, and the DuckDB oracle derives the expected
output in CLOSED FORM from the construction arithmetic (group/codeword/
perturbation indices are functions of doc_id alone). The two sides are
independent derivations: a decoder or hash bug cannot cancel out of
both. Invariants the construction proves end-to-end:

- dHash is invariant to constant brightness shifts (every doc gets a
  different offset; same-codeword docs still collapse);
- the structured +100 block perturbation flips EXACTLY one dHash bit
  (hamming 1 within a group, closed-form);
- distinct codewords differ in ≥ 6 dHash bits (row-mask XOR popcount 6
  per differing codeword bit), so cross-group pairs never survive
  verification at max_hamming=2;
- video truncation produces prefix frame-sets (Jaccard = min/max,
  closed form); audio amplitude changes leave every FFT-argmax landmark
  unchanged.

NULL/corrupt contract (every media entry): doc_id % 19 == 0 → NULL
content (excluded from hashing, counted ``null`` in the audit);
doc_id % 17 == 0 → deterministic undecodable bytes (excluded from
hashing, counted ``decode_error``). Media bytes synthesize from doc_id
alone, so every pathological documents axis exercises the same contract.
"""

from __future__ import annotations

import io
import struct
import wave as _wave
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_glue_spark.extensions.multimodal import png_encode, video_encode
from dbt_glue_spark.plans import streams
from dbt_glue_spark.plans.catalog import register
from dbt_glue_spark.session import local_frame
from dbt_glue_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Synthetic media construction. All arithmetic on non-negative doc_ids
# with plain % and // — identical semantics in Python, Spark SQL and
# DuckDB (the testdata + pathological generators never emit negative or
# NULL doc_ids; pinned by tests).
# ---------------------------------------------------------------------------

# Row masks for the dHash staircase. Grid row r of codeword ``idx`` takes
# _MASK_B if bit (r % 5) of idx is set, else _MASK_A. Both masks keep
# comparison bits 2 and 3 of row 0 set — the invariant that makes the
# +100 perturbation of block (0,3) flip EXACTLY dHash bit 3 (bit 2's
# comparison only grows more true). XOR popcount of the masks is 6, so
# distinct codewords (< 32) differ in ≥ 6 dHash bits.
_MASK_A = 0b00001100
_MASK_B = 0b11111111


def _codeword_rows(idx: int) -> list[int]:
    assert 0 <= idx < 32
    return [(_MASK_B if (idx >> (r % 5)) & 1 else _MASK_A) for r in range(8)]


def expected_dhash(idx: int, perturbed: bool) -> int:
    """Closed-form dHash of ``synth_dhash_png(idx, *, perturbed)`` —
    the construction writes the codeword straight into the comparison
    bits; the perturbation clears bit 3. Unit tests pin the REAL
    decoder+hasher to this value."""
    v = 0
    for r, mask in enumerate(_codeword_rows(idx)):
        for c in range(8):
            if (mask >> c) & 1:
                v |= 1 << (r * 8 + c)
    if perturbed:
        v &= ~(1 << 3)
    return v - (1 << 64) if v >= (1 << 63) else v


def synth_pattern_png(word: int, offset: int = 0, perturbed: bool = False) -> bytes:
    """18×16 grayscale PNG whose 8×9 block-mean staircase writes the
    64-bit ``word`` straight into the dHash comparison bits (bit
    ``r*8+c`` ⇔ block (r, c+1) mean > block (r, c) mean). Block values
    walk ±5 per column by the word's bits (range [60, 140]); ``offset``
    (≤ 24) shifts every pixel equally — dHash-invariant by design;
    ``perturbed`` adds +100 to block (0,3) — flips exactly dHash bit 3
    when word bits 2 and 3 are set (the codeword masks guarantee that).
    Max pixel: the perturbed block's base is ≤ 115 (bits 0-2 of row 0
    walk from 100), so ≤ 115 + 24 + 100 = 239 ≤ 255.

    Accepts ANY 64-bit word — the weak-scaling probe uses hashed group
    ids so the number of distinct perceptual classes grows with the
    corpus instead of saturating at the 32 test codewords."""
    vals = [[0] * 9 for _ in range(8)]
    for r in range(8):
        v = 100
        vals[r][0] = v
        for c in range(8):
            v += 5 if (word >> (r * 8 + c)) & 1 else -5
            vals[r][c + 1] = v
    if perturbed:
        vals[0][3] += 100
    px = bytearray(16 * 18)
    for y in range(16):
        for x in range(18):
            px[y * 18 + x] = vals[y // 2][x // 2] + offset
    return png_encode(18, 16, bytes(px), channels=1)


def synth_dhash_png(idx: int, offset: int, perturbed: bool) -> bytes:
    """Codeword form of :func:`synth_pattern_png`: the 5-bit index picks
    row masks with the guaranteed cross-distance/perturbation-anchor
    properties (module docstring)."""
    word = 0
    for r, mask in enumerate(_codeword_rows(idx)):
        word |= mask << (r * 8)
    return synth_pattern_png(word, offset, perturbed)


def synth_image_bytes(doc_id: int) -> bytes | None:
    """Image corpus: codeword g = doc_id % 10, brightness offset
    (doc_id % 7) * 3, perturbation p = (doc_id // 10) % 2 — so the
    perceptual classes are (g, p): 20 classes, within-class hamming 0,
    cross-p-same-g hamming 1, cross-g hamming ≥ 5."""
    if doc_id % 19 == 0:
        return None
    if doc_id % 17 == 0:
        return b"CORRUPT-IMG-" + str(doc_id).encode()
    return synth_dhash_png(
        doc_id % 10, (doc_id % 7) * 3, (doc_id // 10) % 2 == 1
    )


def synth_video_bytes(doc_id: int) -> bytes | None:
    """Video corpus: group g = doc_id % 5, base frame count
    nf = 2 + g % 3, frame f carries codeword g*4 + f (distinct hashes,
    disjoint across groups), per-doc brightness offset (dHash-invariant),
    and doc_id % 3 == 0 drops the last frame (prefix truncation)."""
    if doc_id % 19 == 0:
        return None
    if doc_id % 17 == 0:
        return b"CORRUPT-VID-" + str(doc_id).encode()
    g = doc_id % 5
    nf = 2 + g % 3 - (1 if doc_id % 3 == 0 else 0)
    off = (doc_id % 7) * 3
    frames = [synth_dhash_png(g * 4 + f, off, False) for f in range(nf)]
    return video_encode(frames, fps=2)


_AUDIO_WIN = 256


def synth_audio_bytes(doc_id: int) -> bytes | None:
    """Audio corpus: 4 segments of 4 windows each (win=256 samples,
    segment boundaries window-aligned), segment j a pure sine EXACTLY on
    FFT bin 3 + g*4 + j where g = doc_id % 6 — on-bin means zero
    spectral leakage, so the windowed argmax is the bin by construction.
    Amplitude 4000 + 1000*(doc_id % 7) varies per doc and cancels out of
    every landmark (fingerprint invariance). Landmark set per group:
    4 self landmarks (k_j → k_j) + 3 transitions (k_j → k_{j+1}) = 7,
    disjoint across groups (disjoint bin ranges)."""
    import numpy as np

    if doc_id % 19 == 0:
        return None
    if doc_id % 17 == 0:
        return b"CORRUPT-WAV-" + str(doc_id).encode()
    g = doc_id % 6
    amp = 4000 + 1000 * (doc_id % 7)
    parts = []
    for j in range(4):
        k = 3 + g * 4 + j
        t = np.arange(4 * _AUDIO_WIN)
        parts.append(np.round(amp * np.sin(2 * np.pi * k * t / _AUDIO_WIN)))
    x = np.concatenate(parts).astype("<i2")
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(x.tobytes())
    return buf.getvalue()


def synth_scene_video_bytes(doc_id: int) -> bytes | None:
    """Scene-structured video corpus: g = doc_id % 5 scenes
    n_scenes = 1 + g % 3, each scene TWO identical frames (codeword
    g*3 + s — within-scene dHash distance 0, cross-scene ≥ 6), per-doc
    brightness offset. So scene boundaries are exactly the
    codeword switches: n_frames = 2*n_scenes, n_scenes closed-form."""
    if doc_id % 19 == 0:
        return None
    if doc_id % 17 == 0:
        return b"CORRUPT-SCN-" + str(doc_id).encode()
    g = doc_id % 5
    n_scenes = 1 + g % 3
    off = (doc_id % 7) * 3
    frames = []
    for s in range(n_scenes):
        fb = synth_dhash_png(g * 3 + s, off, False)
        frames.extend([fb, fb])
    return video_encode(frames, fps=2)


def synth_audio_snippet_bytes(g: int) -> bytes:
    """Query clip for :func:`audio_snippet_match`: segments j = 1, 2 of
    group g's melody (bins 3+g*4+1, 3+g*4+2), i.e. a cut from the middle
    of the track — landmarks {(k1,k1), (k2,k2), (k1,k2)}, a strict
    subset of the group's 7, disjoint from every other group's."""
    import numpy as np

    parts = []
    for j in (1, 2):
        k = 3 + g * 4 + j
        t = np.arange(4 * _AUDIO_WIN)
        parts.append(np.round(5000 * np.sin(2 * np.pi * k * t / _AUDIO_WIN)))
    x = np.concatenate(parts).astype("<i2")
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(x.tobytes())
    return buf.getvalue()


_KINDS = ("image", "audio", "video")
_SYNTHS = {
    "image": synth_image_bytes,
    "audio": synth_audio_bytes,
    "video": synth_video_bytes,
}


def _synth_media(
    spark: SparkSession,
    sf_dir: str,
    kind: str | None,
    subset_mod: int | None = None,
    subset_val: int = 0,
    synth: Callable[[int], bytes | None] | None = None,
) -> DataFrame:
    """documents.doc_id → synthetic media frame. ``kind=None`` mixes the
    three kinds by doc_id % 3 (the decode-audit corpus); otherwise every
    row is the named kind (``synth`` overrides the default construction
    for that kind). One mapInPandas synthesis stage — the media bytes
    are born ON the executors, partition-local, exactly where a real
    pipeline's parquet binary column would be scanned."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    if subset_mod is not None:
        docs = docs.filter(F.col("doc_id") % subset_mod == subset_val)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                k = kind if kind is not None else _KINDS[did % 3]
                fn = synth if synth is not None else _SYNTHS[k]
                rows.append((did, k, fn(did)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "content"])

    return docs.mapInPandas(
        run, "media_id long, kind string, content binary"
    )


# ---------------------------------------------------------------------------
# ext_image_dhash_dedup — perceptual exact-dup manifest over all docs
# ---------------------------------------------------------------------------


@register(
    "ext_image_dhash_dedup",
    """
    WITH m AS (
      SELECT doc_id, doc_id % 10 AS g, (doc_id // 10) % 2 AS p
      FROM documents
      WHERE doc_id % 19 <> 0 AND doc_id % 17 <> 0
    )
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM m GROUP BY g, p HAVING COUNT(*) > 1
    """,
    doc="Perceptual image dedup (multimodal_dedup.image_dhash_dedup): "
    "REAL PNG decode → integer block-mean dHash → one groupBy on the "
    "8-byte hash. The corpus encodes codeword g = doc_id % 10 with a "
    "per-doc brightness offset (provably dHash-invariant — the hash "
    "only compares adjacent block means) and a structured perturbation "
    "p that flips exactly one bit, so the perceptual classes are "
    "(g, p) in closed form; the oracle never touches pixels. NULL and "
    "corrupt content excluded per the module decode contract. 100 TB "
    "shape: the only Python is the Arrow-batched decode stage; bytes "
    "never shuffle — the dedup exchange carries (bigint, bigint).",
)
def ext_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal_dedup import image_dhash_dedup

    media = _synth_media(spark, sf_dir, "image")
    return image_dhash_dedup(media)


# ---------------------------------------------------------------------------
# ext_image_near_dup_pairs — banded Hamming LSH on a doc_id % 16 slice
# ---------------------------------------------------------------------------


@register(
    "ext_image_near_dup_pairs",
    """
    WITH m AS (
      SELECT doc_id, doc_id % 10 AS g, (doc_id // 10) % 2 AS p
      FROM documents
      WHERE doc_id % 16 = 1 AND doc_id % 19 <> 0 AND doc_id % 17 <> 0
    )
    SELECT CAST(a.doc_id AS BIGINT) AS id_a,
           CAST(b.doc_id AS BIGINT) AS id_b,
           CAST(ABS(a.p - b.p) AS INT) AS hamming
    FROM m a JOIN m b ON a.g = b.g AND a.doc_id < b.doc_id
    """,
    doc="Near-duplicate image pairs (multimodal_dedup.image_near_dup_"
    "pairs): 64-bit dHash → 4 contiguous 16-bit bands → bucket "
    "self-join → exact bit_count verification at max_hamming=2. "
    "Pigeonhole-exhaustive (distance ≤ 2 < 4 bands ⇒ some band "
    "matches), so the oracle is the FULL truth: same codeword group ⇒ "
    "hamming = |p_a - p_b| (0 or 1, closed form); distinct codewords "
    "differ in ≥ 5 bits and never survive verification. Slice "
    "doc_id % 16 = 1 bounds the quadratic within-group truth the same "
    "way the catalog's text pair entries do. Never an all-pairs join: "
    "cost ∝ Σ band-bucket².",
)
def ext_image_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal_dedup import (
        image_near_dup_pairs,
    )

    media = _synth_media(spark, sf_dir, "image", subset_mod=16, subset_val=1)
    return image_near_dup_pairs(media, max_hamming=2, bands=4)


# ---------------------------------------------------------------------------
# ext_video_near_dup — frame-set Jaccard on a doc_id % 32 slice
# ---------------------------------------------------------------------------


@register(
    "ext_video_near_dup",
    """
    WITH m AS (
      SELECT doc_id, doc_id % 5 AS g,
             2 + (doc_id % 5) % 3
               - CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS n
      FROM documents
      WHERE doc_id % 32 = 1 AND doc_id % 19 <> 0 AND doc_id % 17 <> 0
    )
    SELECT CAST(a.doc_id AS BIGINT) AS id_a,
           CAST(b.doc_id AS BIGINT) AS id_b,
           CAST(LEAST(a.n, b.n) AS BIGINT) AS n_shared,
           CAST(a.n AS BIGINT) AS n_a,
           CAST(b.n AS BIGINT) AS n_b,
           FLOOR(LEAST(a.n, b.n) * 1e6
                 / (a.n + b.n - LEAST(a.n, b.n)) + 0.5) / 1e6 AS jaccard
    FROM m a JOIN m b ON a.g = b.g AND a.doc_id < b.doc_id
    """,
    doc="Frame-level video near-dup (multimodal_dedup.video_near_dup_"
    "pairs): REAL PNGV decode → per-frame dHash → Jaccard over distinct "
    "frame-hash sets via an inverted index with a frame-frequency "
    "cutoff. The corpus gives group g's videos frames with codewords "
    "g*4+f (disjoint across groups) and truncates the last frame when "
    "doc_id % 3 == 0, so the sets are prefixes and Jaccard = "
    "min/max ≥ 1/2 in closed form — every within-group pair passes the "
    "0.5 threshold, every cross-group pair shares zero frames. The "
    "jaccard column uses the catalog's half-up 6-dp formula on exact "
    "integer counts on BOTH sides. Never all-pairs: cost ∝ Σ "
    "per-frame-hash posting².",
)
def ext_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal_dedup import (
        video_near_dup_pairs,
    )

    media = _synth_media(spark, sf_dir, "video", subset_mod=32, subset_val=1)
    return video_near_dup_pairs(media, threshold=0.5, max_df=100_000)


# ---------------------------------------------------------------------------
# ext_audio_fingerprint_pairs — landmark constellation on doc_id % 32 = 2
# ---------------------------------------------------------------------------


@register(
    "ext_audio_fingerprint_pairs",
    """
    WITH m AS (
      SELECT doc_id, doc_id % 6 AS g
      FROM documents
      WHERE doc_id % 32 = 2 AND doc_id % 19 <> 0 AND doc_id % 17 <> 0
    )
    SELECT CAST(a.doc_id AS BIGINT) AS id_a,
           CAST(b.doc_id AS BIGINT) AS id_b,
           CAST(7 AS BIGINT) AS n_shared
    FROM m a JOIN m b ON a.g = b.g AND a.doc_id < b.doc_id
    """,
    doc="Audio fingerprint matching (multimodal_dedup.audio_fingerprint_"
    "pairs): REAL WAV decode → windowed FFT dominant bins → anchor→"
    "target landmark hashes (Wang 2003 constellation) → inverted-index "
    "pair join at min_shared=3. The corpus plays 4 on-bin sine segments "
    "per group (bins 3+g*4+j, disjoint ranges — zero leakage, argmax "
    "exact by construction), amplitude varying per doc and cancelling "
    "out of every landmark; each group shares exactly 7 landmarks "
    "(4 self + 3 transitions), cross-group zero — closed form. Never "
    "all-pairs: cost ∝ Σ per-landmark posting².",
)
def ext_audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal_dedup import (
        audio_fingerprint_pairs,
    )

    media = _synth_media(spark, sf_dir, "audio", subset_mod=32, subset_val=2)
    return audio_fingerprint_pairs(
        media, min_shared=3, win=_AUDIO_WIN, max_df=100_000
    )


# ---------------------------------------------------------------------------
# ext_media_decode_audit — the honesty census over a mixed-kind corpus
# ---------------------------------------------------------------------------


@register(
    "ext_media_decode_audit",
    """
    WITH m AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             CASE WHEN doc_id % 19 = 0 THEN 'null'
                  WHEN doc_id % 17 = 0 THEN 'decode_error'
                  ELSE 'ok' END AS status
      FROM documents
    )
    SELECT kind, status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(doc_id) AS BIGINT) AS first_id
    FROM m GROUP BY kind, status
    """,
    doc="Decode-status census (multimodal_dedup.decode_audit): a mixed "
    "image/audio/video corpus (kind = doc_id % 3) where doc_id % 19 "
    "rows are NULL and doc_id % 17 rows are deterministic garbage; the "
    "operator attempts the kind-appropriate REAL decoder on every row "
    "(video = container AND every frame) and reports ok / null / "
    "decode_error per row — corrupt blobs are counted rows, never "
    "crashed stages (the DecodeUnavailable honesty contract). The "
    "oracle derives the census closed-form from the id arithmetic. One "
    "Python decode stage, one map-side-combined groupBy on (kind, "
    "status).",
)
def ext_media_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal_dedup import decode_audit

    media = _synth_media(spark, sf_dir, None)
    return (
        decode_audit(media)
        .groupBy("kind", "status")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("media_id").cast("bigint").alias("first_id"),
        )
    )


# ---------------------------------------------------------------------------
# ext_image_dup_clusters — pairs → connected components → keep-one labels
# ---------------------------------------------------------------------------


@register(
    "ext_image_dup_clusters",
    """
    WITH m AS (
      SELECT doc_id, doc_id % 10 AS g
      FROM documents
      WHERE doc_id % 16 = 1 AND doc_id % 19 <> 0 AND doc_id % 17 <> 0
    )
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(MIN(doc_id) OVER (PARTITION BY g) AS BIGINT) AS cluster_id
    FROM m
    """,
    doc="Perceptual image clusters (multimodal_dedup.image_dup_clusters): "
    "near-dup pairs from banded dHash LSH feed dedup.dup_clusters "
    "(min-label propagation, pointer doubling, hard non-convergence "
    "error) — the keep-one step after pair generation. Every pair "
    "inside a codeword group survives max_hamming=2 (distances 0/1), "
    "so each group collapses to ONE component labeled by its min id; "
    "cross-group distances ≥ 5 produce no edges — closed form. The "
    "decode stage runs once (persisted signature frame feeds pair "
    "generation and the singleton join); the component loop carries "
    "(bigint, bigint) tuples only.",
)
def ext_image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal_dedup import image_dup_clusters

    media = _synth_media(spark, sf_dir, "image", subset_mod=16, subset_val=1)
    return image_dup_clusters(media, max_hamming=2, bands=4)


# ---------------------------------------------------------------------------
# ext_video_scene_changes — shot-boundary census over all docs
# ---------------------------------------------------------------------------


@register(
    "ext_video_scene_changes",
    """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(2 * (1 + (doc_id % 5) % 3) AS BIGINT) AS n_frames,
           CAST(1 + (doc_id % 5) % 3 AS BIGINT) AS n_scenes
    FROM documents
    WHERE doc_id % 19 <> 0 AND doc_id % 17 <> 0
    """,
    doc="Shot-boundary census (multimodal_dedup.video_scene_changes): "
    "REAL PNGV decode → per-frame dHash → a boundary wherever "
    "consecutive frames' Hamming distance exceeds 2 (within a shot the "
    "hash drifts ≤ a couple bits; a cut jumps ≥ 6 by the codeword "
    "margin). The corpus gives each video 1 + g%3 scenes of two "
    "identical frames (codeword per scene), so n_frames and n_scenes "
    "are pure id arithmetic for the oracle while the operator earns "
    "them from pixels. One window partitioned by media_id (state "
    "bounded by frames/video) + one map-side-combined groupBy; the "
    "keyframe-extraction primitive for frame-level sampling.",
)
def ext_video_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal_dedup import video_scene_changes

    media = _synth_media(
        spark, sf_dir, "video", synth=synth_scene_video_bytes
    )
    return video_scene_changes(media, max_hamming=2)


# ---------------------------------------------------------------------------
# ext_audio_snippet_match — the Shazam lookup direction
# ---------------------------------------------------------------------------


@register(
    "ext_audio_snippet_match",
    """
    WITH m AS (
      SELECT doc_id, doc_id % 6 AS g
      FROM documents
      WHERE doc_id % 32 = 2 AND doc_id % 19 <> 0 AND doc_id % 17 <> 0
    )
    SELECT CAST(1000000 + g AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS media_id,
           CAST(3 AS BIGINT) AS n_shared
    FROM m
    """,
    doc="Snippet-to-source matching (multimodal_dedup.audio_snippet_"
    "match): six query clips — each the MIDDLE two segments of one "
    "group's melody — matched against the corpus via landmark "
    "constellations. A middle cut shares exactly 3 landmarks (two self "
    "+ one transition) with every group member and zero with other "
    "groups (disjoint bin ranges): position-invariance and containment "
    "in closed form. The query side is 6 rows — AQE broadcasts it, the "
    "corpus postings never re-shuffle; df cutoff guards hot landmarks.",
)
def ext_audio_snippet_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal_dedup import audio_snippet_match

    corpus = _synth_media(spark, sf_dir, "audio", subset_mod=32, subset_val=2)
    queries = local_frame(
        spark,
        [(1000000 + g, "audio", synth_audio_snippet_bytes(g)) for g in range(6)],
        "media_id long, kind string, content binary",
    )
    return audio_snippet_match(
        corpus, queries, min_shared=2, win=_AUDIO_WIN, max_df=100_000
    )


# ---------------------------------------------------------------------------
# ext_video_keyframes — materialized shot manifest (scene starts)
# ---------------------------------------------------------------------------


@register(
    "ext_video_keyframes",
    """
    WITH v AS (
      SELECT doc_id, 1 + (doc_id % 5) % 3 AS ns
      FROM documents
      WHERE doc_id % 19 <> 0 AND doc_id % 17 <> 0
    )
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(UNNEST(range(ns)) AS BIGINT) AS scene_idx,
           CAST(2 * UNNEST(range(ns)) AS BIGINT) AS start_frame,
           CAST(2 AS BIGINT) AS n_frames
    FROM v
    """,
    doc="Keyframe manifest (multimodal_dedup.video_keyframes): the "
    "scene-change census materialized — scene_idx from a running sum of "
    "frame-hash jump boundaries, start_frame = the shot's first frame "
    "(what a frame-sampling pipeline takes as the shot representative). "
    "The scene corpus gives every shot exactly two identical frames, so "
    "starts are 0,2,4,... in closed form while the operator earns them "
    "from decoded pixels. One window per video + one (media, scene) "
    "groupBy with map-side combine.",
)
def ext_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal_dedup import video_keyframes

    media = _synth_media(
        spark, sf_dir, "video", synth=synth_scene_video_bytes
    )
    return video_keyframes(media, max_hamming=2)


# ---------------------------------------------------------------------------
# Privacy censuses over the REAL documents columns (no synthesis)
# ---------------------------------------------------------------------------


@register(
    "ext_k_anonymity",
    """
    WITH cls AS (
      SELECT COUNT(*) AS class_size
      FROM documents
      GROUP BY lang, source, n_chars // 256
    )
    SELECT CAST(class_size AS BIGINT) AS class_size,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(class_size * COUNT(*) AS BIGINT) AS n_rows,
           CAST(CASE WHEN class_size < 5 THEN 1 ELSE 0 END AS INT)
             AS below_k
    FROM cls GROUP BY class_size
    """,
    doc="k-anonymity census (audit.k_anonymity, Sweeney 2002): "
    "equivalence-class size distribution over the quasi-identifier "
    "tuple (lang, source, n_chars bucketed by 256) — classes below "
    "k = 5 are the re-identification exposure a release gate must "
    "block. NULL is an ordinary quasi value (a NULL attribute still "
    "narrows a linking attack; both engines group NULLs together). "
    "ONE wide map-side-combined groupBy on the quasi tuple, then a "
    "|classes|-bounded size census.",
)
def ext_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import k_anonymity

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars div 256").alias("__bucket")
    )
    return k_anonymity(docs, ["lang", "source", "__bucket"], k=5)


@register(
    "ext_l_diversity",
    """
    WITH cls AS (
      SELECT COUNT(*) AS class_size,
             COUNT(DISTINCT lang) AS l_distinct
      FROM documents
      GROUP BY source, n_chars // 512
    )
    SELECT CAST(l_distinct AS BIGINT) AS l_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_rows,
           CAST(CASE WHEN l_distinct < 2 THEN 1 ELSE 0 END AS INT)
             AS below_l
    FROM cls GROUP BY l_distinct
    """,
    doc="l-diversity census (audit.l_diversity, Machanavajjhala et al. "
    "2007): per quasi-class (source, n_chars bucketed by 512) distinct "
    "count of the sensitive attribute (lang) — a large class with one "
    "sensitive value still leaks it (homogeneity attack), the failure "
    "k-anonymity alone cannot see. NULL sensitive values are excluded "
    "from the distinct count in both engines, so an all-NULL class "
    "reports l_distinct = 0 — visible, not hidden.",
)
def ext_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import l_diversity

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars div 512").alias("__bucket")
    )
    return l_diversity(docs, ["source", "__bucket"], "lang", l_threshold=2)


# ---------------------------------------------------------------------------
# streaming_image_frontier — perceptual dedup at ingestion (Kappa twin)
# ---------------------------------------------------------------------------


@register(
    "streaming_image_frontier",
    """
    WITH m AS (
      SELECT doc_id, doc_id % 10 AS g, (doc_id // 10) % 2 AS p
      FROM documents
      WHERE doc_id % 19 <> 0 AND doc_id % 17 <> 0
    ),
    led AS (SELECT DISTINCT g, p FROM m WHERE doc_id % 2 = 0),
    cls AS (SELECT g, p, COUNT(*) AS class_size FROM m GROUP BY g, p),
    new_cls AS (
      SELECT c.class_size
      FROM cls c LEFT JOIN led l ON c.g = l.g AND c.p = l.p
      WHERE l.g IS NULL
    )
    SELECT CAST(class_size AS BIGINT) AS class_size,
           CAST(COUNT(*) AS BIGINT) AS n_classes
    FROM new_cls GROUP BY class_size
    """,
    doc="Streaming perceptual-image frontier (streaming.image_frontier_"
    "stream): the full image corpus streams in (4-file parquet source, "
    "availableNow) against a seen-hash ledger built from the even "
    "doc_ids; every odd-g perceptual class (g = doc_id % 10 is odd for "
    "odd ids) is NEW and must be emitted exactly once, in any file "
    "arrival order. The spec joins the emitted hash set back to the "
    "batch hash manifest and reports the CLASS-SIZE CENSUS of the new "
    "classes — richer than a count, still closed-form for the oracle "
    "(hash values themselves are decoder-side, deliberately outside "
    "SQL's reach). Decode runs per micro-batch (stateless mapInPandas "
    "in Structured Streaming); frontier state is one 8-byte long per "
    "new class.",
)
def streaming_image_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal_dedup import image_dhash
    from dbt_glue_spark.streaming.pipelines import image_frontier_stream

    media = _synth_media(spark, sf_dir, "image")
    ledger = (
        image_dhash(media.filter(F.col("media_id") % 2 == 0))
        .filter(F.col("status") == "ok")
        .select("dhash")
    )
    with streams.staged(media.select("media_id", "content"), 4) as stream:
        emitted = streams.to_memory(
            image_frontier_stream(stream, ledger), "append", "streaming_image_frontier"
        )
    manifest = (
        image_dhash(media)
        .filter(F.col("status") == "ok")
        .groupBy("dhash")
        .agg(F.count("*").alias("class_size"))
    )
    return (
        emitted.join(manifest, "dhash")
        .groupBy("class_size")
        .agg(F.count("*").cast("bigint").alias("n_classes"))
        .select(F.col("class_size").cast("bigint").alias("class_size"), "n_classes")
    )


# ---------------------------------------------------------------------------
# ext_media_data_card — per-kind intake census over the mixed corpus
# ---------------------------------------------------------------------------


@register(
    "ext_media_data_card",
    """
    WITH m AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             CASE WHEN doc_id % 19 = 0 OR doc_id % 17 = 0 THEN 0
                  ELSE 1 END AS ok,
             CASE WHEN doc_id % 19 = 0 OR doc_id % 17 = 0 THEN 0
                  WHEN doc_id % 3 = 0 THEN 288
                  WHEN doc_id % 3 = 1 THEN 4096
                  ELSE 2 + (doc_id % 5) % 3 END AS units
      FROM documents
    )
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(ok) AS BIGINT) AS n_ok,
           CAST((SUM(ok) * 1000000) // COUNT(*) AS BIGINT) AS ok_ppm,
           CAST(SUM(units) AS BIGINT) AS sum_units
    FROM m GROUP BY kind
    """,
    doc="Media intake card (multimodal_dedup.media_data_card): per-kind "
    "row count, decode success count and exact-ppm rate, and the sum of "
    "each kind's natural size measure from the REAL decode — pixels per "
    "image (18·16 = 288 in this corpus), channel-0 samples per audio "
    "(16 windows · 256 = 4096), frames per video (2 + g%3; the mixed "
    "corpus assigns video to doc_id ≡ 2 mod 3, so the truncation branch "
    "never fires and the count is pure id arithmetic). The media twin "
    "of the text data_card: the first census a multimodal intake runs. "
    "One Python decode stage; one map-side-combined groupBy on kind.",
)
def ext_media_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal_dedup import media_data_card

    media = _synth_media(spark, sf_dir, None)
    return media_data_card(media)
