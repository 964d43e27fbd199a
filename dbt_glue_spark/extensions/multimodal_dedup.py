"""Multimodal near-duplicate detection: perceptual image hashes, frame-level
video signatures, audio landmark fingerprints — the dedup tier for the
image/audio/video columns that :mod:`multimodal` decodes.

The reference engine (aws-samples/dbt-glue) has no media layer; this module
extends the corpus-dedup discipline (``dedup.py``) to binary media columns,
the way a training-data pipeline deduplicates scraped images/clips before
captioning or pretraining. Public grounding: difference-hash (dHash) is the
standard perceptual image hash (average/difference hash family popularized
by pHash and the "Kind of Like That" dHash writeup); frame-signature video
dedup and spectral-peak audio fingerprints follow the Shazam constellation
design (Wang 2003, "An Industrial-Strength Audio Search Algorithm").

Scale discipline (same bars as dedup.py / multimodal.py):

- the ONLY Python stage is the decode+hash extraction (``mapInPandas``,
  Arrow-batched, one batch of binary rows in memory at a time); every
  downstream group/join runs on small fixed-width integers — raw media
  bytes never enter a shuffle;
- pair generation is always candidate-bounded: bit-band LSH buckets for
  images (pigeonhole-exhaustive when ``max_hamming < bands``), an
  inverted index with a document-frequency cutoff for video frames and
  audio landmarks — never an all-pairs join;
- all hash comparisons are integer-exact: block-mean comparisons use
  cross-multiplied integer sums (no float means), Jaccard/ratio outputs
  round with the catalog's half-up formula;
- undecodable content NEVER fails a stage: rows surface in
  ``decode_audit`` with status ``decode_error`` (the honesty contract
  around :class:`multimodal.DecodeUnavailable`) and are excluded from
  hashing, exactly like NULL keys in the text-dedup NULL contracts.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from dbt_glue_spark.extensions.dedup import _persist, dup_clusters, hamming_lsh_pairs
from dbt_glue_spark.extensions.multimodal import (
    DecodeUnavailable,
    png_decode,
    video_decode,
    wav_decode,
)


def dhash_bytes(data: bytes, grid_w: int = 9, grid_h: int = 8) -> int:
    """64-bit difference hash of a decoded image, integer-exact.

    Channel-0 plane → ``grid_h × grid_w`` block partition (floor
    boundaries ``r*h//grid_h`` / ``c*w//grid_w``) → bit ``r*(grid_w-1)+c``
    is set iff block mean (r, c+1) > block mean (r, c). Means are compared
    by cross-multiplying integer block sums (``sum_b * n_a > sum_a * n_b``)
    so unequal block sizes never introduce float rounding — two runs of
    any engine agree bit-for-bit. dHash is invariant to constant
    brightness shifts (every comparison sees the same offset), which is
    what makes it a NEAR-duplicate hash rather than a checksum.

    Returns the hash as a SIGNED 64-bit int (two's complement — bit 63
    may be set; grouping/banding treat it as an opaque bigint). Raises
    :class:`DecodeUnavailable` for undecodable content or images smaller
    than the grid.
    """
    w, h, ch, px = png_decode(data)
    return dhash_from_decoded(w, h, ch, px, grid_w, grid_h)


def dhash_from_decoded(
    w: int, h: int, ch: int, px: bytes, grid_w: int = 9, grid_h: int = 8
) -> int:
    """dHash over an ALREADY-DECODED pixel plane (see :func:`dhash_bytes`).

    Split out so callers that also need (width, height) — e.g.
    :func:`image_dhash`'s manifest rows — decode each image exactly once;
    the decode is the dominant cost of every image pipeline here.
    """
    import numpy as np

    if w < grid_w or h < grid_h:
        raise DecodeUnavailable(f"image {w}x{h} smaller than dhash grid")
    plane = np.frombuffer(px, dtype=np.uint8).reshape(h, w * ch)[:, ::ch]
    rs = [(r * h) // grid_h for r in range(grid_h)]
    cs = [(c * w) // grid_w for c in range(grid_w)]
    # reduceat over rows then cols → integer block sums; int64 is safe
    # (255 * 2^26-pixel blocks stay < 2^63)
    rowsum = np.add.reduceat(plane.astype(np.int64), rs, axis=0)
    sums = np.add.reduceat(rowsum, cs, axis=1)
    rn = np.diff(rs + [h])
    cn = np.diff(cs + [w])
    counts = np.outer(rn, cn).astype(np.int64)
    # cross-multiplied mean comparison, exact in integers
    left_s, right_s = sums[:, :-1], sums[:, 1:]
    left_n, right_n = counts[:, :-1], counts[:, 1:]
    bits = (right_s * left_n) > (left_s * right_n)
    v = 0
    for k, b in enumerate(bits.ravel()):
        if b:
            v |= 1 << k
    return v - (1 << 64) if v >= (1 << 63) else v


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("dhash", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("status", StringType(), False),
    ]
)


def image_dhash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    grid_w: int = 9,
    grid_h: int = 8,
) -> DataFrame:
    """Per-image dHash manifest: (media_id, dhash, width, height, status).

    mapInPandas decode+hash — the one Python stage of every image-dedup
    pipeline here; output rows are 5 small fixed-width columns, so all
    downstream dedup shuffles move ~40 bytes/image regardless of media
    size. ``status`` is ``ok`` / ``null`` / ``decode_error``; dhash is
    NULL unless ok (the decode_audit honesty contract — a corrupt blob
    is a visible row, never a crashed stage or a silent drop).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                if content is None:
                    rows.append((int(mid), None, None, None, "null"))
                    continue
                try:
                    # decode ONCE; hash from the decoded plane (the decode
                    # is the dominant cost of this, the one Python stage)
                    w, h, ch, px = png_decode(bytes(content))
                    hv = dhash_from_decoded(w, h, ch, px, grid_w, grid_h)
                    rows.append((int(mid), hv, w, h, "ok"))
                except DecodeUnavailable:
                    rows.append((int(mid), None, None, None, "decode_error"))
            # dhash/width/height MUST stay object dtype: a None in an int
            # column makes pandas coerce to float64, which rounds 64-bit
            # hashes to 52-bit mantissas and silently merges hash groups
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(
                        [r[0] for r in rows], dtype="int64"
                    ),
                    "dhash": pd.Series(
                        [r[1] for r in rows], dtype="object"
                    ),
                    "width": pd.Series([r[2] for r in rows], dtype="object"),
                    "height": pd.Series(
                        [r[3] for r in rows], dtype="object"
                    ),
                    "status": pd.Series(
                        [r[4] for r in rows], dtype="object"
                    ),
                }
            )

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        run, DHASH_SCHEMA
    )


def image_dhash_dedup(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Exact perceptual-duplicate manifest: one row per dHash occurring
    more than once → (keep_id = min id, n_copies).

    The image twin of text exact_dedup with dHash standing in for md5:
    brightness-shifted re-encodes of the same picture collapse onto one
    hash. ONE groupBy on the 8-byte hash with map-side combine; output
    bounded by the number of duplicated perceptual classes.
    """
    hashes = image_dhash(df, content_col, id_col).filter(
        F.col("status") == "ok"
    )
    return (
        hashes.groupBy("dhash")
        .agg(
            F.min("media_id").cast("bigint").alias("keep_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .select("keep_id", "n_copies")
    )


def image_near_dup_pairs(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    max_hamming: int = 2,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate image pairs by Hamming distance over dHash.

    Candidate generation is bit-band LSH exactly like
    ``dedup.simhash_pairs``: the 64-bit hash splits into ``bands``
    contiguous bit-bands; candidates share at least one whole band. By
    pigeonhole this finds EVERY pair with hamming < ``bands`` (a
    distance-d pair differs in ≤ d bands), so with
    ``max_hamming < bands`` the result is exhaustive, not approximate.
    Verification computes exact ``bit_count(a ^ b)`` on candidates only —
    cost ∝ Σ band-bucket², never corpus².

    Returns (id_a, id_b, hamming int), id_a < id_b, hamming ≤ max_hamming.
    """
    sig = (
        image_dhash(df, content_col, id_col)
        .filter(F.col("status") == "ok")
        .select(F.col("media_id").alias("id"), "dhash")
    )
    return hamming_lsh_pairs(sig, "dhash", 64, bands, max_hamming)


def image_dup_clusters(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    max_hamming: int = 2,
    bands: int = 4,
) -> DataFrame:
    """Perceptual duplicate CLUSTERS: near-dup pairs → connected
    components → (media_id, cluster_id = min member id).

    The keep-one step of image dedup: pairs only say "a≈b"; keeping one
    image per transitive family needs components (a≈b, b≈c ⇒ {a,b,c}
    even when bit drift puts a and c past max_hamming directly). Reuses
    :func:`dedup.dup_clusters` — min-label propagation with pointer
    doubling and a hard non-convergence error — over the hash-derived
    pairs; decodable images without a near-dup edge come back as
    singleton clusters. The decode stage runs ONCE: the signature frame
    is persisted and feeds pair generation and the final singleton join.
    """
    sig = _persist(
        image_dhash(df, content_col, id_col)
        .filter(F.col("status") == "ok")
        .select(F.col("media_id").alias("id"), "dhash")
    )
    pairs = hamming_lsh_pairs(sig, "dhash", 64, bands, max_hamming)
    return dup_clusters(
        sig.select(F.col("id").alias("media_id")), pairs, id_col="media_id"
    )


def video_scene_changes(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    max_hamming: int = 2,
) -> DataFrame:
    """Scene-boundary census per video: (media_id, n_frames, n_scenes).

    A scene change is a consecutive-frame pair whose dHash Hamming
    distance exceeds ``max_hamming`` — within a shot the perceptual hash
    drifts by at most a couple of bits, a cut jumps many (the standard
    shot-boundary heuristic over perceptual hashes); n_scenes = 1 +
    boundaries. The keyframe-extraction primitive ahead of frame-level
    pretraining sampling.

    100 TB shape: per-frame hashes from the one Python decode stage,
    then ONE window partitioned by media_id ordered by frame_idx (state
    bounded by frames-per-video) and one map-side-combined groupBy.
    Undecodable videos are skipped (they surface in ``decode_audit``).
    """
    from pyspark.sql import Window

    fh = video_frame_hashes(df, content_col, id_col)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    prev = F.lag("frame_dhash").over(w)
    return (
        fh.withColumn("__prev", prev)
        .withColumn(
            "__cut",
            F.when(
                F.col("__prev").isNotNull()
                & (
                    F.expr(
                        "cast(bit_count(frame_dhash ^ __prev) as int)"
                    )
                    > max_hamming
                ),
                1,
            ).otherwise(0),
        )
        .groupBy("media_id")
        .agg(
            F.count("*").cast("bigint").alias("n_frames"),
            (1 + F.sum("__cut")).cast("bigint").alias("n_scenes"),
        )
    )


def video_keyframes(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    max_hamming: int = 2,
) -> DataFrame:
    """Keyframe manifest: one row per detected scene —
    (media_id, scene_idx, start_frame, n_frames).

    The companion of :func:`video_scene_changes`: instead of counting
    shots it MATERIALIZES them — scene_idx is the running count of
    hash-jump boundaries, start_frame the first frame of each shot (the
    frame a training pipeline samples as the shot's representative).
    Same plan shape: one window per video (state bounded by frames per
    video) plus one (media, scene)-keyed map-side-combined groupBy.
    """
    from pyspark.sql import Window

    fh = video_frame_hashes(df, content_col, id_col)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    prev = F.lag("frame_dhash").over(w)
    cut = F.when(
        F.col("__prev").isNotNull()
        & (
            F.expr("cast(bit_count(frame_dhash ^ __prev) as int)")
            > max_hamming
        ),
        1,
    ).otherwise(0)
    return (
        fh.withColumn("__prev", prev)
        .withColumn("__cut", cut)
        .withColumn(
            "scene_idx",
            F.sum("__cut")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint"),
        )
        .groupBy("media_id", "scene_idx")
        .agg(
            F.min("frame_idx").cast("bigint").alias("start_frame"),
            F.count("*").cast("bigint").alias("n_frames"),
        )
    )


def audio_snippet_match(
    corpus: DataFrame,
    queries: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    min_shared: int = 2,
    win: int = 256,
    max_df: int = 1000,
) -> DataFrame:
    """Snippet → source matching: which corpus audios contain each query
    clip's landmark constellation (the Shazam lookup direction).

    Both sides run the same fingerprint extraction; the corpus side gets
    the df cutoff (hot landmarks are boilerplate); the join is query-
    landmarks ⋈ corpus-landmarks on the 8-byte lm_hash — at scale the
    query side is tiny and AQE broadcasts it, so the corpus postings
    never re-shuffle. Landmark sets are position-invariant, so a clip
    cut from the middle of a track still matches its source.

    Returns (query_id, media_id, n_shared), n_shared ≥ min_shared.
    """
    clm = audio_fingerprints(corpus, content_col, id_col, win)
    qlm = audio_fingerprints(queries, content_col, id_col, win).select(
        F.col("media_id").alias("query_id"), "lm_hash"
    )
    dfc = clm.groupBy("lm_hash").agg(F.count("*").alias("__dfc"))
    posts = clm.join(
        dfc.filter(F.col("__dfc") <= max_df).select("lm_hash"),
        "lm_hash",
        "left_semi",
    )
    return (
        qlm.join(posts, "lm_hash")
        .groupBy("query_id", "media_id")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


FRAME_HASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("frame_dhash", LongType(), False),
    ]
)


def video_frame_hashes(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    grid_w: int = 9,
    grid_h: int = 8,
) -> DataFrame:
    """Per-frame dHash manifest for video content: (media_id, frame_idx,
    frame_dhash). Decodes the PNGV container and hashes every frame with
    the image dHash — the signature extraction ahead of video near-dup.
    Undecodable containers/frames are skipped (they surface in
    ``decode_audit``, not here). One mapInPandas stage; output is three
    bigints per frame, so downstream set operations never see pixels.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                if content is None:
                    continue
                try:
                    _fps, frames = video_decode(bytes(content))
                    hashes = [
                        dhash_bytes(fb, grid_w, grid_h) for fb in frames
                    ]
                except DecodeUnavailable:
                    continue
                rows.extend(
                    (int(mid), i, hv) for i, hv in enumerate(hashes)
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_dhash"]
            )

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        run, FRAME_HASH_SCHEMA
    )


def video_near_dup_pairs(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """Near-duplicate video pairs by Jaccard over distinct frame-hash sets.

    Re-encodes, brightness shifts and truncations of the same clip share
    most per-frame dHashes; Jaccard over the frame-hash SETS is the
    clip-level analogue of n-gram Jaccard over documents. Candidates come
    from an inverted index on frame_dhash with a document-frequency
    cutoff (``max_df``: a frame hash present in more videos than this is
    boilerplate — title cards, black frames — and generates no
    candidates; it is excluded from BOTH the intersection and the set
    sizes so the ratio stays consistent). Never an all-pairs join; cost
    ∝ Σ per-frame-hash posting².

    Returns (id_a, id_b, n_shared, n_a, n_b, jaccard), id_a < id_b,
    jaccard ≥ threshold, jaccard rounded half-up to 6 dp from exact
    integer counts.
    """
    fh = (
        video_frame_hashes(df, content_col, id_col)
        .select(F.col("media_id").alias("id"), "frame_dhash")
        .distinct()
    )
    dfc = fh.groupBy("frame_dhash").agg(F.count("*").alias("__dfc"))
    posts = fh.join(
        dfc.filter(F.col("__dfc") <= max_df).select("frame_dhash"),
        "frame_dhash",
        "left_semi",
    )
    sizes = posts.groupBy("id").agg(F.count("*").alias("n"))
    a = posts.select(F.col("id").alias("id_a"), "frame_dhash")
    b = posts.select(F.col("id").alias("id_b"), "frame_dhash")
    shared = (
        a.join(b, "frame_dhash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    out = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.expr(
                "floor(n_shared * 1e6 / (n_a + n_b - n_shared) + 0.5) / 1e6"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select(
        "id_a",
        "id_b",
        "n_shared",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "jaccard",
    )


LANDMARK_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("lm_hash", LongType(), False),
    ]
)


def audio_fingerprints(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    win: int = 256,
) -> DataFrame:
    """Spectral-landmark fingerprints per audio: (media_id, lm_hash),
    distinct.

    The Shazam constellation idea (Wang 2003) reduced to its deterministic
    core: non-overlapping ``win``-sample windows → dominant FFT bin
    (argmax magnitude over bins 1..win/2, DC excluded) → one landmark per
    CONSECUTIVE window pair, ``lm_hash = bin_t * 65536 + bin_{t+1}``
    (anchor → target). Amplitude changes, re-encodes and volume
    normalization leave every landmark unchanged; time-order is encoded
    in the anchor→target direction. The trailing partial window is
    dropped (deterministic framing).

    One mapInPandas stage; the output is one bigint per landmark, so the
    pair join downstream shuffles 8-byte keys, never samples.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                if content is None:
                    continue
                try:
                    _sr, _nch, x = wav_decode(bytes(content))
                except DecodeUnavailable:
                    continue
                nwin = int(x.size) // win
                if nwin < 2:
                    continue
                frames = (
                    np.asarray(x[: nwin * win])
                    .astype(np.float64)
                    .reshape(nwin, win)
                )
                mags = np.abs(np.fft.rfft(frames, axis=1))
                bins = 1 + np.argmax(mags[:, 1:], axis=1)  # DC excluded
                lms = {
                    int(bins[t]) * 65536 + int(bins[t + 1])
                    for t in range(nwin - 1)
                }
                rows.extend((int(mid), lm) for lm in sorted(lms))
            yield pd.DataFrame(rows, columns=["media_id", "lm_hash"])

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        run, LANDMARK_SCHEMA
    )


def audio_fingerprint_pairs(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    min_shared: int = 3,
    win: int = 256,
    max_df: int = 1000,
) -> DataFrame:
    """Matching-audio pairs: audios sharing ≥ ``min_shared`` landmarks.

    Inverted index on lm_hash with the same document-frequency cutoff as
    the video pairs (a landmark in more audios than ``max_df`` is
    boilerplate — silence, test tones — and generates no candidates).
    Cost ∝ Σ per-landmark posting²; never an all-pairs join.

    Returns (id_a, id_b, n_shared), id_a < id_b.
    """
    lms = audio_fingerprints(df, content_col, id_col, win)
    dfc = lms.groupBy("lm_hash").agg(F.count("*").alias("__dfc"))
    posts = lms.join(
        dfc.filter(F.col("__dfc") <= max_df).select("lm_hash"),
        "lm_hash",
        "left_semi",
    )
    a = posts.select(F.col("media_id").alias("id_a"), "lm_hash")
    b = posts.select(F.col("media_id").alias("id_b"), "lm_hash")
    return (
        a.join(b, "lm_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def media_data_card(
    df: DataFrame,
    kind_col: str = "kind",
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-kind media corpus card: (kind, n_rows, n_ok, ok_ppm,
    sum_units) — the media twin of the text-side ``audit.data_card``.

    ``units`` is the kind's natural size measure from the REAL decode:
    pixels per image (w·h), channel-0 samples per audio, frames per
    video (every frame must decode, the decode_audit 'ok' contract).
    ``ok_ppm`` is the decode success rate in exact parts-per-million
    (bigint division, no float). The first census a multimodal corpus
    intake runs: how much decodes, and how much raw signal it holds.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, content in zip(
                pdf[id_col], pdf[kind_col], pdf[content_col]
            ):
                ok, units = 0, 0
                if content is not None:
                    data = bytes(content)
                    try:
                        if kind == "image":
                            w, h, _ch, _px = png_decode(data)
                            units = w * h
                        elif kind == "audio":
                            _sr, _nch, x = wav_decode(data)
                            units = int(x.size)
                        elif kind == "video":
                            _fps, frames = video_decode(data)
                            for fb in frames:
                                png_decode(fb)
                            units = len(frames)
                        else:
                            raise DecodeUnavailable(f"unknown kind {kind!r}")
                        ok = 1
                    except DecodeUnavailable:
                        ok, units = 0, 0
                rows.append((kind, ok, units))
            yield pd.DataFrame(
                rows, columns=["kind", "ok", "units"]
            )

    manifest = df.select(
        F.col(id_col), F.col(kind_col), F.col(content_col)
    ).mapInPandas(run, "kind string, ok int, units long")
    return manifest.groupBy("kind").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("ok").cast("bigint").alias("n_ok"),
        F.expr(
            "cast((sum(ok) * 1000000) div count(*) as bigint)"
        ).alias("ok_ppm"),
        F.sum("units").cast("bigint").alias("sum_units"),
    )


AUDIT_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), True),
        StructField("status", StringType(), False),
        StructField("n_bytes", LongType(), True),
    ]
)


def decode_audit(
    df: DataFrame,
    kind_col: str = "kind",
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-row decode-status manifest: (media_id, kind, status, n_bytes)
    with status ``ok`` / ``null`` / ``decode_error``.

    The honesty census every media pipeline runs first: how much of the
    corpus actually decodes, by kind. ``ok`` means the kind-appropriate
    decoder fully parsed the content (for video: the container AND every
    frame). A corrupt blob is a counted row, never a crashed stage — the
    operational contract around :class:`multimodal.DecodeUnavailable`.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, content in zip(
                pdf[id_col], pdf[kind_col], pdf[content_col]
            ):
                if content is None:
                    rows.append((int(mid), kind, "null", None))
                    continue
                data = bytes(content)
                try:
                    if kind == "image":
                        png_decode(data)
                    elif kind == "audio":
                        wav_decode(data)
                    elif kind == "video":
                        _fps, frames = video_decode(data)
                        for fb in frames:
                            png_decode(fb)
                    else:
                        raise DecodeUnavailable(f"unknown kind {kind!r}")
                    rows.append((int(mid), kind, "ok", len(data)))
                except DecodeUnavailable:
                    rows.append((int(mid), kind, "decode_error", len(data)))
            # n_bytes stays object dtype: None in an int column coerces
            # the whole column to float64 (see image_dhash)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(
                        [r[0] for r in rows], dtype="int64"
                    ),
                    "kind": pd.Series([r[1] for r in rows], dtype="object"),
                    "status": pd.Series(
                        [r[2] for r in rows], dtype="object"
                    ),
                    "n_bytes": pd.Series(
                        [r[3] for r in rows], dtype="object"
                    ),
                }
            )

    return df.select(
        F.col(id_col), F.col(kind_col), F.col(content_col)
    ).mapInPandas(run, AUDIT_SCHEMA)
