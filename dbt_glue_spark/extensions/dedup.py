"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (dbt-glue's closest analogue is Hudi's
``precombine`` latest-wins field, reference: dbt/adapters/glue/impl.py:970);
these are the driver-mandated extensions, designed Spark-first for 100 TB:

- every operator is expressed as joins/groupBys over *exploded inverted
  indexes* (shingle → doc), never a pairwise cross join, so cost scales with
  sum(postings²  per bucket), not n²;
- all hashing is ``md5`` of deterministic strings → reproducible across
  runs, engines (the DuckDB oracle computes the identical signatures), and
  cluster sizes;
- every shingle overlap joins one posting frame,
  ``functions.text.shingle_postings`` — (id, 16-byte ``h``) rows, so no
  shuffle carries shingle text — and every overlap ratio it reports is
  ``functions.scalars.jaccard``; ``ngram_jaccard_pairs`` and
  ``containment_pairs`` share one posting self-join;
- no Python UDFs anywhere in the hot path.

Scale notes (100 TB): the shingle explode multiplies rows by ~doc length;
that flows into a groupBy shuffle keyed on shingle/band hashes, which are
uniformly distributed by construction (md5) — no skew. Frequent shingles
(stop-shingles) are the one real skew source; ``df_freq_cutoff`` drops
postings above a document-frequency cutoff exactly like search engines drop
stopwords.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from dbt_glue_spark.functions.scalars import half_up_round, jaccard
from dbt_glue_spark.functions.text import (
    normalize_text,
    shingle_postings,
    tokenize_once,
    tokens,
    word_shingles,
)

# Cached intermediates of lazily-returned operators (the caller's action,
# not this module, populates them — so they can't be unpersisted inside the
# operator). ``release_caches()`` lets a long-lived session (a catalog
# sweep, a bench loop) free executor storage deterministically between
# runs; the registry itself is bounded — beyond _MAX_LIVE the oldest entry
# is unpersisted on the way in, so a session that never calls
# release_caches still can't accumulate unbounded cached partitions.
_LIVE_CACHES: list[DataFrame] = []
_MAX_LIVE = 16


def _persist(df: DataFrame) -> DataFrame:
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE_CACHES.append(out)
    while len(_LIVE_CACHES) > _MAX_LIVE:
        try:
            _LIVE_CACHES.pop(0).unpersist()
        except Exception:  # noqa: BLE001
            pass
    return out


def release_caches() -> int:
    """Unpersist every live cached intermediate created by this module's
    operators. Returns how many frames were released. Call between runs in
    a long-lived session; safe any time (caches rebuild on next use)."""
    n = 0
    while _LIVE_CACHES:
        try:
            _LIVE_CACHES.pop().unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may already be stopped
            pass
    return n


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """Exact dedup: keep the lowest-id row per (normalized) text hash.

    Single hash-shuffle on md5(text) — the md5 keeps shuffle keys small and
    uniformly distributed even when documents are megabytes long.
    Implemented as min-id groupBy + semi join back (two stages but only the
    16-byte hash and the id travel through the wide shuffle), rather than a
    row_number window over full rows.
    """
    c = normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    # hashed feeds both the keep-set build and the probe side; persist so
    # the normalize+md5 regex pipeline runs once, not once per consumer
    # (measured 4x on the sf0.1 corpus; spills to disk if it can't cache)
    hashed = _persist(df.withColumn("__h", F.unhex(F.md5(c))))
    keep = hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return (
        hashed.join(keep, [ "__h", id_col], "left_semi")
        .drop("__h")
    )


def exact_dedup_keep_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: str = "quality",
    normalize: bool = False,
) -> DataFrame:
    """Exact dedup with QUALITY-ARGMAX survivor selection — the FineWeb /
    RefinedWeb curation rule (keep the best copy, not the first): among
    rows sharing a (normalized) text hash, the survivor is the row with
    the highest score, ties broken by lowest id, so the winner is a pure
    function of the data (never of partitioning).

    :func:`exact_dedup` keeps the MIN-ID copy — right for crawl dedup
    where earlier capture wins. When copies differ in metadata quality
    (same article syndicated across domains with different classifier
    scores), a pipeline wants the best-scored copy instead; dropping the
    high-score copy for an earlier low-score one silently degrades the
    corpus quality distribution the downstream threshold sweep measures.

    Output is the cluster manifest, one row per distinct text:
    (keep_id, n_copies, best_score) — the survivor id, how many copies
    collapsed, and the winning score. Rows with NULL text or NULL id are
    excluded (no content to compare); a NULL score loses to any non-NULL
    score (and between all-NULL-score copies the min id wins) via a
    -1 coalesce — scores are non-negative by contract.

    100 TB shape: ONE map-side-combining groupBy on md5(text) — 16-byte
    shuffle keys regardless of document size, argmax carried as a
    min(struct(-score, id)) so the survivor needs no join-back or
    window. Output is |distinct texts|, never the corpus.
    """
    c = normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    staged = df.filter(
        F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.md5(c).alias("__h"),
        F.col(id_col).cast("bigint").alias("__id"),
        F.col(score_col).alias("__q"),
    )
    return keep_best_by(staged, ["__h"], "__id", "__q", n_name="n_copies")


def keep_best_by(
    scored: DataFrame,
    by: list[str],
    id_col: str,
    score_col: str,
    n_name: str = "n_members",
    keep_by: bool = False,
) -> DataFrame:
    """The keep-best tail every survivor manifest shares: ONE groupBy on
    ``by`` whose argmax rides ``min(struct(-q, id))`` — max score, then
    min id — with no window and no join-back.

    ``q`` is the score cast to bigint with NULL coalesced to −1, so a
    NULL score loses to any real (non-negative) score and an all-NULL
    group reports ``best_score = -1``. Output: ``keep_id``, the member
    count named ``n_name`` and ``best_score`` (all bigint), preceded by
    the ``by`` columns cast to bigint when ``keep_by``.
    """
    q = F.coalesce(F.col(score_col).cast("bigint"), F.lit(-1))
    best = F.min(F.struct((-q).alias("nq"), F.col(id_col).alias("i")))
    head = [F.col(c).cast("bigint").alias(c) for c in by] if keep_by else []
    return (
        scored.groupBy(*by)
        .agg(best.alias("__w"), F.count("*").cast("bigint").alias(n_name))
        .select(
            *head,
            F.col("__w.i").cast("bigint").alias("keep_id"),
            n_name,
            (-F.col("__w.nq")).cast("bigint").alias("best_score"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    df_freq_cutoff: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold, via inverted index.

    Plan: explode shingles → self-join on shingle (candidate generation:
    only docs sharing ≥1 shingle ever meet) → count intersections → join
    per-doc shingle counts → Jaccard = |∩| / (|A|+|B|-|∩|).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard half-up rounded
    to 6 dp for stable cross-engine comparison.
    """
    # postings feed the join twice (a/b sides) plus the per-doc size agg —
    # persist so the tokenize+shingle explode runs once, not three times
    # (measured ~2x on the sf0.1 corpus; same discipline as minhash)
    sh = _persist(
        shingle_postings(df, text_col, [F.col(id_col).alias("id")], n, df_freq_cutoff)
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    return _jaccard_at_least(_posting_overlaps(sh), sizes, threshold)


def _posting_overlaps(sh: DataFrame) -> DataFrame:
    """The one posting self-join: (id_a, id_b, n_common) for every pair
    id_a < id_b of ``sh`` (id, h) postings sharing ≥ 1 shingle hash —
    candidate generation by inverted index, so only docs that share a
    posting ever meet."""
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )


def _jaccard_at_least(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Verification tail shared by the n-gram and MinHash pair finders:
    ``inter`` (id_a, id_b, n_common) ⋈ per-doc shingle counts ``sizes``
    (id, n_sh) on both sides → Jaccard = |∩| / (|A|+|B|-|∩|), half-up
    rounded to 6 dp, kept iff ≥ ``threshold``.

    No F.broadcast hint on sizes: it can be one row PER DOCUMENT, so a
    forced broadcast would bypass autoBroadcastJoinThreshold and OOM
    the driver at corpus scale. AQE picks broadcast at runtime iff the
    frame is actually small (tests/test_plan_quality.py gates this).
    """
    return (
        inter.join(
            sizes.withColumnsRenamed({"id": "id_a", "n_sh": "sh_a"}), "id_a"
        )
        .join(
            sizes.withColumnsRenamed({"id": "id_b", "n_sh": "sh_b"}), "id_b"
        )
        .withColumn("jaccard", jaccard("n_common", "sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """MinHash signatures: h_i(doc) = min over shingles of a 32-bit hash
    slice — hash family = 8-hex-char substrings of
    ``md5(shingle) || md5('x:' || shingle)`` (two md5 calls per posting,
    not ``num_hashes``; measured ~2× on the signature stage).

    Hex md5 substrings compare lexicographically the same everywhere, so
    the signature is engine-portable (the DuckDB oracle reproduces it
    exactly). One explode + one groupBy; signature width is a constant
    factor. num_hashes ≤ 8 with this 64-hex-char family.
    """
    if num_hashes > 8:
        raise ValueError(f"num_hashes must be <= 8 (8 x 32-bit hash slices): {num_hashes}")
    # the one shingle-text consumer: the hash family is defined over the
    # shingle text, so this explode cannot share the hashed postings
    staged = tokenize_once(df, text_col, [F.col(id_col).alias("id")])
    sh = staged.select(
        "id", F.explode(word_shingles(F.col("toks"), n)).alias("shingle")
    )
    # barrier: without it CollapseProject inlines the two md5 calls into
    # every substring site (2*num_hashes evaluations per row)
    wide = F.concat(
        F.md5(F.col("shingle")), F.md5(F.concat(F.lit("x:"), F.col("shingle")))
    )
    staged = sh.select("id", wide.alias("m"), F.rand().alias("__once"))
    hashed = staged.select(
        "id",
        *[
            F.substring("m", 1 + 8 * i, 8).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    return hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def _minhash_bands(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band_idx, band_key) rows of a MinHash signature frame: each
    band's key is the md5 of its ``num_hashes // bands`` hashes joined by
    ``|``, band_idx its string index. The one banding definition shared
    by :func:`minhash_lsh_pairs` and :func:`minhash_band_ledger`, so a
    ledger built by one always matches buckets probed by the other."""
    # ValueError, not assert: a bad split must fail under `python -O` too
    if num_hashes % bands != 0:
        raise ValueError(f"bands must divide num_hashes={num_hashes}, got {bands}")
    rows_per_band = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return sig.select("id", *band_cols).selectExpr(
        "id",
        "stack({}, {}) as (band_idx, band_key)".format(
            bands, ", ".join(f"'{b}', band{b}" for b in range(bands))
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_band_bucket: int | None = 64,
) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs, verified by exact Jaccard.

    Shingle → minhash signature → band keys (md5 of each band's rows) →
    group by band key (bucket join) → candidate pairs → exact Jaccard
    verification ≥ threshold. The band groupBy is the only wide shuffle over
    candidates; banding bounds candidate count regardless of corpus size —
    this is the 100 TB path (vs ngram_jaccard_pairs' exact index join).

    ``max_band_bucket`` is the mega-bucket defense the textskew probe
    exists for (SCALE.md round-8: a 90 %-shared boilerplate prefix put
    whole-corpus fractions into single band buckets — 10.1× runtime at
    2.9× tokens, i.e. the bucket self-join went quadratic): a band
    bucket holding more than the cap never enters the quadratic
    self-join. Instead it degrades to a STAR: every member is linked to
    the bucket's MIN id — O(bucket) candidate pairs instead of
    O(bucket²), each still exact-Jaccard verified. A true duplicate
    family stays CONNECTED (one star component of diameter 2 —
    deliberately NOT a consecutive-id chain, whose O(bucket) diameter
    would stall dup_clusters' label propagation), which is all
    downstream clustering needs; only the exhaustive per-pair list is
    sacrificed. Found by the round-9 dupheavy axis: with the original
    policy of skipping an oversized bucket, a corpus where 85 % of
    documents are mirrors of five near-identical canonicals returned
    ZERO pairs — every band bucket merged past the cap and the whole
    duplicated mass vanished from the pair stream (SCALE.md round-9
    session 3).

    The cap IS the default (64, flipped round 9 per the r8 verdict: the
    uncapped bucket join is a proven quadratic scale-killer on
    boilerplate corpora — 5.6–10× runtime at 2.9× tokens in the textskew
    probe — i.e. on the NORMAL shape of web-crawl data). Pass
    ``max_band_bucket=None`` to opt in to exact full-recall semantics on
    small/curated corpora. ``lsh_recall_audit`` measures what the cap
    costs on a given corpus.

    Returns (id_a, id_b, jaccard), id_a < id_b.
    """
    # The signature table feeds both sides of the band self-join —
    # persisted (1 row/doc, tiny at any scale; ContextCleaner drops the
    # cache when the frame is GC'd). The hashed postings feed both sides
    # of the verification join but are NOT persisted (r12 A/B: 3.10 s vs
    # 3.45 s cached — map-only postings recompute beats caching the
    # exploded rows; re-measured with AQE coalescing cached frames, sf0.1,
    # 4 CPUs: 4.15 s persisted vs 3.60 s not, so still not worth it)
    sh = shingle_postings(df, text_col, [F.col(id_col).alias("id")], n)
    sig = _persist(minhash_signatures(df, text_col, id_col, n, num_hashes))
    # candidate pairs: docs sharing any band key (dedup across bands)
    stacked = _minhash_bands(sig, num_hashes, bands)
    star_pairs = None
    if max_band_bucket is not None:
        if max_band_bucket < 1:
            raise ValueError(f"max_band_bucket must be >= 1: {max_band_bucket}")
        # one cheap groupBy over the bands×docs frame decides each
        # bucket's fate BEFORE the self-join, so an oversized bucket's
        # quadratic pair set is never materialized
        # min(id) rides the same map-side-combined groupBy that counts
        # the bucket — one row per bucket, no extra pass (r9 ADVICE: the
        # previous per-bucket Window shuffled the ENTIRE mega-bucket —
        # the whole-corpus-fraction bucket the cap exists to defend
        # against — into a single task; linear, but a straggler/spill
        # risk at exactly the scale this feature targets)
        counts = _persist(
            stacked.groupBy("band_idx", "band_key").agg(
                F.count("*").alias("__bn"),
                F.min("id").alias("__bmin"),
            )
        )
        # a one-member bucket cannot yield an a.id < b.id pair (and star
        # pairs come only from over-cap buckets), so singletons are pruned
        # from the self-join input here, on the counts already computed
        keep = counts.filter(
            (F.col("__bn") >= 2) & (F.col("__bn") <= max_band_bucket)
        ).select("band_idx", "band_key")
        # the star: the bucket-level __bmin joined back onto the members
        # (the over-cap bucket list is one row per bucket — AQE
        # broadcasts it, so the members never re-shuffle); a chain
        # instead left a 65-doc dupheavy mirror family as a 51-vertex
        # partial component at dup_clusters' max_iter=50
        star_pairs = (
            stacked.join(
                counts.filter(F.col("__bn") > max_band_bucket).select(
                    "band_idx", "band_key", "__bmin"
                ),
                ["band_idx", "band_key"],
            )
            .filter(F.col("__bmin") < F.col("id"))
            .select(
                F.col("__bmin").alias("id_a"), F.col("id").alias("id_b")
            )
        )
        stacked = stacked.join(keep, ["band_idx", "band_key"], "left_semi")
    a = stacked.alias("a")
    b = stacked.alias("b")
    # cand feeds the intersection join AND the candidate-id semi-join
    # below — persist so the band self-join runs once
    bucket_pairs = a.join(
        b,
        (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    if star_pairs is not None:
        bucket_pairs = bucket_pairs.unionByName(star_pairs)
    cand = _persist(bucket_pairs.distinct())
    # Exact-Jaccard verification restricted to candidates: fan candidate
    # pairs out over id_a's postings, then equi-join id_b's postings on
    # (id_b, h). Cost ∝ |candidates| × shingles/doc — independent of
    # corpus size, unlike an all-pairs verification.
    # Shingle sizes are computed ONLY for candidate-incident docs (semi-
    # join first): `sh.groupBy(id)` alone would be one row per document —
    # and a forced F.broadcast of that, as this used to do, bypasses
    # autoBroadcastJoinThreshold and OOMs the driver at corpus scale. No
    # explicit hint either way: the candidate-bounded frame is usually
    # tiny and AQE promotes the join to broadcast at runtime from its
    # REAL size (tests/test_plan_quality.py gates the absence of the
    # per-document broadcast).
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sizes = (
        sh.join(cand_ids, "id", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_sh"))
    )
    # the intersection join carries the 16-byte posting hash, not the
    # shingle text: the shuffle bytes of the widest exchange in the
    # pipeline roughly halve — measured at the 64× local memory boundary
    # where this operator's spill regime begins (SCALE.md round-8)
    sh_a = sh.withColumnRenamed("id", "id_a")
    sh_b = sh.withColumnRenamed("id", "id_b")
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_at_least(inter, sizes, threshold)


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash fingerprint from token md5 nibbles (default 16-bit).

    Per token, bit j comes from nibble j of md5(token); the fingerprint sets
    bit j if more tokens have it set than not. Pure Catalyst: explode tokens
    → explode bit positions → conditional sum → bit-OR reconstruction.
    Engine-portable because only md5 + integer arithmetic are used.

    Returns (id, simhash bigint). Near-dup = small hamming distance; pair
    generation should bucket on bit-bands like minhash_lsh_pairs.
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("h", F.md5(F.col("tok")))
    pos = tok.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        F.col("h"),
    )
    # nibble value of hex char at position `bit` (1-indexed substring)
    nib = F.expr("instr('0123456789abcdef', substring(h, bit + 1, 1)) - 1")
    signed = pos.withColumn("vote", F.when(nib % 2 == 1, F.lit(1)).otherwise(F.lit(-1)))
    votes = signed.groupBy("id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(cast(1 as bigint), bit)")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
        .cast("bigint")
        .alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints via bit-band LSH.

    Candidate generation mirrors ``minhash_lsh_pairs``: the ``bits``-bit
    fingerprint splits into ``bands`` contiguous bit-bands; two docs become
    candidates iff at least one whole band is equal. By pigeonhole this
    finds EVERY pair with hamming distance < ``bands`` (a distance-d pair
    differs in ≤ d bands), so with max_hamming < bands the verification is
    exhaustive, not approximate. Verification computes exact hamming on
    candidates only — cost ∝ Σ band-bucket², never corpus².

    Returns (id_a, id_b, hamming int), id_a < id_b, hamming ≤ max_hamming.
    """
    # fingerprint feeds the band stack and both verification sides
    sig = _persist(simhash(df, text_col, id_col, bits))
    return hamming_lsh_pairs(sig, "simhash", bits, bands, max_hamming)


def hamming_lsh_pairs(
    sig: DataFrame, hash_col: str, bits: int, bands: int, max_hamming: int
) -> DataFrame:
    """Bit-band Hamming LSH over an (id, ``hash_col``) frame of ``bits``-bit
    integer fingerprints: stack the ``bands`` contiguous bit-bands, self-join
    on (band_idx, band_key), keep distinct id_a < id_b candidates and verify
    them with exact ``bit_count(a ^ b) <= max_hamming``. The one plan behind
    :func:`simhash_pairs` and the dHash pair finders in
    ``multimodal_dedup`` and ``crossmodal``.

    Returns (id_a, id_b, hamming int).
    """
    # ValueError, not assert: these are caller-facing contract checks and
    # must survive `python -O` (asserts vanish → silently non-exhaustive
    # pair sets); matches the sibling validators in audit.k_anonymity.
    if bits % bands != 0:
        raise ValueError(f"bands must divide {bits}, got {bands}")
    if max_hamming >= bands:
        raise ValueError(
            f"exhaustiveness needs max_hamming < bands (pigeonhole); "
            f"got max_hamming={max_hamming}, bands={bands}"
        )
    width = bits // bands
    mask = (1 << width) - 1
    stacked = sig.selectExpr(
        "id",
        "stack({}, {}) as (band_idx, band_key)".format(
            bands,
            ", ".join(
                # & mask truncates the arithmetic sign-extension of
                # shiftright on negative hashes
                f"{b}, (shiftright({hash_col}, {b * width}) & {mask})"
                for b in range(bands)
            ),
        ),
    )
    a, b = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col("id").alias("id_a"), F.col(hash_col).alias("__ha"))
    sb = sig.select(F.col("id").alias("id_b"), F.col(hash_col).alias("__hb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("hamming", F.expr("cast(bit_count(__ha ^ __hb) as int)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id).

    ``cluster_id`` is the minimum member id of each component; docs with no
    near-dup edge form singleton clusters. This is the step after pair
    generation in a dedup pipeline: pairs only say "a≈b"; keeping one doc
    per *transitive* group needs components (a≈b, b≈c ⇒ {a,b,c} even when
    a≉c directly).

    Algorithm: min-label propagation. Each round every vertex takes the min
    of its own label and its neighbors' labels — converges in
    O(max component diameter) rounds, which for near-dup graphs is tiny
    (clusters are near-cliques). Per round: one shuffle join edges⋈labels +
    one groupBy min; labels are localCheckpoint'ed so lineage (and plan
    size) stays constant across iterations — the standard Spark iterative-
    algorithm discipline. Driver-side only the convergence sum is read,
    observed while each round's checkpoint runs (no aggregate job of its
    own); vertex/edge data never leaves the cluster.

    Scale shape: the loop runs over V(E) — only vertices incident to at
    least one edge — not the full corpus. Non-duplicate docs (the vast
    majority at 100 TB; dup rate is typically single-digit %) never enter
    an iteration; they label themselves in one final left join. Per-round
    cost is therefore ∝ |E|, independent of corpus size.

    Partitioning is the session's: every exchange in the loop is sized
    by ``spark.sql.shuffle.partitions`` and AQE coalescing, which a
    large deployment raises (session.py) rather than this operator
    choosing its own count. (The r8 md5-payload trick does not apply
    here: the loop already carries only (bigint, bigint) tuples — 16
    bytes — so there is nothing wider to hash down.)
    """
    # persist the pair list BEFORE symmetrizing: the union's two branches
    # share one cached evaluation of the (expensive) pair-generation plan
    # instead of computing it twice
    e = _persist(pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    edges = _persist(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    # Round 1 is join-free: the initial labelling is the identity map,
    # so the first round's neighbor-min is just min(dst) per src (plus
    # the vertex's own id via its implicit self-loop) — fold it into
    # label INITIALIZATION as one |E|-row groupBy. The former shape
    # materialized identity labels (a distinct + checkpoint) and then
    # paid a full edges⋈labels join for round 1 (r12-opt: one join
    # round removed from every dup_clusters call).
    labels = edges.groupBy("src").agg(F.min("dst").alias("__nmin")).select(
        F.col("src").alias("id"),
        F.least(F.col("src"), F.col("__nmin")).alias("label"),
    )
    # Convergence detection: labels are monotone non-increasing (the min
    # always includes the vertex's own label via its self-loop), so the
    # labelling is a fixed point iff Σ labels is unchanged from the
    # previous round. The sum is observed on the frame each round
    # checkpoints, so it rides that checkpoint's job instead of costing
    # a separate aggregate job per round; a NULL sum means an empty edge
    # relation. DECIMAL(38,0) keeps the sum exact at any vertex count /
    # id range. The sum test is only sound when the decimal cast is
    # lossless, i.e. the id type is integral: a non-numeric id (string
    # doc ids) would cast to NULL, the sum would read NULL, and the
    # NULL-means-empty branch below would silently return the round-1
    # partial labelling — exactly the silent-partial failure this
    # function must never emit (r12 ADVICE, medium). Fail loud up front
    # instead, before the first observed checkpoint casts the ids.
    _label_t = labels.schema["label"].dataType.simpleString()
    if _label_t not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            "dup_clusters requires an integral id column for the exact "
            f"label-sum convergence test; got {id_col}: {_label_t}. "
            "Map string/other ids to bigint (e.g. dense ids or xxhash64) "
            "before clustering."
        )

    def _checkpoint_with_sum(frame):
        obs = Observation()
        out = frame.observe(
            obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).localCheckpoint()
        return out, obs.get["s"]

    labels, prev_sum = _checkpoint_with_sum(labels)
    # Self-loops fold the "keep own label" term into the neighbor min:
    # new_label(s) = min over {labels[d] : (s,d) ∈ edges ∪ self-loops},
    # so each round is ONE join + ONE groupBy — the former formulation's
    # per-round left join of labels against the neighbor mins (and the
    # carried __old column) is gone (r12: one exchange fewer per round
    # on the loop that dominates this operator's bench time).
    edges_self = _persist(
        edges.union(labels.select(F.col("id").alias("src"), F.col("id").alias("dst")))
    )
    # Plain min-label propagation converges in O(component diameter)
    # rounds — tiny for near-clique dup graphs, but a PATH-shaped
    # component (e.g. a drift chain a≈b≈c≈…) needs diameter rounds and
    # used to exhaust max_iter SILENTLY with wrong partial labels
    # (measured on the dupheavy axis before the LSH oversize policy
    # became a star). After ``_SHORTCUT_AFTER`` plain rounds the loop
    # adds pointer-doubling (label := label of label, one extra
    # id-keyed join per round), which cuts remaining convergence to
    # O(log diameter); the common fast case never pays for it.
    _SHORTCUT_AFTER = 8
    converged = prev_sum is None  # empty edge relation → nothing to do
    for i in range(max_iter):
        if converged:
            break
        stepped = (
            edges_self.join(labels, edges_self.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .select(F.col("src").alias("id"), "label")
        )
        if i >= _SHORTCUT_AFTER:
            # pointer doubling: a label is always some vertex's id, so
            # re-resolve each label through the current labelling
            lut = stepped.select(
                F.col("id").alias("__lid"), F.col("label").alias("__llbl")
            )
            stepped = stepped.join(
                lut, stepped.label == F.col("__lid"), "left"
            ).select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("__llbl"), F.col("label"))
                ).alias("label"),
            )
        labels, s = _checkpoint_with_sum(stepped)
        converged = s == prev_sum
        prev_sum = s
    edges.unpersist()
    edges_self.unpersist()
    if not converged:
        # a silent partial labelling is a WRONG dedup answer — fail loud
        raise RuntimeError(
            f"dup_clusters did not converge within max_iter={max_iter} "
            "rounds (pointer-doubling engaged after "
            f"{_SHORTCUT_AFTER}); raise max_iter"
        )
    # singletons (no incident edge) label themselves — one left join at the
    # end; the iterated frame above never contained them
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(labels, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("label"), F.col("id")).alias("cluster_id"),
    )


def cluster_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Quality-argmax survivor selection per NEAR-DUP CLUSTER — the
    cluster-level form of :func:`exact_dedup_keep_best` (the
    FineWeb/RefinedWeb curation rule applied where it actually binds:
    a near-dup family is a transitive group, and greedy pairwise drops
    like dedup_apply's keep-lowest-id can discard the best copy).

    Pipeline: connected components over the near-dup ``pairs``
    (:func:`dup_clusters` — min-label propagation with pointer
    doubling), then one groupBy on the cluster id with the argmax
    riding ``min(struct(-score, id))`` — no window, no join-back.
    Ties break to the lowest id; a NULL score loses to any real score
    (−1 coalesce, the keep_best contract). Singleton clusters keep
    themselves, so the output is the full survivor manifest:
    (cluster_id, keep_id, n_members, best_score).

    100 TB shape: inherits dup_clusters' V(E)-bounded propagation; the
    keep pass adds ONE map-side-combining groupBy on the cluster id
    carrying (bigint, bigint, bigint) rows.
    """
    comps = dup_clusters(df, pairs, id_col)
    scored = comps.join(df.select(F.col(id_col), F.col(score_col).alias("__q")), id_col)
    return keep_best_by(scored, ["cluster_id"], id_col, "__q", keep_by=True)


def contamination_pairs(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_common: int = 5,
) -> DataFrame:
    """Train/test decontamination: (a_id, b_id, n_common) for cross-corpus
    document pairs sharing ≥ ``min_common`` distinct word n-grams.

    The standard eval-leakage check before a training run: corpus_a =
    training shards, corpus_b = benchmark/eval sets. Same inverted-index
    shape as ngram_jaccard_pairs but joining A-postings to B-postings
    (never A×A or B×B), so cost ∝ Σ_shingle df_A × df_B — and corpus_b is
    typically tiny (eval sets), which keeps the build side broadcastable.
    Filtering to a count threshold rather than a Jaccard ratio is
    deliberate: a 50-token leak inside a 10k-token training doc has
    negligible Jaccard but is still contamination.
    """
    sh_a = shingle_postings(corpus_a, text_col, [F.col(id_col).alias("a_id")], n)
    sh_b = shingle_postings(corpus_b, text_col, [F.col(id_col).alias("b_id")], n)
    return (
        sh_a.join(sh_b, "h")
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def exact_dedup_incremental(
    new_df: DataFrame,
    seen_hashes: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup — the production shape: each arriving batch
    dedups against the ACCUMULATED corpus without ever rescanning it.

    ``seen_hashes`` is the running ledger, one ``__h`` (md5) column
    (16 bytes/doc — at 100 TB of text this ledger is GBs, joinable, and
    the only state the pipeline carries). Returns ``(kept, new_ledger)``:
    rows of ``new_df`` that are new both against the ledger AND within the
    batch (min-id winner), and the ledger including this batch's hashes.

    Plan: one anti-join against the ledger (hash-keyed shuffle or
    broadcast when small) + the intra-batch min-id groupBy — per-batch
    cost is O(batch + matching ledger partitions), never O(corpus).
    """
    c = normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    hashed = _persist(new_df.withColumn("__h", F.md5(c)))
    if seen_hashes is not None:
        fresh = hashed.join(seen_hashes, "__h", "left_anti")
    else:
        fresh = hashed
    keep = fresh.groupBy("__h").agg(F.min(id_col).alias(id_col))
    kept = fresh.join(keep, ["__h", id_col], "left_semi").drop("__h")
    batch_hashes = hashed.select("__h").distinct()
    new_ledger = (
        seen_hashes.unionByName(batch_hashes).distinct()
        if seen_hashes is not None
        else batch_hashes
    )
    return kept, new_ledger


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    stride: int = 32,
) -> DataFrame:
    """Stride-window exact-substring duplication report (the tractable
    approximation of Lee et al. 2022's suffix-array substring dedup).

    Documents are cut into ``window``-token spans every ``stride`` tokens;
    a span occurring anywhere earlier in the corpus (first occurrence =
    lowest (doc id, span index)) marks the later copies as duplicated.
    Output per doc: (id, n_spans, n_dup_spans, dup_span_ratio) — the
    signal used to drop or trim documents that embed copied passages too
    short for doc-level dedup and too long to ignore.

    Plan: one tokenize pass → span explode (rows ∝ corpus tokens/stride)
    → md5-keyed groupBy-min winner (map-side combine absorbs hot spans) →
    hash join back → per-doc aggregate. Same two-narrow-shuffle shape as
    paragraph_dedup; only 16-byte hashes and (id, idx) pairs cross the
    wide exchanges.
    """
    staged = tokenize_once(df, text_col, [F.col(id_col).alias("__id")])
    spans = (
        staged.select(
            "__id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, greatest(cast(ceil(size(toks) / {stride}.0)"
                    f" as int) - 1, 0)), i -> concat_ws(' ', slice(toks,"
                    f" i * {stride} + 1, {window})))"
                )
            ).alias("span_idx", "span"),
        )
        .filter(F.col("span") != "")
    )
    hashed = spans.select(
        "__id", "span_idx", F.md5(F.col("span")).alias("__h")
    )
    winners = hashed.groupBy("__h").agg(
        F.min(
            F.struct(F.col("__id").alias("i"), F.col("span_idx").alias("p"))
        ).alias("w")
    )
    ln = hashed.join(winners, "__h")
    dup = (F.col("__id") != F.col("w.i")) | (F.col("span_idx") != F.col("w.p"))
    return (
        ln.groupBy("__id")
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.sum(dup.cast("long")).cast("bigint").alias("n_dup_spans"),
            half_up_round(
                F.sum(dup.cast("long")) / F.count("*"), 6
            ).alias("dup_span_ratio"),
        )
        .withColumnRenamed("__id", id_col)
    )


def minhash_band_ledger(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(band_idx, band_key, id) LSH state for :func:`minhash_lsh_incremental`.

    The carried near-dup ledger: ``bands`` md5 keys per doc (~36 bytes
    each) — the only state an incremental near-dup pipeline needs, and
    ~constant per doc regardless of document length. Contrast with keeping
    postings (∝ doc length) or re-banding the corpus every batch.
    """
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    return _minhash_bands(sig, num_hashes, bands).select("band_idx", "band_key", "id")


def minhash_lsh_incremental(
    new_df: DataFrame,
    band_ledger: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Incremental MinHash-LSH near-dup candidates — the near-dup twin of
    :func:`exact_dedup_incremental`: each arriving batch is banded once and
    checked against the accumulated band ledger, never against raw corpus
    text.

    Returns ``(pairs, new_ledger)``: candidate pairs (id_a < id_b) between
    batch docs and ledger docs PLUS within the batch, and the ledger
    including this batch. Candidates-only by design: at 100 TB the exact-
    Jaccard verification joins postings (∝ corpus text) — production
    pipelines verify lazily by fetching just the candidate docs, keeping
    carried state at ~36 bytes × bands per doc. Per-batch cost is
    O(batch × matching buckets), never O(corpus).
    """
    # NOT persisted (r12 A/B: 1.74 s vs 2.25 s cached): the band-key
    # subtree's references all end in the identical exchange shape and
    # AQE stage reuse covers them
    batch = minhash_band_ledger(new_df, text_col, id_col, n, num_hashes, bands)
    a = batch.alias("a")
    intra = (
        a.join(
            batch.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if band_ledger is not None:
        vs_corpus = (
            a.join(
                band_ledger.alias("l"),
                (F.col("a.band_idx") == F.col("l.band_idx"))
                & (F.col("a.band_key") == F.col("l.band_key"))
                & (F.col("a.id") != F.col("l.id")),
            )
            .select(
                F.least(F.col("a.id"), F.col("l.id")).alias("id_a"),
                F.greatest(F.col("a.id"), F.col("l.id")).alias("id_b"),
            )
        )
        pairs = intra.unionByName(vs_corpus).distinct()
        new_ledger = band_ledger.unionByName(batch)
    else:
        pairs = intra.distinct()
        new_ledger = batch
    return pairs, new_ledger


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Sub-document dedup at paragraph granularity (the CCNet/Dolma pass,
    after Lee et al. 2022): every paragraph that occurs more than once
    corpus-wide is kept ONLY at its first occurrence — lowest (doc id,
    position) — and removed everywhere else; documents are reassembled
    from their surviving paragraphs in order.

    Distinct from :func:`text_analysis.boilerplate_strip`: that drops
    high-df lines EVERYWHERE (nobody keeps a cookie banner); this keeps
    exactly one canonical copy (news wire stories, quoted passages —
    content that should survive once).

    Output: (id, dedup_text, n_paras_kept, n_paras_total).

    Plan: explode → md5-keyed groupBy-min for the winner (partial-agg
    combine, so a paragraph duplicated 10M× at 100 TB collapses map-side
    instead of sorting one hot window partition) → hash join back → one
    doc regroup. Two shuffles total, both narrow (16-byte hash keys).
    """
    import re as _re

    paras = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "pos", "para"
        ),
    )
    hashed = paras.withColumn("__h", F.md5(F.col("para")))
    winners = hashed.groupBy("__h").agg(
        F.min(F.struct(F.col("__id").alias("i"), F.col("pos").alias("p"))).alias("w")
    )
    ln = hashed.join(winners, "__h")
    keep = (F.col("__id") == F.col("w.i")) & (F.col("pos") == F.col("w.p"))
    assembled = F.concat_ws(
        sep,
        F.transform(
            F.filter(
                F.array_sort(
                    F.collect_list(F.struct("pos", "para", keep.alias("keep")))
                ),
                lambda s: s.keep,
            ),
            lambda s: s.para,
        ),
    )
    return ln.groupBy("__id").agg(
        assembled.alias("dedup_text"),
        F.sum(keep.cast("long")).cast("bigint").alias("n_paras_kept"),
        F.count("*").cast("bigint").alias("n_paras_total"),
    ).withColumnRenamed("__id", id_col)


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking over token hashes — the rsync/LBFS
    storage-dedup primitive applied to text: a token STARTS a new chunk
    when its md5 begins with nibble ``0`` (1/16 boundary rate → ~16-token
    expected chunks). Because boundaries depend only on local content,
    chunking is SHIFT-RESISTANT: inserting one word near the front of a
    document re-synchronizes at the next boundary, so all later chunks —
    and their hashes — are unchanged, where fixed-stride windows
    (``span_dedup``/``chunk_tokens``) shift every downstream window. This
    is the right chunking for delta storage of corpus snapshots and for
    finding shared passages between edited document revisions.

    Returns one row per (doc, chunk): (id, chunk_idx, n_chunk_tokens,
    chunk_hash, n_docs_with_chunk).

    Plan: one tokenize pass → posexplode (rows ∝ corpus tokens) → per-doc
    running boundary count (window PARTITIONED BY doc — keyed, never
    global) → groupBy (doc, chunk) reassembly via sorted struct collect →
    chunk-hash groupBy for the sharing counts → hash join back. All wide
    exchanges carry (id, ints) or 16-byte hashes plus single tokens; the
    document text never shuffles whole.
    """
    from pyspark.sql import Window

    staged = tokenize_once(df, text_col, [F.col(id_col).alias("__id")])
    toks = staged.select(
        "__id", F.posexplode("toks").alias("pos", "tok")
    )
    is_boundary = (F.substring(F.md5("tok"), 1, 1) == "0").cast("long")
    w = (
        Window.partitionBy("__id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = toks.select(
        "__id", "pos", "tok", F.sum(is_boundary).over(w).alias("chunk_idx")
    )
    chunks = (
        marked.groupBy("__id", "chunk_idx")
        .agg(
            F.count("*").alias("n_chunk_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("__chunk_text"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.col("n_chunk_tokens").cast("bigint").alias("n_chunk_tokens"),
            F.md5("__chunk_text").alias("chunk_hash"),
        )
    )
    chunks = _persist(chunks)
    sharing = chunks.groupBy("chunk_hash").agg(
        F.count_distinct(id_col).alias("n_docs_with_chunk")
    )
    return chunks.join(sharing, "chunk_hash").select(
        id_col,
        "chunk_idx",
        "n_chunk_tokens",
        "chunk_hash",
        F.col("n_docs_with_chunk").cast("bigint").alias("n_docs_with_chunk"),
    )


def ngram_dup_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document duplicated n-gram fraction — the corpus-overlap audit
    ("What's In My Big Data?" / Dolma-style): for each doc, the fraction
    of its DISTINCT word n-grams that also occur in at least one OTHER
    document. High fractions flag boilerplate-heavy or near-duplicate
    docs that exact/MinHash dedup missed, and the corpus-level mean is
    the standard memorization-risk headline number.

    Plan: one shingle pass (inverted-index postings), shingles md5-hashed
    BEFORE the document-frequency aggregate and the join back — every
    shuffle carries (16-byte hash) or (id, hash) pairs, never shingle
    text (the exact-dedup discipline; text-keyed exchanges at 100 TB are
    the difference between shuffling ~50 bytes/shingle and 16). df
    counts docs, not occurrences: postings are per-doc DISTINCT by
    construction (word_shingles array_distinct). Docs with < n tokens
    have no shingles and are absent, same as the oracle's GROUP BY.
    """
    post = _persist(shingle_postings(df, text_col, [F.col(id_col).alias("id")], n))
    dfreq = post.groupBy("h").agg(F.count("*").alias("dfr"))
    per = (
        post.join(dfreq, "h")
        .groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("dfr") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_shingles"),
        )
    )
    return per.select(
        F.col("id").alias(id_col),
        "n_shingles",
        "n_dup_shingles",
        half_up_round(F.col("n_dup_shingles") / F.col("n_shingles"), 6).alias(
            "dup_fraction"
        ),
    )


def edit_distance_verify(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = False,
) -> DataFrame:
    """Exact edit-distance verification of near-dup CANDIDATE pairs:
    Levenshtein distance + length-normalized similarity
    1 − dist/max(len) per (id_a, id_b) — the final exact-verify stage
    after a bucketed candidate generator (LSH / n-gram), catching the
    false positives shingle overlap lets through.

    ``normalize=True`` measures the distance over ``normalize_text``'d
    documents (lowercase-fold, non-alphanumerics to space, collapsed
    whitespace) — the usual ER contract, and the CROSS-ENGINE-EXACT
    one: Spark's levenshtein counts CODEPOINTS while DuckDB's counts
    BYTES (measured: lev('é','e') = 1 vs 2 — SCALE.md round-9 unicode
    axis), so raw-mode distances agree only on ASCII text; normalized
    text is pure ASCII by construction, where byte == codepoint. Raw
    mode (default) keeps the engine-native codepoint distance for
    library users; the graded catalog entry pins normalize=True.

    100 TB discipline: Levenshtein is O(len_a·len_b) per pair, so this
    operator must ONLY ever run on candidate pairs (thousands), never be
    the pair generator itself — the same contract as simhash_pairs'
    exact-verify leg. The distance is an exact integer, so the oracle
    replays it directly.
    """
    from dbt_glue_spark.functions.scalars import half_up_round

    t = (
        normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    )
    a = docs.select(F.col(id_col).alias("id_a"), t.alias("__ta"))
    b = docs.select(F.col(id_col).alias("id_b"), t.alias("__tb"))
    j = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    dist = F.levenshtein(F.col("__ta"), F.col("__tb"))
    glen = F.greatest(F.length("__ta"), F.length("__tb"))
    # both sides empty (possible under normalize=True when a candidate
    # pair is all-non-alphanumeric) → identical ⇒ similarity 1, not 0/0
    sim = F.when(
        glen > 0, F.lit(1.0) - dist.cast("double") / glen.cast("double")
    ).otherwise(F.lit(1.0))
    return j.select(
        "id_a",
        "id_b",
        dist.cast("bigint").alias("edit_distance"),
        half_up_round(sim, 6).alias("norm_sim"),
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: tuple[int, int] = (1, 2),
) -> DataFrame:
    """EXACT all-pairs shingle-Jaccard ≥ p/q via prefix filtering — the
    lossless scale path for set-similarity joins (SSJoin/PPJoin family,
    Chaudhuri et al. ICDE'06, Xiao et al. WWW'08), complementing the
    probabilistic MinHash LSH route: no false negatives, no banding
    tuning, exact integer threshold semantics.

    Prefix-filter lemma: order all shingles by one global total order
    (rarest document-frequency first — the order that shrinks candidate
    lists hardest); Jaccard(A,B) ≥ t implies |A∩B| ≥ ⌈t·|A|⌉ and
    ≥ ⌈t·|B|⌉, hence the GLOBALLY SMALLEST common shingle must sit inside
    both docs' (|·| − ⌈t·|·|⌉ + 1)-prefixes — so joining prefixes alone
    generates every qualifying pair. A 0.5-threshold join probes ~half of
    each doc's shingles instead of all of them, and the rare-first order
    means the probed postings lists are the SHORT ones.

    Everything on the oracle boundary is integer-exact: the threshold is
    a rational p/q, prefix length = n_sh − (p·n_sh + q − 1) div q + 1,
    and the final filter is the cross-multiplied
    c·q ≥ p·(n_a + n_b − c). The reported ``jaccard`` is the one
    half-up-rounded division shared with ngram_jaccard_pairs.

    100 TB shape: candidate generation joins PREFIX postings only — the
    pass whose cost is Σ df² per shingle, i.e. the one that explodes on a
    heavy-tailed corpus if run over FULL postings — and applies the
    length filter in the same join (J ≥ p/q forces
    p·max(n_a,n_b) ≤ q·min(n_a,n_b), so wildly different-sized docs never
    become candidates). Exact verification is candidate-bounded: each
    candidate pair expands by one doc's shingle list and probes an
    equi-key (id, shingle) hash join — cost Σ_cand |A|, never an
    all-pairs pass. The per-doc ranking window partitions BY DOC. No
    broadcast hints anywhere — sizes/frequency frames are
    corpus-proportional, AQE decides (the r5-verdict broadcast lesson).

    Measured trade-off (SCALE.md round-6): on the benign-df synthetic
    sf0.1 corpus the naive full inverted join is ~2.5× faster — prefix
    filtering pays a dfreq pass + per-doc ranking that only amortizes
    when stop-shingles make Σ df² explode. This operator is the
    heavy-tail/large-corpus exact path; ngram_jaccard_pairs remains the
    small-benign-corpus tool, minhash_lsh_pairs the probabilistic route.

    Output: id_a < id_b, n_common, n_a, n_b (bigint), jaccard (double,
    half-up 6 dp).
    """
    p, q = threshold
    if not (0 < p <= q):
        raise ValueError(f"threshold must be a rational in (0, 1]: {threshold}")
    # one postings frame feeds the frequency pass, the ranking, and both
    # verification probes, so every shuffle carries the 16-byte hash. The
    # prefix lemma needs only a CONSISTENT global total order; rarest-df
    # first with hash tiebreak is one, so recall stays lossless.
    # NOT persisted (r12 A/B: 3.42 s vs 4.13 s cached): the postings
    # subtree is map-only codegen (tokenize+explode+md5); recomputing it
    # per consumer beats caching the exploded postings rows
    sh = shingle_postings(df, text_col, [F.col(id_col).alias("id")], n)
    sizes = sh.groupBy("id").agg(F.count("*").cast("bigint").alias("n_sh"))
    dfreq = sh.groupBy("h").agg(F.count("*").cast("bigint").alias("df_"))
    ranked = (
        sh.join(dfreq, "h")
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("id").orderBy("df_", "h")),
        )
        .join(sizes, "id")
    )
    pref = ranked.filter(
        F.col("rk")
        <= F.col("n_sh") - F.expr(f"({p} * n_sh + {q - 1}) DIV {q}") + F.lit(1)
    ).select("id", "n_sh", "h", "rk")
    # Candidate generation + POSITIONAL filter (PPJoin, Xiao et al.
    # WWW'08): the globally smallest common shingle m* of any
    # qualifying pair is in both prefixes (prefix lemma), and every
    # common shingle ranks ≥ m* in both docs, so
    # c ≤ min(n_a − rk_a(m*) + 1, n_b − rk_b(m*) + 1). Lossless and
    # integer-exact: J ≥ p/q ⟺ c·(p+q) ≥ p·(n_a+n_b), so pairs whose
    # ubound fails that are discarded BEFORE the expensive
    # verification expand (m* minimizes both ranks at once, hence the
    # min() aggregates). Measured sf0.1: 310k → far fewer candidates
    # for identical output.
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: lossless, prunes size-incompatible pairs
            & (
                F.lit(p) * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
                <= F.lit(q) * F.least(F.col("a.n_sh"), F.col("b.n_sh"))
            ),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
            F.col("a.rk").alias("__rka"),
            F.col("b.rk").alias("__rkb"),
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.min("__rka").alias("__rka"), F.min("__rkb").alias("__rkb"))
        .filter(
            F.least(
                F.col("n_a") - F.col("__rka") + 1,
                F.col("n_b") - F.col("__rkb") + 1,
            )
            * F.lit(p + q)
            >= F.lit(p) * (F.col("n_a") + F.col("n_b"))
        )
        .drop("__rka", "__rkb")
    )
    verified = (
        cand.join(sh.select(F.col("id").alias("id_a"), "h"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "h"), ["id_b", "h"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
        .filter(
            F.col("n_common") * F.lit(q)
            >= F.lit(p) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        "n_common",
        "n_a",
        "n_b",
        jaccard("n_common", "n_a", "n_b").alias("jaccard"),
    )


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 16,
) -> DataFrame:
    """Stride-1 exact-substring duplication coverage — the full Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") ExactSubstr shape, alignment-free, as a distributed
    seed-and-merge instead of a suffix array.

    Any substring of ≥ ``min_len`` tokens duplicated anywhere in the
    corpus contains at least one full ``min_len``-token window at SOME
    stride-1 position, so marking every position whose window recurs
    corpus-wide (first occurrence = lowest (doc id, position) stays
    clean, matching :func:`span_dedup`'s convention) and merging the
    per-doc seed intervals [pos, pos+L-1] yields the EXACT set of
    duplicated tokens — what the suffix array computes, without the
    global suffix sort. Complements :func:`span_dedup` (stride=window
    boundary-aligned spans miss duplicates shifted by one token) and CDC
    chunking (content-defined boundaries, approximate coverage).

    Interval union uses the equal-length-interval property: seeds sorted
    by position have monotone interval ends, so an island breaks exactly
    when ``pos - lag(pos) > L`` — one per-doc-keyed lag + running sum,
    never a global window. Coverage per island = max(pos)-min(pos)+L.

    100 TB shape: the seed explode is ∝ corpus TOKENS (the honest cost
    of ExactSubstr — a suffix array is also O(tokens)); only
    (id, pos, md5) triples cross the one wide exchange (md5-keyed
    groupBy-min with map-side combine, so a passage duplicated 10M×
    collapses per-partition), and both island windows are doc-keyed.
    Both engines compute the same md5, so parity is exact by
    construction (house convention, same as span_dedup). For a cheaper
    screen use span_dedup; this operator is the exact-coverage pass run
    on what the screen flags.

    Output per doc (docs with ≥1 token): id, n_tokens, n_seeds,
    n_dup_seeds, n_islands, dup_tokens, dup_token_ratio (6 dp,
    dup_tokens / n_tokens).
    """
    L = int(min_len)
    if L < 2:
        raise ValueError(f"min_len must be >= 2: {min_len}")
    staged = tokenize_once(df, text_col, [F.col(id_col).alias("__id")])
    # NOT persisted: base's second consumer (the final per-doc join)
    # prunes to (__id, n_tokens), so recomputing it is one cheap pruned
    # pass — caching the toks arrays was measured SLOWER (r12 A/B:
    # 2.50 s cached vs 2.11 s not)
    base = staged.select(
        "__id", "toks", F.size("toks").cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") >= 1)
    seeds = base.select(
        "__id",
        "n_tokens",
        F.posexplode(
            # sequence(1, 0) DESCENDS in Spark — short docs need the
            # explicit empty-array branch, not a greatest() clamp
            F.expr(
                f"transform(if(size(toks) >= {L},"
                f" sequence(1, size(toks) - {L} + 1),"
                f" cast(array() as array<int>)),"
                f" i -> unhex(md5(concat_ws(' ', slice(toks, i, {L})))))"
            )
        ).alias("__i0", "__h"),
    ).select("__id", "n_tokens", (F.col("__i0") + 1).alias("pos"), "__h")
    # The first-occurrence winner per window hash is a min(struct) OVER
    # a __h-partitioned window instead of the former groupBy + join-back:
    # the seed explode (the expensive md5-per-position pass) runs ONCE
    # and crosses ONE exchange, where the agg+join form computed the
    # seed subtree twice and shuffled it twice (guide §2.4: share the
    # exchange). Identical semantics: min(struct(id, pos)) over all
    # rows sharing __h.
    wh = Window.partitionBy("__h")
    w = F.min(
        F.struct(F.col("__id").alias("i"), F.col("pos").alias("p"))
    ).over(wh)
    # NOT persisted: marked's two consumers (island path, per-doc
    # census) sit on the identical Exchange(__h)+Window subtree, which
    # AQE stage reuse executes once (r12 A/B: caching read 2.50 s vs
    # 2.11 s not — the window-once restructure is the win, not a cache)
    marked = seeds.select("__id", "n_tokens", "pos", w.alias("__w")).select(
        "__id",
        "n_tokens",
        "pos",
        (
            (F.col("__id") != F.col("__w.i")) | (F.col("pos") != F.col("__w.p"))
        ).alias("__dup"),
    )
    dups = marked.filter(F.col("__dup"))
    wd = Window.partitionBy("__id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(wd) <= L, F.lit(0)
    ).otherwise(F.lit(1))
    isl = dups.select(
        "__id", "pos", brk.alias("__brk")
    ).select(
        "__id",
        "pos",
        F.sum("__brk").over(wd.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "__isl"
        ),
    )
    cov = (
        isl.groupBy("__id", "__isl")
        .agg((F.max("pos") - F.min("pos") + L).cast("bigint").alias("__cov"))
        .groupBy("__id")
        .agg(
            F.count("*").cast("bigint").alias("n_islands"),
            F.sum("__cov").cast("bigint").alias("dup_tokens"),
        )
    )
    per_doc = marked.groupBy("__id", "n_tokens").agg(
        F.count("*").cast("bigint").alias("n_seeds"),
        F.sum(F.col("__dup").cast("long")).cast("bigint").alias("n_dup_seeds"),
    )
    return (
        base.select("__id", "n_tokens")
        .join(per_doc.drop("n_tokens"), "__id", "left")
        .join(cov, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            F.coalesce("n_seeds", F.lit(0)).cast("bigint").alias("n_seeds"),
            F.coalesce("n_dup_seeds", F.lit(0)).cast("bigint").alias("n_dup_seeds"),
            F.coalesce("n_islands", F.lit(0)).cast("bigint").alias("n_islands"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            half_up_round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_token_ratio"),
        )
    )


def compact_band_ledger(
    ledger: DataFrame,
    doc_groups: DataFrame,
) -> DataFrame:
    """Compact a :func:`minhash_band_ledger` given resolved duplicate
    groups — the cross-run ledger-maintenance twin of D14's
    expire-snapshots: the incremental near-dup ledger
    (:func:`minhash_lsh_incremental`) grows ∝ total docs ever seen, but
    once a group of docs is KNOWN duplicated, carrying every member's
    band rows only multiplies future candidate pairs without adding
    recall.

    ``doc_groups`` maps ``id`` → ``leader`` (e.g. the min-id winner per
    exact-dup text hash, or a near-dup cluster representative). A
    non-leader's (band_idx, band_key) row is dropped IFF the leader
    carries the SAME key for that band — any future doc that would have
    matched the dropped row still matches the leader's identical row, so
    leader-mapped candidate recall is provably unchanged (gate:
    tests/test_span_interval_queries.py recall-preservation property). Rows
    whose key differs from the leader's (near-dups with partially
    different signatures) are KEPT — compaction never trades recall.
    Docs absent from ``doc_groups`` are untouched.

    100 TB shape: two band-keyed equi-joins (ledger × groups is
    id-keyed; leader-keys × ledger is (band_idx, leader)-keyed), no
    broadcast hints — group frames are corpus-proportional, AQE decides.
    Output: the compacted ledger, same (band_idx, band_key, id) schema.
    """
    g = doc_groups.select(
        F.col("id").alias("__gid"), F.col("leader").alias("__leader")
    )
    led = ledger.join(g, ledger["id"] == g["__gid"], "left").drop("__gid")
    leader_keys = (
        ledger.join(
            g.select(F.col("__leader").alias("__lid")).distinct(),
            ledger["id"] == F.col("__lid"),
            "left_semi",
        )
        .select(
            "band_idx",
            F.col("band_key").alias("__lkey"),
            F.col("id").alias("__lid"),
        )
    )
    joined = led.join(
        leader_keys,
        (led["band_idx"] == leader_keys["band_idx"])
        & (led["__leader"] == leader_keys["__lid"]),
        "left",
    )
    keep = (
        F.col("__leader").isNull()
        | (led["id"] == F.col("__leader"))
        | F.col("__lkey").isNull()
        | (led["band_key"] != F.col("__lkey"))
    )
    return joined.filter(keep).select(
        led["band_idx"], led["band_key"], led["id"]
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    group_col: str,
    sort_col: str,
    window: int = 4,
    prefix_len: int = 2,
) -> DataFrame:
    """Sorted-neighborhood method (SNM) candidate pairs — the classic
    entity-resolution blocking scheme (Hernández & Stolfo '95): sort all
    rows by a composite key, slide a window of ``window`` rows, emit
    every pair that co-occurs. Complements the set-similarity joins
    (minhash/prefix-Jaccard) with the ER shape: near-identical PREFIXES
    (names, titles, normalized openings) that token-set methods dilute
    when the tail differs.

    The key is (``group_col``, ``sort_col``, id) — NULLs coalesced to ''
    so both engines agree on placement; ties broken by id so the order
    (and hence the pair set) is a pure function of the data.

    100 TB shape: the global rank needs NO global window — rows bucket
    by (group, ``prefix_len``-char prefix of the sort key), which is
    order-consistent with the full key; per-bucket counts roll into
    exclusive prefix offsets on the small bucket frame (the only
    cross-bucket window, ≤ |alphabet|^prefix_len · n_groups rows); rank
    = offset + row_number within bucket. Pairing is a self-equi-join on
    floor(rank/window) blocks (each left row probes its own and the
    next block), so the candidate join is block-local — never a
    cartesian band scan. A hot prefix (natural-language 'th…') only
    widens its own bucket's row_number partition; raise ``prefix_len``
    to split it.

    Output: (id_a, id_b, rank_gap) with id_a's rank < id_b's,
    0 < rank_gap < window.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2: {window}")
    if prefix_len < 1:
        raise ValueError(f"prefix_len must be >= 1: {prefix_len}")
    base = df.select(
        F.col(id_col).alias("__id"),
        F.coalesce(F.col(group_col).cast("string"), F.lit("")).alias("__g"),
        F.coalesce(F.col(sort_col).cast("string"), F.lit("")).alias("__s"),
    ).withColumn("__bk", F.substring(F.col("__s"), 1, prefix_len))
    counts = base.groupBy("__g", "__bk").agg(F.count("*").alias("__cnt"))
    # the ONLY cross-bucket window: exclusive prefix sum over the bucket
    # frame (one row per (group, prefix) — alphabet-bounded, not
    # corpus-proportional)
    wb = Window.orderBy("__g", "__bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__g",
        "__bk",
        F.coalesce(F.sum("__cnt").over(wb), F.lit(0)).alias("__off"),
    )
    wr = Window.partitionBy("__g", "__bk").orderBy("__s", "__id")
    ranked = _persist(
        base.join(offsets, ["__g", "__bk"]).select(
            "__id",
            (F.row_number().over(wr) + F.col("__off")).alias("__r"),
        )
    )
    left = ranked.select(
        F.col("__id").alias("id_a"),
        F.col("__r").alias("__ra"),
        F.explode(
            F.array(
                F.floor(F.col("__r") / window),
                F.floor(F.col("__r") / window) + 1,
            )
        ).alias("__blk"),
    )
    right = ranked.select(
        F.col("__id").alias("id_b"),
        F.col("__r").alias("__rb"),
        F.floor(F.col("__r") / window).alias("__blk"),
    )
    gap = F.col("__rb") - F.col("__ra")
    return (
        left.join(right, "__blk")
        .filter((gap > 0) & (gap < window))
        .select("id_a", "id_b", gap.cast("bigint").alias("rank_gap"))
    )


def contamination_ledger(
    eval_corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Build (or extend, via :func:`extend_contamination_ledger`) the
    persisted eval-side state for CROSS-RUN decontamination: the
    distinct (shingle, b_id) posting list of the benchmark/eval corpus.

    :func:`contamination_pairs` is one-shot — every training run
    re-scans the eval sets. Production pipelines instead carry this
    ledger (the ``minhash_band_ledger`` pattern applied to exact
    n-gram postings): build once per eval-suite release, check each
    arriving training batch against it, and never touch the eval text
    again. Eval suites are tiny (thousands of docs), so the ledger is
    MBs — broadcastable at any training-corpus scale.

    Postings carry the md5 of the shingle, not the text: the ledger
    row is (b_id, 16-byte hash ``h``) — the :func:`shingle_postings`
    frame — and the batch side hashes identically; collision
    probability over an eval suite's shingles is negligible.
    """
    return shingle_postings(
        eval_corpus, text_col, [F.col(id_col).alias("b_id")], n
    ).distinct()


def extend_contamination_ledger(
    ledger: DataFrame,
    new_evals: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Fold a newly released eval set into the ledger (same ``n`` as the
    build — mixing shingle widths would silently under-match). Pure
    union + distinct: the ledger stays the exact posting list of the
    union of eval corpora."""
    return ledger.unionByName(
        contamination_ledger(new_evals, text_col, id_col, n)
    ).distinct()


def contamination_check_incremental(
    train_batch: DataFrame,
    ledger: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_common: int = 5,
) -> DataFrame:
    """Check ONE training batch against the carried eval ledger:
    (a_id, b_id, n_common) for batch×eval pairs sharing ≥ ``min_common``
    distinct word n-grams — exactly :func:`contamination_pairs`'
    semantics (the union of per-batch results over a partition of the
    training corpus equals the one-shot pairs, since postings join
    row-independently and n_common counts distinct shingles of a fixed
    (a_id, b_id) pair — no cross-batch state exists).

    100 TB shape: per-batch cost ∝ batch postings × matching ledger
    postings; the ledger (eval-sized, MBs) is the natural broadcast
    side, so each batch is one scan + one broadcast-hash-join +
    a (a_id, b_id)-keyed partial-agg count — never a corpus-wide pass,
    never eval-text re-reads.
    """
    sh_a = shingle_postings(train_batch, text_col, [F.col(id_col).alias("a_id")], n)
    return (
        sh_a.join(ledger, "h")
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    min_shingles: int = 3,
    df_freq_cutoff: int | None = None,
) -> DataFrame:
    """Directional containment join (Broder's resemblance/containment
    pair): (id_a, id_b, n_common, n_a, n_b) for ordered pairs where
    C(a→b) = |Sₐ ∩ S_b| / |Sₐ| ≥ threshold — document a's shingles are
    mostly INSIDE b. The sub-document duplication detector Jaccard
    misses by construction: a 50-token quote fully contained in a
    10k-token article has near-zero Jaccard but containment ≈ 1, which
    is what excerpt/quotation dedup and sub-document eval contamination
    care about. Complements exact_substring_spans (verbatim runs) with
    the set-level, order-insensitive view.

    Exactness: the threshold compares n_common·den ≥ n_a·num — integer
    cross-multiplication, no float on the oracle boundary. Docs with
    fewer than ``min_shingles`` distinct shingles are excluded as the
    contained side (a 1-shingle doc is "contained" in anything that
    shares it — pure noise). Both directions are emitted when both
    qualify (the pair is ordered; id_a is the contained side).

    100 TB shape: the same inverted-index candidate join as
    ngram_jaccard_pairs — only docs sharing ≥ 1 shingle ever meet; a
    shingle with document frequency f costs f² join rows, so
    ``df_freq_cutoff`` (drop shingles with df > cutoff BEFORE the
    self-join) is the skew defense on boilerplate-heavy corpora, same
    trade as documented on ngram_jaccard_pairs/minhash's cap: frequent
    shingles carry no containment signal of their own.
    """
    if threshold_num < 0 or threshold_den < 1:
        raise ValueError(
            f"threshold must be num>=0, den>=1: {threshold_num}/{threshold_den}"
        )
    if min_shingles < 1:
        raise ValueError(f"min_shingles must be >= 1: {min_shingles}")
    sh = _persist(
        shingle_postings(df, text_col, [F.col(id_col).alias("id")], n, df_freq_cutoff)
    )
    sizes = sh.groupBy("id").agg(F.count("*").cast("bigint").alias("n_sh"))
    # each unordered pair is joined once; both orientations then face
    # the directional filter
    swapped = F.struct(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    inter = _posting_overlaps(sh).select(
        F.explode(F.array(F.struct("id_a", "id_b"), swapped)).alias("__p"), "n_common"
    ).select("__p.*", "n_common")
    return (
        inter.join(
            sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a"
        )
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .filter(
            (F.col("n_a") >= min_shingles)
            & (
                F.col("n_common") * F.lit(threshold_den)
                >= F.col("n_a") * F.lit(threshold_num)
            )
        )
        .select("id_a", "id_b", "n_common", "n_a", "n_b")
    )


def lsh_recall_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Recall audit of the banded MinHash-LSH candidate generation
    against the EXACT inverted-index ground truth at the same
    threshold — the number bands/hashes are tuned with (the dedup twin
    of similarity's ann recall audit): a corpus whose near-dup mass
    sits just above threshold loses recall first, and this measures it
    instead of trusting the 1-(1-s^r)^b curve.

    Because LSH pairs are exact-Jaccard VERIFIED, LSH ⊆ truth and
    precision is 1 by construction; the audit therefore reports
    n_true, n_found, n_missed and recall (exact integer ppm). With
    ``max_band_bucket`` set, the missing mass additionally includes the
    pairs an over-cap bucket gives up when it degrades to its O(bucket)
    star of connectivity links — run it with and without the cap to
    price the cap on YOUR corpus.

    100 TB shape: the truth side is the exact inverted join — this is
    an AUDIT you run on a sampled slice, not the production path (the
    production path is the LSH itself); both sides collapse to three
    counters before the 1-row result.
    """
    truth = ngram_jaccard_pairs(df, text_col, id_col, n, threshold).select(
        "id_a", "id_b"
    )
    found = minhash_lsh_pairs(
        df,
        text_col,
        id_col,
        n,
        num_hashes,
        bands,
        threshold,
        max_band_bucket=max_band_bucket,
    ).select("id_a", "id_b")
    hit = truth.join(found, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count("*").cast("bigint").alias("n_true"))
    h = hit.agg(F.count("*").cast("bigint").alias("n_found"))
    # two 1-row aggregates cross-joined — fully lazy, nothing driver-side
    return t.crossJoin(h).select(
        "n_true",
        "n_found",
        (F.col("n_true") - F.col("n_found")).cast("bigint").alias("n_missed"),
        F.when(
            F.col("n_true") > 0,
            F.expr("(CAST(n_found AS DECIMAL(38,0)) * 1000000) div n_true"),
        )
        .cast("bigint")
        .alias("recall_q6"),
    )


def line_dedup(
    lines: DataFrame,
    id_col: str = "doc_id",
    line_col: str = "line",
    max_doc_freq: int = 1,
) -> DataFrame:
    """Cross-document LINE-level dedup statistics (the CCNet / RefinedWeb
    pre-filter, Wenzek et al. 2020 §4.1): a line that appears in more
    than ``max_doc_freq`` DISTINCT documents is boilerplate (nav bars,
    cookie banners, license headers) and is dropped corpus-wide; the
    per-document survival statistics drive the downstream doc filter
    (RefinedWeb drops whole documents once dup-line mass passes a
    threshold).

    Input is the exploded (id, line) frame — the caller owns line
    construction (newline split for real corpora; the catalog entry
    word-chunks the synthetic single-line docs). NULL/empty lines are
    excluded (no content, no identity).

    Returns one row per document that contributed >= 1 line:
    (id, n_lines, n_dup_lines, kept_chars, dropped_chars,
    dup_line_ppm = ⌊10⁶·n_dup/n⌋). Repeated lines WITHIN one doc count
    once toward that line's document frequency but each occurrence is
    kept/dropped by the global verdict.

    100 TB shape: lines collapse to (md5, char length) immediately —
    the wide exchanges carry 16-byte keys, never line text (the r8
    map-side-md5 discipline); document frequency is one
    groupBy(md5)/countDistinct with partial aggregation; the verdict
    rejoins on md5 (AQE picks the strategy; the frequency side is
    |distinct lines| ≤ |lines|); the final per-doc rollup groups on the
    id. No window, no all-pairs anything — three key-bounded exchanges.
    Equal-md5 lines are treated as equal lines (the standard
    fingerprint contract shared with exact_dedup's text hashing).
    """
    if max_doc_freq < 1:
        raise ValueError(f"max_doc_freq must be >= 1: {max_doc_freq}")
    base = (
        lines.filter(
            F.col(line_col).isNotNull() & (F.col(line_col) != F.lit(""))
        )
        .select(
            F.col(id_col).cast("bigint").alias("__id"),
            F.md5(F.col(line_col).cast("string")).alias("__h"),
            F.length(F.col(line_col)).cast("bigint").alias("__chars"),
        )
    )
    freq = base.groupBy("__h").agg(
        F.countDistinct("__id").alias("__n_docs_line")
    )
    return (
        base.join(freq, "__h")
        .withColumn("__dup", F.col("__n_docs_line") > F.lit(max_doc_freq))
        .groupBy("__id")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("__dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_lines"),
            F.sum(F.when(~F.col("__dup"), F.col("__chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
            F.sum(F.when(F.col("__dup"), F.col("__chars")).otherwise(0))
            .cast("bigint")
            .alias("dropped_chars"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_lines",
            "n_dup_lines",
            "kept_chars",
            "dropped_chars",
            F.expr("(CAST(n_dup_lines AS DECIMAL(38,0)) * 1000000) div n_lines")
            .cast("bigint")
            .alias("dup_line_ppm"),
        )
    )
