"""Cross-modal pair operators: joint analysis over (caption, image) —
the one LLM-pipeline seam where the catalog has analysis on BOTH sides
(text dedup in ``dedup.py``, perceptual media dedup in
``multimodal_dedup.py``) but, before this tier, no JOINT operator.

The reference engine (aws-samples/dbt-glue) has no media layer; this
module covers what a paired multimodal corpus (image-caption, Laion/
DataComp-style) needs before training: the mislabeled-pair census
(captions diverging across a perceptual image class), the boilerplate-
caption census (one caption pasted across unrelated images), paired
dedup with CONSISTENT survivor selection (the text and image sides of a
pair must keep the SAME exemplar), and the modality-mixture data card
that feeds the token-budget allocator.

Scale discipline (inherited from dedup.py / multimodal_dedup.py):

- the ONLY Python stage is the image decode+dHash (``image_dhash``'s
  Arrow-batched mapInPandas); captions hash JVM-side via
  ``unhex(md5(text))`` so shuffle keys are 16-byte binaries however
  long the caption is — raw media bytes and full caption strings never
  enter a shuffle key;
- every census is ONE map-side-combining groupBy over fixed-width
  keys; joint-dedup pair generation reuses the banded-Hamming LSH
  (pigeonhole-exhaustive) and the pointer-doubling connected
  components — never an all-pairs join;
- survivor selection rides ``min(struct(-quality, id))`` on the
  existing groupBy (the ``cluster_keep_best`` idiom: no window, no
  join-back);
- NULL contract: a NULL caption or undecodable/NULL image removes the
  pair from the joint censuses (it has no joint class); the pair still
  surfaces in ``multimodal_dedup.decode_audit`` — exclusion is visible,
  never silent.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_glue_spark.extensions.dedup import (
    _persist,
    dup_clusters,
    hamming_lsh_pairs,
    keep_best_by,
)
from dbt_glue_spark.extensions.multimodal import (
    DecodeUnavailable,
    png_decode,
)
from dbt_glue_spark.extensions.multimodal_dedup import dhash_from_decoded


def pair_signatures(
    df: DataFrame,
    caption_col: str = "caption",
    content_col: str = "content",
    id_col: str = "pair_id",
) -> DataFrame:
    """Per-pair joint signature: (pair_id, caption_key, dhash).

    ``caption_key`` is the 16-byte ``unhex(md5(caption))`` (the
    exact-text class key from ``dedup.exact_dedup``); ``dhash`` the
    64-bit perceptual hash from the REAL decode. Rows with a NULL
    caption or a non-ok decode are dropped — a pair missing either side
    has no joint class (the decode census is decode_audit's job).

    ONE pass: the decode stage carries the caption THROUGH its Arrow
    batches instead of re-joining the caption side on pair_id — no
    shuffle join of two corpus-sized lineages (and, critically, no
    stream-stream self-join when the input is a streaming frame —
    :func:`streaming.pipelines.pair_frontier_stream` builds on this).
    The caption hash itself is JVM-side md5 after the Python stage, so
    the shuffle key is 16 bytes however long the caption is.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, caps, hashes = [], [], []
            for pid, cap, content in zip(
                pdf[id_col], pdf[caption_col], pdf[content_col]
            ):
                # a NULL id arrives as NaN (Arrow hands a nullable int
                # column to pandas as float64) and int(NaN) raises —
                # follow the module's visible-exclusion NULL contract
                # instead of crashing the stage (r11 ADVICE)
                if pid is None or pd.isna(pid):
                    continue
                if cap is None or content is None:
                    continue
                try:
                    w, h, ch, px = png_decode(bytes(content))
                    hv = dhash_from_decoded(w, h, ch, px)
                except DecodeUnavailable:
                    continue
                ids.append(int(pid))
                caps.append(cap)
                hashes.append(hv)
            # object dtype for the hash column: a nullable int64 in
            # pandas coerces to float64 and silently rounds 64-bit
            # hashes (the r10 Arrow-boundary trap) — here the column is
            # never null, but object keeps the invariant uniform
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    caption_col: pd.Series(caps, dtype="object"),
                    "dhash": pd.Series(hashes, dtype="object"),
                }
            )

    hashed = df.select(
        F.col(id_col), F.col(caption_col), F.col(content_col)
    ).mapInPandas(
        run, f"{id_col} long, {caption_col} string, dhash long"
    )
    return hashed.select(
        F.col(id_col),
        F.unhex(F.md5(F.col(caption_col))).alias("caption_key"),
        "dhash",
    )


def caption_consistency_audit(
    df: DataFrame,
    caption_col: str = "caption",
    content_col: str = "content",
    id_col: str = "pair_id",
) -> DataFrame:
    """Mislabeled-pair census: for every perceptual image class with ≥ 2
    members, how many DISTINCT captions ride it?

    A multi-member dHash class whose members carry different captions is
    the classic paired-corpus defect — re-scraped/brightness-shifted
    copies of one image labeled inconsistently (one of them is wrong, or
    the caption is alt-text boilerplate). Output one row per multi-member
    class: (class_rep = min pair_id, n_members, n_captions, divergent) —
    ``divergent`` is the flag a curation pipeline quarantines on.

    ONE groupBy on the 8-byte dhash carrying (bigint id, 16-byte key)
    rows; count_distinct over ≤ n_members 16-byte keys per class. Output
    bounded by the number of duplicated perceptual classes.
    """
    sigs = pair_signatures(df, caption_col, content_col, id_col)
    return (
        sigs.groupBy("dhash")
        .agg(
            F.min(id_col).cast("bigint").alias("class_rep"),
            F.count("*").cast("bigint").alias("n_members"),
            F.count_distinct("caption_key").cast("bigint").alias(
                "n_captions"
            ),
        )
        .filter(F.col("n_members") > 1)
        .select(
            "class_rep",
            "n_members",
            "n_captions",
            (F.col("n_captions") > 1).alias("divergent"),
        )
    )


def caption_spam_census(
    df: DataFrame,
    caption_col: str = "caption",
    content_col: str = "content",
    id_col: str = "pair_id",
) -> DataFrame:
    """Boilerplate-caption census — the inverse direction of
    :func:`caption_consistency_audit`: for every caption text class with
    ≥ 2 pairs, how many DISTINCT perceptual image classes does it label?

    One caption pasted across many unrelated images ("stock photo",
    SEO spam, template alt-text) carries no supervisory signal and is
    dropped or downweighted by every paired-corpus curation recipe.
    Output one row per repeated caption class: (class_rep = min pair_id,
    n_pairs, n_image_classes, spam = labels ≥ 2 distinct image classes).

    ONE groupBy on the 16-byte caption key; same shape/bounds as the
    consistency audit with the roles of the two hashes swapped.
    """
    sigs = pair_signatures(df, caption_col, content_col, id_col)
    return (
        sigs.groupBy("caption_key")
        .agg(
            F.min(id_col).cast("bigint").alias("class_rep"),
            F.count("*").cast("bigint").alias("n_pairs"),
            F.count_distinct("dhash").cast("bigint").alias(
                "n_image_classes"
            ),
        )
        .filter(F.col("n_pairs") > 1)
        .select(
            "class_rep",
            "n_pairs",
            "n_image_classes",
            (F.col("n_image_classes") > 1).alias("spam"),
        )
    )


def paired_keep_best(
    df: DataFrame,
    caption_col: str = "caption",
    content_col: str = "content",
    id_col: str = "pair_id",
    quality_col: str = "quality",
    max_hamming: int = 2,
    bands: int = 4,
) -> DataFrame:
    """Paired-modality dedup with CONSISTENT survivor selection: two
    pairs are duplicates iff their captions are exact-text duplicates
    AND their images are perceptual near-duplicates; each joint class
    keeps ONE exemplar pair — so the surviving caption and the surviving
    image are, by construction, the same pair's two sides (running text
    keep-best and image keep-best independently could keep pair A's
    caption and pair B's image, silently unpairing the corpus).

    Composition (the ``cluster_keep_best`` idiom over a JOINT key):

    1. image side: banded-Hamming LSH pairs (pigeonhole-exhaustive for
       ``max_hamming < bands``) → pointer-doubling connected components
       → ``image_cluster`` label per pair (singletons keep themselves);
    2. caption side: exact class = the 16-byte md5 key (near-dup text
       classes would compose identically via minhash_lsh_pairs →
       dup_clusters — exact is the paired-corpus default since captions
       are short);
    3. joint key = (caption_key, image_cluster); ONE groupBy with the
       argmax riding ``min(struct(-quality, pair_id))`` — no window, no
       join-back. NULL quality loses to any real score (−1 coalesce,
       the keep_best contract); ties break to the lowest pair id.

    Output: full survivor manifest (keep_id, n_members, best_score) —
    one row per joint class, singletons included, ordered by nothing
    (downstream anti-joins on keep_id to drop the losers).

    100 TB shape: inherits the LSH bound (cost ∝ Σ band-bucket², never
    corpus²) and dup_clusters' V(E)-bounded propagation; the joint
    groupBy moves (16-byte, 8-byte, 3×bigint) rows once.
    """
    # _persist (the module LRU registry, as image_dup_clusters does):
    # sigs' lineage contains the Arrow-batched decode — the dominant
    # cost of every image pipeline — and it is referenced by the LSH
    # pair generation (3 internal refs), the component vertex set, and
    # the final scored join; without the cache one action re-runs the
    # full-corpus decode ~5-6× (r11 ADVICE)
    sigs = _persist(pair_signatures(df, caption_col, content_col, id_col))
    pairs = hamming_lsh_pairs(
        sigs.select(F.col(id_col).alias("id"), "dhash"),
        "dhash",
        64,
        bands,
        max_hamming,
    ).select("id_a", "id_b")
    comps = dup_clusters(sigs.select(F.col(id_col)), pairs, id_col).select(
        F.col(id_col), F.col("cluster_id").alias("image_cluster")
    )
    scored = sigs.join(comps, id_col).join(
        df.select(F.col(id_col), F.col(quality_col).alias("__q")), id_col
    )
    return keep_best_by(scored, ["caption_key", "image_cluster"], id_col, "__q")


def paired_contamination(
    train: DataFrame,
    eval_pairs: DataFrame,
    caption_col: str = "caption",
    content_col: str = "content",
    id_col: str = "pair_id",
) -> DataFrame:
    """Cross-modal benchmark-contamination manifest: for every eval pair
    whose caption also appears in the training corpus, how many training
    pairs share the caption (``n_caption_hits``) and how many of those
    are FULL-PAIR leaks — same caption AND same perceptual image class
    (``n_full_pair_hits``).

    The cross-modal extension of text decontamination (the
    ``dedup.contamination_pairs`` discipline): a full-pair hit means the
    exact eval example leaked into training; a caption-only hit (same
    caption, different image) is the paraphrase-risk class a
    decontamination pass reviews before an image-caption benchmark is
    trusted. Only contaminated eval pairs surface (n_caption_hits > 0).

    100 TB shape: the training corpus collapses FIRST to joint-class
    counts — ONE groupBy on (16-byte caption key, 8-byte dhash) — so the
    contamination join moves |train classes| rows, never the corpus;
    eval sides are benchmark-sized by definition. The only Python is
    the two Arrow-batched decode passes.
    """
    tclasses = (
        pair_signatures(train, caption_col, content_col, id_col)
        .groupBy("caption_key", "dhash")
        .agg(F.count("*").cast("bigint").alias("__n"))
        .select(
            "caption_key", F.col("dhash").alias("__tdhash"), "__n"
        )
    )
    esig = pair_signatures(eval_pairs, caption_col, content_col, id_col)
    joined = esig.join(tclasses, "caption_key").select(
        F.col(id_col),
        F.col("__n"),
        (F.col("dhash") == F.col("__tdhash")).cast("bigint").alias("__same"),
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.sum("__n").cast("bigint").alias("n_caption_hits"),
            F.sum(F.col("__n") * F.col("__same"))
            .cast("bigint")
            .alias("n_full_pair_hits"),
        )
        .select(
            F.col(id_col).alias("eval_id"),
            "n_caption_hits",
            "n_full_pair_hits",
        )
    )


def pair_completeness_audit(
    df: DataFrame,
    caption_col: str = "caption",
    content_col: str = "content",
    id_col: str = "pair_id",
) -> DataFrame:
    """Intake completeness census for a paired corpus: every pair lands
    in exactly one (caption_state, image_state) cell — caption present/
    missing × image ok/null/decode_error — with its count.

    The first audit a paired-corpus intake runs (before any joint
    operator): how many pairs are actually TRAINABLE (present × ok),
    and where the rest leak — the half-pair census. The honesty twin of
    ``multimodal_dedup.decode_audit`` for the joint schema: dropped-
    from-joint rows are visible cells here, never silent exclusions.

    ONE Arrow-batched decode pass emits the two tiny state strings; ONE
    map-side-combining groupBy counts ≤ 6 cells. Output bounded by 6
    rows regardless of corpus size.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cap, content in zip(pdf[caption_col], pdf[content_col]):
                cs = "present" if cap is not None else "missing"
                if content is None:
                    ims = "null"
                else:
                    try:
                        png_decode(bytes(content))
                        ims = "ok"
                    except DecodeUnavailable:
                        ims = "decode_error"
                rows.append((cs, ims))
            yield pd.DataFrame(
                rows, columns=["caption_state", "image_state"]
            )

    states = df.select(F.col(caption_col), F.col(content_col)).mapInPandas(
        run, "caption_state string, image_state string"
    )
    return (
        states.groupBy("caption_state", "image_state")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


def pair_alignment_audit(
    df: DataFrame,
    caption_vec_col: str = "caption_vec",
    image_vec_col: str = "image_vec",
    id_col: str = "pair_id",
    threshold: float = 0.2,
) -> DataFrame:
    """Cross-modal embedding alignment histogram — the CLIP-style audit
    over a paired corpus where each side carries an embedding: cosine
    per pair, bucketed into tenths, plus the count of pairs below the
    misalignment ``threshold`` per bucket.

    Misaligned pairs (caption embedding pointing away from the image
    embedding under a shared encoder) are label noise for contrastive
    training; the distribution tells a curation pipeline where to set
    its drop threshold. Pairs with a NULL vector on either side, or a
    zero-norm vector (cosine undefined), are excluded — they belong to
    the completeness audit, not the alignment histogram.

    Cosine is JVM-side ``F.aggregate``/``zip_with`` arithmetic
    (:mod:`functions.vectors`), rounded half-up at 4 dp (the catalog
    float-determinism rule); bucket = floor(sim·10) clamped to [-10, 9]
    so sim = 1.0 lands in the top bucket. ONE map-only projection + ONE
    groupBy over ≤ 20 bucket rows — no shuffle wider than the histogram.
    """
    from dbt_glue_spark.functions.scalars import half_up_round
    from dbt_glue_spark.functions.vectors import cosine_sim

    # half-up at 4 dp, the catalog rule — oracles mirror this formula
    sim4 = half_up_round(cosine_sim(F.col(caption_vec_col), F.col(image_vec_col)), 4)
    scored = (
        df.filter(
            F.col(caption_vec_col).isNotNull()
            & F.col(image_vec_col).isNotNull()
        )
        .select(sim4.alias("__sim"))
        .filter(F.col("__sim").isNotNull())
    )
    bucket = F.least(
        F.greatest(F.floor(F.col("__sim") * 10), F.lit(-10)), F.lit(9)
    )
    return (
        scored.select(
            bucket.cast("bigint").alias("sim_bucket"),
            (F.col("__sim") < threshold).cast("int").alias("__below"),
        )
        .groupBy("sim_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("__below").cast("bigint").alias("n_below_threshold"),
        )
    )


def modality_mixture_card(
    df: DataFrame,
    budget: int,
    kind_col: str = "pair_type",
    caption_col: str = "caption",
    weight_col: str = "weight",
    max_epochs: int = 1,
) -> DataFrame:
    """Modality-mixture data card: per pair-type caption-token census +
    the EXACT token-budget allocation over those tokens — the card a
    multimodal training run reads to decide how much of each pair type
    (image-caption, video-caption, audio-transcript, …) enters the mix.

    Extends ``multimodal_dedup.media_data_card`` (decode-side units)
    with the TEXT side each pair trains on: caption tokens counted by
    whitespace split (the ``text_analysis`` convention — exact, engine-
    portable), then ``sampling.token_budget_allocation`` converts the
    per-type token masses and integer weights into allocations and
    per-type sampling rates with exact bigint accounting (shares,
    caps at ``max_epochs``, proportional redistribution, crumb fill —
    the allocator's documented law, replayed bit-for-bit by oracles).

    Output: (pair_type, n_pairs, n_tokens, weight, alloc_tokens,
    rate_ppm) — ``n_pairs`` from this census, the rest the allocator's
    columns. NULL-caption pairs contribute 0 tokens but still count in
    ``n_pairs`` (they exist; they just have nothing to train the text
    side on); NULL pair types are excluded (the allocator's stratified
    NULL contract).

    100 TB shape: one map-side-combining groupBy collapses the corpus
    to |pair types| rows; the allocator is source-count-bounded from
    there (its documented shape). No decode — the token card is pure
    JVM string arithmetic; pixel/sample units stay media_data_card's
    job.
    """
    from dbt_glue_spark.extensions.sampling import token_budget_allocation

    base = df.filter(F.col(kind_col).isNotNull())
    trimmed = F.coalesce(F.trim(F.col(caption_col)), F.lit(""))
    toks = base.select(
        F.col(kind_col),
        F.col(weight_col),
        F.when(trimmed == "", F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"\s+")))
        .cast("bigint")
        .alias("__tok"),
    )
    counts = toks.groupBy(kind_col).agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    alloc = token_budget_allocation(
        toks,
        group_col=kind_col,
        tokens_col="__tok",
        quality_col=weight_col,
        budget=budget,
        max_epochs=max_epochs,
    )
    # the allocator keeps the group column under its input name, so this
    # is an equi-join on kind_col — |pair types| rows on both sides
    return counts.join(alloc, kind_col).select(
        F.col(kind_col).alias("pair_type"),
        "n_pairs",
        "n_tokens",
        "weight",
        "alloc_tokens",
        "rate_ppm",
    )
