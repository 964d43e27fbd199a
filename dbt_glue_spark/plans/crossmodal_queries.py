"""Cross-modal (caption, image) pair queries.

CROSS-MODAL PAIRS, the one LLM-pipeline seam with analysis on both sides
(text dedup, perceptual media dedup) but, before this module, no JOINT
operator (``extensions/crossmodal.py``):

- ``ext_caption_consistency`` — the mislabeled-pair census: for every
  perceptual image class (dHash over the REAL decode) with ≥ 2
  members, how many DISTINCT captions ride it; ``divergent`` flags
  the classes a curation pipeline quarantines;
- ``ext_caption_spam`` — the inverse census: captions pasted across
  ≥ 2 distinct perceptual image classes (stock/SEO/template alt-text
  with no supervisory signal);
- ``ext_paired_keep_best`` — paired-modality dedup with CONSISTENT
  survivor selection: joint classes = exact caption class × image
  near-dup component (banded-Hamming LSH → pointer-doubling
  components), ONE argmax groupBy keeps the same exemplar PAIR for
  both sides;
- ``ext_modality_mixture_card`` — per-pair-type caption-token census
  + the EXACT token-budget allocation over those tokens (composes
  ``sampling.token_budget_allocation``; the card a multimodal run
  reads to set its modality mixture);
- ``streaming_pair_frontier`` — the ingestion-side Kappa twin: new
  (caption_key, dhash) joint classes emitted exactly once against a
  static seen-pair ledger.

Oracle style (the r11 media discipline): the Spark side synthesizes
REAL decodable PNGs per document (the round-11 codeword construction —
``synth_image_bytes``: class (g = doc_id % 10, p = (doc_id // 10) % 2),
brightness-offset-invariant, cross-g hamming ≥ 5) plus captions whose
text CLASS is pure id arithmetic; the DuckDB oracle derives the
expected output in CLOSED FORM from the construction — group
structures, never pixels or hash values. Joint-dedup connectivity is a
THEOREM of the construction: within g, classes (g,0)/(g,1) sit at
hamming 1 (< bands = 4, pigeonhole-found), cross-g ≥ 5 > max_hamming=2,
so the image components are exactly the g-groups.

Caption law (all arithmetic non-negative):

- doc_id % 23 == 0 → NULL caption (pair excluded from joint censuses
  — the NULL contract; it still counts in the mixture card's n_pairs);
- else doc_id % 13 == 0 → the shared boilerplate caption ("stock
  photo of the day") — crosses every image class it lands on;
- else caption g/v with v = (doc_id % 11 == 0) — same-g captions in
  two variants, so some image classes carry divergent captions and
  every multi-p g-group shares captions across p (the spam axis).

Media NULL contract stays round-11's: doc_id % 19 == 0 → NULL content,
doc_id % 17 == 0 → undecodable bytes; both drop from joint classes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_glue_spark.plans.catalog import register
from dbt_glue_spark.plans.media_dedup_queries import synth_image_bytes
from dbt_glue_spark.sources.registry import load_table


def synth_caption(doc_id: int) -> str | None:
    """Caption law (module docstring). The STRING only matters to the
    Spark side; oracles group by the same (stock | g,v) partition of
    ids — two independent derivations of the class structure."""
    if doc_id % 23 == 0:
        return None
    if doc_id % 13 == 0:
        return "stock photo of the day"
    v = 1 if doc_id % 11 == 0 else 0
    return f"caption g{doc_id % 10} v{v}"


def _synth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.doc_id → (pair_id, caption, content, quality): the
    image-caption pair corpus. One mapInPandas synthesis stage (media
    born on the executors, like a scanned parquet binary column);
    quality = (doc_id * 7) % 50 — varied, collision-bearing, closed
    form."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, caps, blobs, quals = [], [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                ids.append(did)
                caps.append(synth_caption(did))
                blobs.append(synth_image_bytes(did))
                quals.append((did * 7) % 50)
            yield pd.DataFrame(
                {
                    "pair_id": pd.Series(ids, dtype="int64"),
                    "caption": pd.Series(caps, dtype="object"),
                    "content": pd.Series(blobs, dtype="object"),
                    "quality": pd.Series(quals, dtype="int64"),
                }
            )

    return docs.mapInPandas(
        run, "pair_id long, caption string, content binary, quality long"
    )


# The joint-census exclusion predicate (ok decode AND caption present)
# and the caption-class expression, shared by every oracle below.
_OK = "doc_id % 19 <> 0 AND doc_id % 17 <> 0 AND doc_id % 23 <> 0"
_CAP = """CASE WHEN doc_id % 13 = 0 THEN 'stock'
     WHEN doc_id % 11 = 0 THEN 'v1-' || CAST(doc_id % 10 AS VARCHAR)
     ELSE 'v0-' || CAST(doc_id % 10 AS VARCHAR) END"""


# ---------------------------------------------------------------------------
# ext_caption_consistency — captions diverging across a perceptual class
# ---------------------------------------------------------------------------


@register(
    "ext_caption_consistency",
    f"""
    WITH m AS (
      SELECT doc_id, doc_id % 10 AS g, (doc_id // 10) % 2 AS p,
             {_CAP} AS cap
      FROM documents WHERE {_OK}
    )
    SELECT CAST(MIN(doc_id) AS BIGINT) AS class_rep,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(DISTINCT cap) AS BIGINT) AS n_captions,
           COUNT(DISTINCT cap) > 1 AS divergent
    FROM m GROUP BY g, p HAVING COUNT(*) > 1
    """,
    doc="Mislabeled-pair census (crossmodal.caption_consistency_audit): "
    "REAL PNG decode → dHash perceptual class; per multi-member class, "
    "the count of DISTINCT caption md5 classes riding it — divergent "
    "classes are re-scraped copies of one image labeled inconsistently, "
    "the defect every paired multimodal corpus quarantines on. The "
    "corpus encodes image class (g, p) and caption class (stock | g,v) "
    "in id arithmetic; the oracle derives the census in closed form "
    "and never touches pixels or hashes. ONE groupBy on the 8-byte "
    "dhash carrying (bigint, 16-byte) rows; the only Python is the "
    "Arrow-batched decode; output bounded by duplicated classes.",
)
def ext_caption_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.crossmodal import (
        caption_consistency_audit,
    )

    return caption_consistency_audit(_synth_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# ext_caption_spam — one caption across many perceptual image classes
# ---------------------------------------------------------------------------


@register(
    "ext_caption_spam",
    f"""
    WITH m AS (
      SELECT doc_id, doc_id % 10 AS g, (doc_id // 10) % 2 AS p,
             {_CAP} AS cap
      FROM documents WHERE {_OK}
    )
    SELECT CAST(MIN(doc_id) AS BIGINT) AS class_rep,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT g * 2 + p) AS BIGINT) AS n_image_classes,
           COUNT(DISTINCT g * 2 + p) > 1 AS spam
    FROM m GROUP BY cap HAVING COUNT(*) > 1
    """,
    doc="Boilerplate-caption census (crossmodal.caption_spam_census) — "
    "the inverse direction of the consistency audit: per repeated "
    "caption md5 class, the count of DISTINCT perceptual image classes "
    "it labels. The 'stock photo' rows cross every g they land on; "
    "per-g captions cross the two p variants — both spam shapes "
    "derivable in closed form. ONE groupBy on the 16-byte caption key; "
    "same bounds as the consistency audit with the hash roles swapped.",
)
def ext_caption_spam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.crossmodal import caption_spam_census

    return caption_spam_census(_synth_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# ext_paired_keep_best — joint-class dedup, consistent survivor
# ---------------------------------------------------------------------------


@register(
    "ext_paired_keep_best",
    f"""
    WITH m AS (
      SELECT doc_id, doc_id % 10 AS g, {_CAP} AS cap,
             CAST((doc_id * 7) % 50 AS BIGINT) AS q
      FROM documents WHERE {_OK}
    ),
    r AS (
      SELECT doc_id, q,
             ROW_NUMBER() OVER (
               PARTITION BY cap, g ORDER BY q DESC, doc_id ASC
             ) AS rk,
             COUNT(*) OVER (PARTITION BY cap, g) AS nm,
             MAX(q) OVER (PARTITION BY cap, g) AS bs
      FROM m
    )
    SELECT CAST(doc_id AS BIGINT) AS keep_id,
           CAST(nm AS BIGINT) AS n_members,
           CAST(bs AS BIGINT) AS best_score
    FROM r WHERE rk = 1
    """,
    doc="Paired-modality dedup with CONSISTENT survivor selection "
    "(crossmodal.paired_keep_best): joint class = exact caption class "
    "× image near-dup component (banded-Hamming LSH pairs, pigeonhole-"
    "exhaustive at max_hamming=2 < bands=4 → pointer-doubling connected "
    "components); ONE groupBy with the argmax riding min(struct(-q, "
    "id)) keeps the same exemplar PAIR for both modalities — "
    "independent per-side keep-best could unpair the corpus. The "
    "construction makes image components EXACTLY the g-groups (within-"
    "g hamming ≤ 1, cross-g ≥ 5), so the oracle's joint key is "
    "(cap, g) in pure id arithmetic. Quality (doc_id·7)%50 exercises "
    "ties (broken to min id, both engines). LSH cost ∝ Σ band-bucket², "
    "components V(E)-bounded, final groupBy moves 3 bigints per pair.",
)
def ext_paired_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.crossmodal import paired_keep_best

    return paired_keep_best(_synth_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# ext_modality_mixture_card — per-pair-type token budgets
# ---------------------------------------------------------------------------

_MMC_BUDGET = 2_000


@register(
    "ext_modality_mixture_card",
    f"""
    WITH per AS (
      SELECT CASE doc_id % 3 WHEN 0 THEN 'image_caption'
                  WHEN 1 THEN 'audio_transcript'
                  ELSE 'video_caption' END AS pair_type,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(COALESCE(SUM(CASE WHEN doc_id % 23 = 0 THEN 0
                                    ELSE 1 + doc_id % 9 END), 0)
                  AS BIGINT) AS n_tokens,
             CAST(MAX(CASE doc_id % 3 WHEN 0 THEN 600000
                           WHEN 1 THEN 250000 ELSE 150000 END)
                  AS BIGINT) AS weight
      FROM documents
      GROUP BY 1
    ),
    d AS (
      SELECT *, CAST(weight AS HUGEINT) * n_tokens AS dd FROM per
    ),
    t1 AS (SELECT CAST(SUM(dd) AS HUGEINT) AS dsum FROM d),
    r1 AS (
      SELECT d.*,
             CASE WHEN t1.dsum > 0
                  THEN LEAST(n_tokens,
                             (CAST({_MMC_BUDGET} AS HUGEINT) * dd) // t1.dsum)
                  ELSE 0 END AS a1
      FROM d CROSS JOIN t1
    ),
    h AS (SELECT *, n_tokens - a1 AS hh FROM r1),
    t2 AS (
      SELECT CAST({_MMC_BUDGET} AS BIGINT)
               - CAST(SUM(a1) AS BIGINT) AS lred,
             CAST(SUM(CASE WHEN hh > 0 THEN dd ELSE 0 END) AS HUGEINT) AS d2
      FROM h
    ),
    r2 AS (
      SELECT h.*,
             CASE WHEN hh > 0 AND t2.d2 > 0
                  THEN LEAST(hh, (t2.lred * dd) // t2.d2) ELSE 0 END AS b,
             CASE WHEN hh > 0 AND t2.d2 > 0
                  THEN (t2.lred * dd) % t2.d2 ELSE -1 END AS rem,
             t2.lred
      FROM h CROSS JOIN t2
    ),
    t3 AS (
      SELECT CAST(MAX(lred) AS BIGINT) - CAST(SUM(b) AS BIGINT) AS rfin
      FROM r2
    ),
    crumb AS (
      SELECT r2.*, hh - b AS h2,
             COALESCE(CAST(SUM(hh - b) OVER (
               ORDER BY rem DESC, pair_type ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS cum,
             t3.rfin
      FROM r2 CROSS JOIN t3
    )
    SELECT pair_type, n_pairs, n_tokens, weight,
           CAST(a1 + b + LEAST(h2, GREATEST(rfin - cum, 0)) AS BIGINT)
             AS alloc_tokens,
           CAST(CASE WHEN n_tokens > 0
                THEN (CAST(a1 + b + LEAST(h2, GREATEST(rfin - cum, 0))
                           AS HUGEINT) * 1000000) // n_tokens
                ELSE 0 END AS BIGINT) AS rate_ppm
    FROM crumb
    """,
    doc="Modality-mixture data card (crossmodal.modality_mixture_card): "
    "per pair-type caption-token census (whitespace tokens, exact; "
    "NULL captions contribute 0 tokens but still count as pairs) + "
    "the EXACT token-budget allocation over those tokens via "
    "sampling.token_budget_allocation (quality×size shares, caps, one "
    "proportional redistribution, clamped-cumsum crumb fill — the "
    "oracle replays the documented law bit-for-bit; budget 2000 < Σn "
    "so every phase is exercised). The card a multimodal training run "
    "reads to set per-modality sampling rates. One map-side-combining "
    "groupBy collapses the corpus to |pair types| rows; the allocator "
    "is source-count-bounded from there. No decode — pure JVM string "
    "arithmetic.",
)
def ext_modality_mixture_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.crossmodal import modality_mixture_card

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    typed = docs.select(
        F.col("doc_id"),
        F.element_at(
            F.array(
                F.lit("image_caption"),
                F.lit("audio_transcript"),
                F.lit("video_caption"),
            ),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("pair_type"),
        F.when(F.col("doc_id") % 23 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.trim(
                F.repeat(
                    F.lit("tok "), (F.col("doc_id") % 9 + 1).cast("int")
                )
            )
        )
        .alias("caption"),
        F.element_at(
            F.array(F.lit(600000), F.lit(250000), F.lit(150000)),
            (F.col("doc_id") % 3 + 1).cast("int"),
        )
        .cast("bigint")
        .alias("weight"),
    )
    return modality_mixture_card(typed, budget=_MMC_BUDGET)


# ---------------------------------------------------------------------------
# ext_paired_contamination — cross-modal benchmark decontamination
# ---------------------------------------------------------------------------


@register(
    "ext_paired_contamination",
    f"""
    WITH m AS (
      SELECT doc_id, doc_id % 10 AS g, (doc_id // 10) % 2 AS p,
             {_CAP} AS cap
      FROM documents WHERE {_OK}
    ),
    tr AS (SELECT * FROM m WHERE doc_id % 5 <> 3),
    ev AS (SELECT * FROM m WHERE doc_id % 5 = 3)
    SELECT CAST(ev.doc_id AS BIGINT) AS eval_id,
           CAST(COUNT(*) AS BIGINT) AS n_caption_hits,
           CAST(SUM(CASE WHEN tr.g = ev.g AND tr.p = ev.p
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_full_pair_hits
    FROM ev JOIN tr ON tr.cap = ev.cap
    GROUP BY ev.doc_id
    """,
    doc="Cross-modal benchmark contamination "
    "(crossmodal.paired_contamination): eval pairs (doc_id % 5 = 3) "
    "whose caption also appears in the training split, split into "
    "FULL-PAIR leaks (same caption AND same perceptual image class — "
    "the exact example leaked) vs caption-only hits (same caption, "
    "different image — the paraphrase-risk class a decontamination "
    "review reads). The cross-modal extension of the text "
    "contamination ledger discipline. 100 TB shape: the training "
    "corpus collapses FIRST to joint-class counts (one groupBy on "
    "16+8-byte keys), so the join moves |train classes| rows, never "
    "the corpus; only the two Arrow-batched decode passes are Python.",
)
def ext_paired_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.crossmodal import paired_contamination

    pairs = _synth_pairs(spark, sf_dir)
    train = pairs.filter(F.col("pair_id") % 5 != 3)
    ev = pairs.filter(F.col("pair_id") % 5 == 3)
    return paired_contamination(train, ev)


# ---------------------------------------------------------------------------
# ext_pair_completeness — the intake half-pair census
# ---------------------------------------------------------------------------


@register(
    "ext_pair_completeness",
    """
    WITH m AS (
      SELECT CASE WHEN doc_id % 23 = 0 THEN 'missing'
                  ELSE 'present' END AS caption_state,
             CASE WHEN doc_id % 19 = 0 THEN 'null'
                  WHEN doc_id % 17 = 0 THEN 'decode_error'
                  ELSE 'ok' END AS image_state
      FROM documents
    )
    SELECT caption_state, image_state,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM m GROUP BY caption_state, image_state
    """,
    doc="Paired-corpus intake completeness census "
    "(crossmodal.pair_completeness_audit): caption present/missing × "
    "image ok/null/decode_error from the REAL decode — how many pairs "
    "are trainable and where the half-pairs leak; the honesty twin of "
    "decode_audit for the joint schema (every row the joint operators "
    "exclude is a visible cell here). The oracle derives all six cells "
    "from the id-arithmetic contracts (caption %23, NULL %19 before "
    "corrupt %17 — the construction's precedence). ONE Arrow-batched "
    "decode pass emitting two tiny state strings; ONE groupBy over "
    "≤ 6 cells — output bounded by 6 rows at any corpus size.",
)
def ext_pair_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.crossmodal import pair_completeness_audit

    return pair_completeness_audit(_synth_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# ext_pair_alignment — CLIP-style embedding alignment histogram
# ---------------------------------------------------------------------------


def _alignment_oracle() -> str:
    from dbt_glue_spark.plans.extension_queries import _cos_sql

    return f"""
    WITH a AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    p AS (
      SELECT a1.v AS cv, a2.v AS iv
      FROM a a1 JOIN a a2
        ON a2.vec_id = a1.vec_id + 1 - 2 * (a1.vec_id % 2)
    ),
    s AS (SELECT {_cos_sql('cv', 'iv')} AS sim FROM p),
    b AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(sim * 10) AS BIGINT), -10), 9)
               AS sim_bucket,
             CASE WHEN sim < 0.2 THEN 1 ELSE 0 END AS below
      FROM s WHERE sim IS NOT NULL
    )
    SELECT sim_bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(below) AS BIGINT) AS n_below_threshold
    FROM b GROUP BY sim_bucket
    """


@register(
    "ext_pair_alignment",
    _alignment_oracle(),
    doc="Cross-modal embedding alignment histogram "
    "(crossmodal.pair_alignment_audit): pairs are adjacent embedding "
    "rows (partner = vec_id + 1 - 2·(vec_id % 2) — the caption side and "
    "image side of a CLIP-style paired corpus); cosine per pair at the "
    "catalog's 4-dp half-up rounding (the _cos_sql mirror every "
    "similarity oracle uses), bucketed into tenths with a "
    "below-threshold count per bucket — the misalignment distribution a "
    "curation pipeline reads to set its contrastive-training drop "
    "threshold. NULL vectors and zero-norm cosines excluded (they "
    "belong to the completeness census). ONE equi-join on vec_id "
    "arithmetic + ONE map-only cosine projection + ONE groupBy over "
    "≤ 20 bucket rows — no shuffle wider than the histogram.",
)
def ext_pair_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.crossmodal import pair_alignment_audit

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    # mirror the oracle's join direction literally (a2.vec_id ==
    # partner(a1)): the partner map is only an involution for
    # non-negative ids, and pathological axes may carry negatives
    a = emb.select(
        F.col("vec_id").alias("pair_id"),
        F.col("embedding").cast("array<double>").alias("caption_vec"),
        (F.col("vec_id") + 1 - 2 * (F.col("vec_id") % 2)).alias("__pid"),
    )
    b = emb.select(
        F.col("vec_id").alias("__pid"),
        F.col("embedding").cast("array<double>").alias("image_vec"),
    )
    pairs = a.join(b, "__pid").select(
        "pair_id", "caption_vec", "image_vec"
    )
    return pair_alignment_audit(pairs, threshold=0.2)


# ---------------------------------------------------------------------------
# streaming_mixture_monitor — ingestion-side mixture drift census
# ---------------------------------------------------------------------------


@register(
    "streaming_mixture_monitor",
    """
    WITH per AS (
      SELECT CASE doc_id % 3 WHEN 0 THEN 'image_caption'
                  WHEN 1 THEN 'audio_transcript'
                  ELSE 'video_caption' END AS pair_type,
             CAST(SUM(CASE WHEN doc_id % 23 = 0 THEN 0
                           ELSE 1 + doc_id % 9 END) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per)
    SELECT pair_type, n_tokens,
           CAST((n_tokens * 1000000) // t.tot AS BIGINT) AS share_ppm,
           CAST((n_tokens * 1000000) // t.tot
                - CASE pair_type WHEN 'image_caption' THEN 600000
                       WHEN 'audio_transcript' THEN 250000
                       ELSE 150000 END AS BIGINT) AS deviation_ppm
    FROM per CROSS JOIN t
    WHERE t.tot > 0
    """,
    doc="Streaming modality-mixture monitor "
    "(streaming.pipelines.mixture_monitor_stream): per-micro-batch "
    "stateful token census per pair type (complete-mode aggregation — "
    "state is one row per type, bounded by the type alphabet), folded "
    "after the run into exact-ppm arriving shares and deviation vs the "
    "target mixture weights — the drift alert a mixture-aware ingestion "
    "raises before the batch allocator ever runs. Exact bigint "
    "arithmetic throughout (shares via integer div); the zero-token "
    "corpus emits nothing (guarded on both sides). Batch≡stream pinned "
    "under arbitrary file order.",
)
def streaming_mixture_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from dbt_glue_spark.streaming.pipelines import mixture_monitor_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    typed = docs.select(
        F.element_at(
            F.array(
                F.lit("image_caption"),
                F.lit("audio_transcript"),
                F.lit("video_caption"),
            ),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("pair_type"),
        F.when(F.col("doc_id") % 23 == 0, F.lit(0))
        .otherwise(F.col("doc_id") % 9 + 1)
        .cast("bigint")
        .alias("tokens"),
    )
    stage = tempfile.mkdtemp(prefix="dgs_q_mixmon_")
    typed.repartition(4).write.mode("overwrite").parquet(stage)
    stream = (
        spark.readStream.schema("pair_type string, tokens long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    name = f"q_mixmon_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            mixture_monitor_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            spark.catalog.dropTempView(name)
            raise TimeoutError(
                f"streaming_mixture_monitor: query {name} did not finish "
                "within 300 s"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        # the availableNow stream is terminated here (either finished or
        # stopped on timeout), so its static ledger cache is releasable --
        # without this, every spec invocation would leak one persisted
        # frame into the never-evicting stream-static registry (sweeps
        # and bench loops call the spec hundreds of times per session)
        from dbt_glue_spark.streaming.pipelines import release_static_caches

        release_static_caches()
    census = spark.table(name)
    tot = census.agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("bigint").alias("tot")
    )
    target = F.element_at(
        F.create_map(
            F.lit("image_caption"), F.lit(600000),
            F.lit("audio_transcript"), F.lit(250000),
            F.lit("video_caption"), F.lit(150000),
        ),
        F.col("pair_type"),
    ).cast("bigint")
    return (
        census.join(F.broadcast(tot))
        .filter(F.col("tot") > 0)
        .select(
            "pair_type",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr(
                "cast((n_tokens * 1000000) div tot as bigint)"
            ).alias("share_ppm"),
            (
                F.expr("cast((n_tokens * 1000000) div tot as bigint)")
                - target
            )
            .cast("bigint")
            .alias("deviation_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# streaming_pair_frontier — ingestion-side joint-class dedup
# ---------------------------------------------------------------------------


@register(
    "streaming_pair_frontier",
    f"""
    WITH m AS (
      SELECT doc_id,
             {_CAP} || '|' || CAST(doc_id % 10 AS VARCHAR) || '|'
               || CAST((doc_id // 10) % 2 AS VARCHAR) AS ck
      FROM documents WHERE {_OK}
    ),
    cls AS (
      SELECT ck, COUNT(*) AS class_size,
             SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_even
      FROM m GROUP BY ck
    )
    SELECT CAST(class_size AS BIGINT) AS class_size,
           CAST(COUNT(*) AS BIGINT) AS n_classes
    FROM cls WHERE n_even = 0 GROUP BY class_size
    """,
    doc="Streaming cross-modal pair frontier "
    "(streaming.pipelines.pair_frontier_stream): pairs stream in per "
    "micro-batch (maxFilesPerTrigger=1 over a 4-file stage), each "
    "batch decodes+dHashes and md5-keys its captions in ONE pass-"
    "through Python stage (no stream-stream self-join), anti-joins the "
    "static seen-pair ledger (even pair_ids — persisted+materialized "
    "once, not re-decoded per trigger), and emits each NEW joint "
    "(caption_key, dhash) class exactly once. Output folds the emitted "
    "keys over the full-corpus class census → (class_size, n_classes) "
    "for all-odd-member classes — richer than a count, still closed-"
    "form (hash values stay decoder-side, outside SQL's reach). The "
    "emitted set must equal the batch twin regardless of file arrival "
    "order.",
)
def streaming_pair_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from dbt_glue_spark.extensions.crossmodal import pair_signatures
    from dbt_glue_spark.streaming.pipelines import pair_frontier_stream

    pairs = _synth_pairs(spark, sf_dir)
    ledger = pair_signatures(
        pairs.filter(F.col("pair_id") % 2 == 0)
    ).select("caption_key", "dhash")
    stage = tempfile.mkdtemp(prefix="dgs_q_pairfrontier_")
    pairs.select("pair_id", "caption", "content").repartition(4).write.mode(
        "overwrite"
    ).parquet(stage)
    stream = (
        spark.readStream.schema(
            "pair_id long, caption string, content binary"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    name = f"q_pairfrontier_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            pair_frontier_stream(stream, ledger)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # loud-timeout contract (r10 ADVICE on the image frontier): a
        # slow box must fail here, not proceed with a partial emitted
        # set misattributed to the operator
        if not q.awaitTermination(300):
            q.stop()
            spark.catalog.dropTempView(name)
            raise TimeoutError(
                f"streaming_pair_frontier: query {name} did not finish "
                "within 300 s"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        # the availableNow stream is terminated here (either finished or
        # stopped on timeout), so its static ledger cache is releasable --
        # without this, every spec invocation would leak one persisted
        # frame into the never-evicting stream-static registry (sweeps
        # and bench loops call the spec hundreds of times per session)
        from dbt_glue_spark.streaming.pipelines import release_static_caches

        release_static_caches()
    emitted = spark.table(name)
    census = (
        pair_signatures(pairs)
        .groupBy("caption_key", "dhash")
        .agg(F.count("*").alias("class_size"))
    )
    return (
        emitted.join(census, ["caption_key", "dhash"])
        .groupBy("class_size")
        .agg(F.count("*").cast("bigint").alias("n_classes"))
        .select(
            F.col("class_size").cast("bigint").alias("class_size"),
            "n_classes",
        )
    )
