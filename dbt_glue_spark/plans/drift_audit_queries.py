"""Drift, weighted-sampling, contamination and corpus-growth audits.

Same :class:`QuerySpec` contract and exact-DuckDB gates as every catalog
module (tests/test_drift_audit_queries.py, every pathological data
profile).

The first three operators are the drift/sampling/contamination tier;
the last two extend the corpus-audit family with the GROWTH
view (the static spectrum lives in zipf_rank_buckets):

- ``ext_psi_js_drift`` — per-feature PSI + Jensen–Shannon drift
  (audit.psi_js_drift), the log-based half of the drift kit next to
  ks_distance and the TV/chi-square distribution_drift;
- ``ext_ppswor_sample`` — per-group weighted sampling WITHOUT
  replacement via A-ExpJ exponential priorities
  (sampling.ppswor_sample_by_group), the PPSWOR twin of the
  Duffield–Lund–Thorup priority sampler;
- ``ext_contamination_ledger`` — cross-run train/eval decontamination
  against a carried posting ledger
  (dedup.contamination_ledger / contamination_check_incremental),
  the incremental-ledger pattern applied to contamination_pairs;
- ``ext_vocab_growth`` — Heaps-law vocabulary-growth curve in corpus
  order (text_analysis.vocab_growth);
- ``ext_ngram_novelty`` — per-bucket repeated-n-gram fraction, the
  crawl-re-crawls-itself measurement (text_analysis.ngram_novelty).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_glue_spark.extensions.sketches import _duck_hash_int
from dbt_glue_spark.plans import streams
from dbt_glue_spark.plans.catalog import register
from dbt_glue_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# ext_psi_js_drift
# ---------------------------------------------------------------------------

# Snapshot B is the deterministic mutation ext_corpus_diff /
# ext_distribution_drift replay: ~1/17 of docs removed, ~1/13 edited,
# ~1/23 added — so the three drift queries read as one monitoring
# pipeline over the same synthetic ingest event.
_B_SNAP = """
    b_snap AS (
      SELECT text || CASE WHEN doc_id % 13 = 0 THEN ' [edited]'
                          ELSE '' END AS text
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT 'new document ' || doc_id AS text
      FROM documents WHERE doc_id % 23 = 0
    )
"""

_PSI_W = 64
_PSI_NB = 32
_PSI_EPS = 1e-6


def _psi_feature_sql(feature: str, expr: str) -> str:
    """Per-feature PSI/JS SQL block (histogram → join → term → fold),
    mirroring audit.psi_js_drift bucket-for-bucket."""
    return f"""
    SELECT '{feature}' AS feature, n_a, n_b,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           FLOOR(SUM(psi_t) * 1000000.0 + 0.5) / 1000000.0 AS psi,
           FLOOR(SUM(js_t) * 1000000.0 + 0.5) / 1000000.0 AS js
    FROM (
      SELECT bucket, n_a, n_b,
             (GREATEST(pa, {_PSI_EPS!r}) - GREATEST(pb, {_PSI_EPS!r}))
               * ln(GREATEST(pa, {_PSI_EPS!r}) / GREATEST(pb, {_PSI_EPS!r}))
               AS psi_t,
             0.5 * (CASE WHEN ca > 0
                         THEN pa * ln(2.0 * pa / (pa + pb)) ELSE 0.0 END
                    + CASE WHEN cb > 0
                           THEN pb * ln(2.0 * pb / (pa + pb)) ELSE 0.0 END)
               AS js_t
      FROM (
        SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
               CAST(COALESCE(ca, 0) AS BIGINT) AS ca,
               CAST(COALESCE(cb, 0) AS BIGINT) AS cb,
               n_a, n_b,
               CAST(COALESCE(ca, 0) AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
               CAST(COALESCE(cb, 0) AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb
        FROM (
          SELECT CAST(LEAST(FLOOR(({expr}) / {_PSI_W}), {_PSI_NB - 1}) AS INT)
                   AS bucket, CAST(COUNT(*) AS BIGINT) AS ca
          FROM documents WHERE ({expr}) IS NOT NULL GROUP BY 1
        ) ha
        FULL OUTER JOIN (
          SELECT CAST(LEAST(FLOOR(({expr}) / {_PSI_W}), {_PSI_NB - 1}) AS INT)
                   AS bucket, CAST(COUNT(*) AS BIGINT) AS cb
          FROM b_snap WHERE ({expr}) IS NOT NULL GROUP BY 1
        ) hb ON ha.bucket = hb.bucket,
        (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                 WHERE ({expr}) IS NOT NULL) AS n_a,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM b_snap
                 WHERE ({expr}) IS NOT NULL) AS n_b) t
      )
    )
    GROUP BY n_a, n_b
    """


_N_TOKENS_SQL = r"len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))"


@register(
    "ext_psi_js_drift",
    "WITH "
    + _B_SNAP
    + _psi_feature_sql("len_chars", "LENGTH(text)")
    + " UNION ALL "
    + _psi_feature_sql("n_tokens", _N_TOKENS_SQL),
    doc="Per-feature PSI + Jensen-Shannon drift between two corpus "
    "snapshots (audit.psi_js_drift) over document length in chars and "
    "tokens — the log-based half of the standard drift kit next to "
    "ks_distance (max CDF gap) and distribution_drift (TV/chi-square). "
    "Exact-count proportions, eps-clamped PSI, 0*ln0=0 JS; the <=32 "
    "bucket terms fold over a bucket-sorted collected array so no "
    "partition-order float sum exists; each side collapses to <=32 rows "
    "at the scan via map-side partial agg.",
)
def ext_psi_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import psi_js_drift
    from dbt_glue_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    edited = docs.filter(F.col("doc_id") % 17 != 0).select(
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
        )
        .otherwise(F.col("text"))
        .alias("text")
    )
    added = docs.filter(F.col("doc_id") % 23 == 0).select(
        F.concat(F.lit("new document "), F.col("doc_id").cast("string")).alias(
            "text"
        )
    )
    b = edited.unionByName(added)

    def feats(df: DataFrame) -> DataFrame:
        return df.select(
            F.length("text").cast("bigint").alias("len_chars"),
            F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        )

    return psi_js_drift(
        feats(docs),
        feats(b),
        ["len_chars", "n_tokens"],
        bucket_width=_PSI_W,
        n_buckets=_PSI_NB,
        eps=_PSI_EPS,
    )


# ---------------------------------------------------------------------------
# ext_ppswor_sample
# ---------------------------------------------------------------------------

_PW_K = 32
_PW_W = "GREATEST(COALESCE(CAST(n_chars AS BIGINT), 1), 1)"
_U_DEN = float(16**13)  # 2^52: (h+1)/2^52 is an exact IEEE division


@register(
    "ext_ppswor_sample",
    f"""
    WITH pri AS (
      SELECT source, doc_id,
             {_PW_W} AS weight,
             -ln(CAST({_duck_hash_int("'7:' || CAST(doc_id AS VARCHAR)")} + 1
                      AS DOUBLE) / {_U_DEN!r})
               / CAST({_PW_W} AS DOUBLE) AS e
      FROM documents
      -- NULL keys carry no deterministic uniform: excluded (r8 ADVICE),
      -- mirroring the operator's key IS NOT NULL filter
      WHERE doc_id IS NOT NULL
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY e, doc_id)
               AS rn
      FROM pri
    ),
    -- tau rides a window over the SAME partition (never a join on the
    -- group key: an equi-join would silently drop a NULL group, while
    -- window partitioning treats NULL as a normal group in both engines)
    wt AS (
      SELECT *, MAX(CASE WHEN rn = {_PW_K + 1} THEN e END)
                  OVER (PARTITION BY source) AS t
      FROM ranked
    )
    SELECT source, doc_id, weight,
           FLOOR((CASE WHEN t IS NULL THEN CAST(weight AS DOUBLE)
                       ELSE CAST(weight AS DOUBLE)
                            / (1.0 - exp(-CAST(weight AS DOUBLE) * t))
                  END) * 10000.0 + 0.5) / 10000.0 AS est_weight
    FROM wt
    WHERE rn <= {_PW_K}
    """,
    doc="Per-source weighted sampling WITHOUT replacement via A-ExpJ "
    "exponential priorities (sampling.ppswor_sample_by_group, "
    "Efraimidis-Spirakis 2006): 32 docs per source drawn PPSWOR by "
    "n_chars, with the bottom-k/Horvitz-Thompson estimator "
    "w/(1-exp(-w*tau)). Exact 2^52 hash uniforms; the only window is "
    "rank partitioned by group — parallel across strata, nothing "
    "broadcast, nothing collected.",
)
def ext_ppswor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.sampling import ppswor_sample_by_group

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return ppswor_sample_by_group(
        docs, "source", "doc_id", "n_chars", k=_PW_K, seed="7"
    )


# ---------------------------------------------------------------------------
# ext_contamination_ledger
# ---------------------------------------------------------------------------

# The union of per-batch incremental checks over a partition of the
# training corpus equals the one-shot pairs (postings join
# row-independently; each a_id lives in exactly one batch), so the
# oracle IS ext_contamination_pairs' SQL — imported, not duplicated.
from dbt_glue_spark.plans import extension_queries  # noqa: E402,F401
from dbt_glue_spark.plans.catalog import _REGISTRY as _CAT  # noqa: E402

_CONTAM_ORACLE = _CAT["ext_contamination_pairs"].oracle


@register(
    "ext_contamination_ledger",
    _CONTAM_ORACLE,
    doc="Cross-run train/eval decontamination (dedup.contamination_ledger "
    "+ contamination_check_incremental): the eval suite (source=src0) is "
    "indexed ONCE into a (shingle-md5, b_id) posting ledger; each "
    "training batch (here: two doc_id%2 batches of source<>src0) joins "
    "the carried ledger instead of re-scanning eval text. Union of "
    "batch checks == one-shot contamination_pairs (the oracle) because "
    "postings join row-independently and each a_id lives in one batch. "
    "Per-batch cost ∝ batch postings × matching ledger postings; the "
    "MB-scale ledger is the broadcast side at any training scale.",
)
def ext_contamination_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.dedup import (
        contamination_check_incremental,
        contamination_ledger,
    )

    docs = load_table(spark, sf_dir, "documents")
    eval_ = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    ledger = contamination_ledger(eval_)
    out = None
    for batch_no in (0, 1):
        batch = train.filter(F.col("doc_id") % 2 == batch_no)
        pairs = contamination_check_incremental(
            batch, ledger, min_common=5
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out.select(
        "a_id", "b_id", F.col("n_common").cast("bigint").alias("n_common")
    )


# ---------------------------------------------------------------------------
# ext_vocab_growth / ext_ngram_novelty — corpus-order growth audits
# ---------------------------------------------------------------------------

_VG_NB = 20
# exact equi-width bucket mirror of skyline.equi_width_bucket: identical
# IEEE subtract/divide/multiply/floor chain on both engines
_VG_BUCKET = f"""CASE WHEN mx = mn THEN 0
         ELSE CAST(LEAST(FLOOR((CAST(doc_id AS DOUBLE) - mn) / (mx - mn)
                               * {float(_VG_NB)!r}),
                         {_VG_NB - 1}) AS INT) END"""


@register(
    "ext_vocab_growth",
    f"""
    WITH st AS (
      SELECT CAST(MIN(doc_id) AS DOUBLE) AS mn,
             CAST(MAX(doc_id) AS DOUBLE) AS mx
      FROM documents WHERE doc_id IS NOT NULL
    ),
    tok AS (
      SELECT doc_id, regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+') AS toks
      FROM documents WHERE doc_id IS NOT NULL
    ),
    b AS (
      SELECT {_VG_BUCKET} AS bucket, toks
      FROM tok, st
    ),
    pb AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(len(toks)), 0) AS BIGINT) AS n_tokens
      FROM b GROUP BY bucket
    ),
    fx AS (
      SELECT tok, MIN(bucket) AS bucket
      FROM (SELECT bucket, unnest(toks) AS tok FROM b)
      GROUP BY tok
    ),
    nf AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new_types
      FROM fx GROUP BY bucket
    )
    SELECT bucket, n_docs, n_tokens,
           CAST(COALESCE(n_new_types, 0) AS BIGINT) AS n_new_types,
           CAST(SUM(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(n_new_types, 0)) OVER (ORDER BY bucket)
                AS BIGINT) AS cum_types
    FROM pb LEFT JOIN nf USING (bucket)
    """,
    doc="Heaps-law vocabulary-growth curve (text_analysis.vocab_growth): "
    "documents in corpus order split into 20 equi-width id buckets; per "
    "bucket — docs, token occurrences, NEW types (first-occurrence "
    "bucket via min-bucket groupBy) and cumulative totals. All-integer "
    "output, one tokenize pass, map-side-combining groupBys, cumulative "
    "windows only over the 20-row bucket frame.",
)
def ext_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.text_analysis import vocab_growth

    return vocab_growth(
        load_table(spark, sf_dir, "documents"), n_buckets=_VG_NB
    )


@register(
    "ext_ngram_novelty",
    rf"""
    WITH st AS (
      SELECT CAST(MIN(doc_id) AS DOUBLE) AS mn,
             CAST(MAX(doc_id) AS DOUBLE) AS mx
      FROM documents WHERE doc_id IS NOT NULL
    ),
    tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '')
               AS toks
      FROM documents WHERE doc_id IS NOT NULL
    ),
    shl AS (
      SELECT doc_id,
             unnest(list_distinct(
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in generate_series(1, len(toks) - 2)]
             )) AS shingle
      FROM tok
    ),
    b AS (
      SELECT {_VG_BUCKET} AS bucket, md5(shingle) AS sh
      FROM shl, st
    ),
    pb AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM b GROUP BY bucket
    ),
    first AS (
      SELECT sh, MIN(bucket) AS fb FROM b GROUP BY sh
    ),
    rep AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_repeats
      FROM b JOIN first USING (sh)
      WHERE bucket > fb
      GROUP BY bucket
    )
    SELECT bucket, n_occurrences,
           CAST(COALESCE(n_repeats, 0) AS BIGINT) AS n_repeats,
           CAST((CAST(COALESCE(n_repeats, 0) AS HUGEINT) * 1000000) // n_occurrences
                AS BIGINT) AS repeat_q6
    FROM pb LEFT JOIN rep USING (bucket)
    """,
    doc="Redundancy-growth audit (text_analysis.ngram_novelty): per "
    "corpus-order bucket, distinct-3-gram occurrences and how many "
    "repeat an n-gram first seen in an EARLIER bucket — the direct "
    "measurement of a crawl re-crawling itself, deciding whether the "
    "next dedup pass pays for itself. Postings collapse to "
    "(shingle-md5, bucket) min-bucket state; exact integer ppm "
    "repeat fraction; no corpus-scale window anywhere.",
)
def ext_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.text_analysis import ngram_novelty

    return ngram_novelty(
        load_table(spark, sf_dir, "documents"), n_buckets=_VG_NB
    )


# ---------------------------------------------------------------------------
# ext_minhash_lsh_capped — the textskew probe's finding, fixed and graded
# ---------------------------------------------------------------------------

from dbt_glue_spark.plans.extension_queries import (  # noqa: E402
    _JACCARD_TAIL,
    _MINHASH_SIG,
)

_LSH_CAP = 64


@register(
    "ext_minhash_lsh_capped",
    "WITH "
    + _MINHASH_SIG
    + f""",
    bands AS (
      SELECT id, b, key FROM sig, LATERAL (VALUES
        (0, MD5(h0 || '|' || h1)), (1, MD5(h2 || '|' || h3)),
        (2, MD5(h4 || '|' || h5)), (3, MD5(h6 || '|' || h7))
      ) AS v(b, key)
    ),
    keepb AS (
      SELECT b, key FROM bands GROUP BY b, key HAVING COUNT(*) <= {_LSH_CAP}
    ),
    bandsc AS (
      SELECT bands.id, bands.b, bands.key
      FROM bands JOIN keepb USING (b, key)
    ),
    overb AS (
      SELECT b, key FROM bands GROUP BY b, key HAVING COUNT(*) > {_LSH_CAP}
    ),
    star AS (
      SELECT DISTINCT mn AS id_a, id AS id_b FROM (
        SELECT bands.id AS id,
               MIN(bands.id) OVER (PARTITION BY bands.b, bands.key) AS mn
        FROM bands JOIN overb USING (b, key)
      ) WHERE mn < id
    ),
    cand AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT a.id AS id_a, b2.id AS id_b
        FROM bandsc a JOIN bandsc b2
          ON a.key = b2.key AND a.b = b2.b AND a.id < b2.id
        UNION ALL SELECT id_a, id_b FROM star
      )
    ),
"""
    + _JACCARD_TAIL.replace("    sizes AS", "sizes AS", 1)
    + """
    SELECT c.id_a, c.id_b, j.jaccard
    FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
    WHERE j.jaccard >= 0.5
    """,
    doc="MinHash+LSH with the mega-bucket cap engaged (band buckets "
    "holding > 64 docs skipped before the self-join) — the skew defense "
    "the round-8 textskew probe demanded: a 90%-shared boilerplate "
    "prefix drove the uncapped bucket join to 10.1x runtime at 2.9x "
    "tokens (quadratic hot buckets). A bucket that size is a "
    "template family whose pair set carries no per-pair signal; "
    "exact/span dedup and dup_clusters own that mass linearly. The "
    "uncapped exact-recall variant stays live as ext_minhash_lsh_pairs "
    "— this entry grades the bounded-cost path, mirroring the "
    "ext_ngram_jaccard_cutoff pattern.",
)
def ext_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import dedup

    return dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5,
        max_band_bucket=_LSH_CAP,
    )


# ---------------------------------------------------------------------------
# ext_containment_pairs — directional sub-document duplication
# ---------------------------------------------------------------------------


@register(
    "ext_containment_pairs",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '')
               AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in generate_series(1, len(toks) - 2)]
             )) AS shingle
      FROM tok
    ),
    keepsh AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 20),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keepsh USING (shingle)),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM shc GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM shc a JOIN shc b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE sa.n_sh >= 3 AND n_common * 5 >= sa.n_sh * 4
    """,
    doc="Directional containment join (dedup.containment_pairs, Broder): "
    "ordered pairs where >= 4/5 of doc a's distinct 3-grams sit inside "
    "doc b — the sub-document duplication Jaccard misses (a quote fully "
    "contained in a long article has near-zero Jaccard, containment ~1). "
    "Integer cross-multiplied threshold, inverted-index candidates only, "
    "df>20 stop-shingles dropped before the self-join (the boilerplate "
    "skew defense, same trade as ngram_jaccard_cutoff).",
)
def ext_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.dedup import containment_pairs

    return containment_pairs(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        threshold_num=4,
        threshold_den=5,
        min_shingles=3,
        df_freq_cutoff=20,
    )


# ---------------------------------------------------------------------------
# ext_lsh_recall_audit — measured recall of the banded scheme
# ---------------------------------------------------------------------------

from dbt_glue_spark.plans.extension_queries import _SH  # noqa: E402

# sig CTE without its embedded _SH prefix (the audit shares one sh CTE
# between the truth and LSH sides)
_SIG_ONLY = _MINHASH_SIG.removeprefix(_SH)


@register(
    "ext_lsh_recall_audit",
    "WITH "
    + _SH
    + ","
    + _JACCARD_TAIL.lstrip().rstrip()
    + ",\n    truth AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5)"
    + _SIG_ONLY.rstrip().rstrip(")").rstrip()  # reopen: _SIG_ONLY is ",\n sig AS (...)\n"
    + """
    ),
    bands AS (
      SELECT id, b, key FROM sig, LATERAL (VALUES
        (0, MD5(h0 || '|' || h1)), (1, MD5(h2 || '|' || h3)),
        (2, MD5(h4 || '|' || h5)), (3, MD5(h6 || '|' || h7))
      ) AS v(b, key)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b2.id AS id_b
      FROM bands a JOIN bands b2
        ON a.key = b2.key AND a.b = b2.b AND a.id < b2.id
    ),
    found AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
      WHERE j.jaccard >= 0.5
    ),
    hit AS (SELECT * FROM truth INTERSECT SELECT * FROM found)
    SELECT CAST(n_true AS BIGINT) AS n_true,
           CAST(n_found AS BIGINT) AS n_found,
           CAST(n_true - n_found AS BIGINT) AS n_missed,
           CAST(CASE WHEN n_true > 0 THEN (CAST(n_found AS HUGEINT) * 1000000) // n_true
                END AS BIGINT) AS recall_q6
    FROM (SELECT (SELECT COUNT(*) FROM truth) AS n_true,
                 (SELECT COUNT(*) FROM hit) AS n_found)
    """,
    doc="Measured recall of banded MinHash-LSH against the exact "
    "inverted-index Jaccard truth at the same threshold "
    "(dedup.lsh_recall_audit) — the number bands/hashes are tuned "
    "with, instead of trusting the 1-(1-s^r)^b curve; LSH pairs are "
    "exact-verified so precision is 1 and the audit reports the "
    "candidate-generation miss mass (exact integer ppm). The audit "
    "runs on a sampled slice at scale; both sides collapse to 1-row "
    "counters.",
)
def ext_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.dedup import lsh_recall_audit

    return lsh_recall_audit(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        threshold=0.5,
    )


# ---------------------------------------------------------------------------
# streaming_psi_drift — the retrain trigger computed live
# ---------------------------------------------------------------------------


@register(
    "streaming_psi_drift",
    f"""
    WITH ha AS (
      SELECT CAST(LEAST(FLOOR(value / 16), 31) AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS ca
      FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1
    ),
    hb AS (
      SELECT CAST(LEAST(FLOOR(value / 16), 31) AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cb
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT 'value' AS feature, n_a, n_b,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           FLOOR(SUM(psi_t) * 1000000.0 + 0.5) / 1000000.0 AS psi,
           FLOOR(SUM(js_t) * 1000000.0 + 0.5) / 1000000.0 AS js
    FROM (
      SELECT bucket, n_a, n_b,
             (GREATEST(pa, {_PSI_EPS!r}) - GREATEST(pb, {_PSI_EPS!r}))
               * ln(GREATEST(pa, {_PSI_EPS!r}) / GREATEST(pb, {_PSI_EPS!r}))
               AS psi_t,
             0.5 * (CASE WHEN ca > 0
                         THEN pa * ln(2.0 * pa / (pa + pb)) ELSE 0.0 END
                    + CASE WHEN cb > 0
                           THEN pb * ln(2.0 * pb / (pa + pb)) ELSE 0.0 END)
               AS js_t
      FROM (
        SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
               CAST(COALESCE(ca, 0) AS BIGINT) AS ca,
               CAST(COALESCE(cb, 0) AS BIGINT) AS cb,
               n_a, n_b,
               CAST(COALESCE(ca, 0) AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
               CAST(COALESCE(cb, 0) AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb
        FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket,
        (SELECT (SELECT CAST(SUM(ca) AS BIGINT) FROM ha) AS n_a,
                (SELECT CAST(SUM(cb) AS BIGINT) FROM hb) AS n_b) t
      )
    )
    GROUP BY n_a, n_b
    """,
    doc="Streaming PSI/JS retrain trigger end-to-end "
    "(streaming/pipelines.histogram_stream_sink + "
    "audit.psi_js_from_histograms): the event value stream maintains a "
    "<=32-row histogram ledger cell-wise via foreachBatch (histogram "
    "counting is linear => streamed == batch exactly, any batching), "
    "then the live ledger is PSI/JS-scored against a batch reference "
    "slice (event_id % 2 = 0) with the ext_psi_js_drift arithmetic - "
    "the log-based companion to streaming_drift_monitor's TV/chi2 "
    "terms. Constant state per stream; the oracle recomputes both "
    "histograms from scratch, proving the ledger lost nothing.",
)
def streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from dbt_glue_spark.extensions.audit import (
        psi_js_from_histograms,
        value_histogram,
    )
    from dbt_glue_spark.streaming.pipelines import (
        histogram_stream_sink,
        read_ledger_or,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "value")
    target = streams.sink_dir()
    with streams.staged(events, 4) as stream:
        q = histogram_stream_sink(
            stream, spark, target, os.path.join(target, "ckpt"), "value", 16
        )
        streams.drain(q, "streaming_psi_drift")
    live = read_ledger_or(
        spark, target, value_histogram(events.limit(0), "value", 16)
    )
    ref = value_histogram(
        events.filter(F.col("event_id") % 2 == 0), "value", 16
    )
    return psi_js_from_histograms(ref, live, "value", eps=_PSI_EPS)


# ---------------------------------------------------------------------------
# ext_psi_drift_by_source — stratified drift (names the offending source)
# ---------------------------------------------------------------------------


@register(
    "ext_psi_drift_by_source",
    f"""
    WITH b_snap AS (
      SELECT source,
             text || CASE WHEN doc_id % 13 = 0 THEN ' [edited]'
                          ELSE '' END AS text
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT 'srcNEW' AS source, 'new document ' || doc_id AS text
      FROM documents WHERE doc_id % 23 = 0
    ),
    ha AS (
      SELECT source AS g,
             CAST(LEAST(FLOOR(LENGTH(text) / {_PSI_W}), {_PSI_NB - 1}) AS INT)
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS ca
      FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
      GROUP BY 1, 2
    ),
    hb AS (
      SELECT source AS g,
             CAST(LEAST(FLOOR(LENGTH(text) / {_PSI_W}), {_PSI_NB - 1}) AS INT)
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cb
      FROM b_snap WHERE source IS NOT NULL AND text IS NOT NULL
      GROUP BY 1, 2
    ),
    ta AS (SELECT g, CAST(SUM(ca) AS BIGINT) AS n_a FROM ha GROUP BY g),
    tb AS (SELECT g, CAST(SUM(cb) AS BIGINT) AS n_b FROM hb GROUP BY g),
    j AS (
      SELECT COALESCE(ha.g, hb.g) AS g,
             COALESCE(ha.bucket, hb.bucket) AS bucket,
             CAST(COALESCE(ca, 0) AS BIGINT) AS ca,
             CAST(COALESCE(cb, 0) AS BIGINT) AS cb
      FROM ha FULL OUTER JOIN hb
        ON ha.g = hb.g AND ha.bucket = hb.bucket
    ),
    jt AS (
      SELECT j.g, j.bucket, j.ca, j.cb, ta.n_a, tb.n_b,
             CAST(j.ca AS DOUBLE) / CAST(ta.n_a AS DOUBLE) AS pa,
             CAST(j.cb AS DOUBLE) / CAST(tb.n_b AS DOUBLE) AS pb
      FROM j LEFT JOIN ta ON ta.g = j.g LEFT JOIN tb ON tb.g = j.g
    ),
    terms AS (
      SELECT g, n_a, n_b,
             (GREATEST(pa, {_PSI_EPS!r}) - GREATEST(pb, {_PSI_EPS!r}))
               * ln(GREATEST(pa, {_PSI_EPS!r}) / GREATEST(pb, {_PSI_EPS!r}))
               AS psi_t,
             0.5 * (CASE WHEN ca > 0
                         THEN pa * ln(2.0 * pa / (pa + pb)) ELSE 0.0 END
                    + CASE WHEN cb > 0
                           THEN pb * ln(2.0 * pb / (pa + pb)) ELSE 0.0 END)
               AS js_t
      FROM jt
    )
    SELECT g AS source, n_a, n_b,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           CASE WHEN n_a IS NOT NULL AND n_b IS NOT NULL
                THEN FLOOR(SUM(psi_t) * 1000000.0 + 0.5) / 1000000.0
           END AS psi,
           CASE WHEN n_a IS NOT NULL AND n_b IS NOT NULL
                THEN FLOOR(SUM(js_t) * 1000000.0 + 0.5) / 1000000.0
           END AS js
    FROM terms
    GROUP BY g, n_a, n_b
    """,
    doc="Per-source PSI/JS drift (audit.psi_js_drift_by_group) over "
    "document length between two snapshots — corpus-level drift hides a "
    "single source going bad behind the stable majority; the stratified "
    "form names the offender. The added-docs slice lands in a NEW "
    "source absent from snapshot A, exercising the one-sided-group "
    "contract (NULL psi/js, n_a missing). Same exact-count/eps/0-ln-0 "
    "discipline as ext_psi_js_drift; both sides collapse to "
    "groups x 32 rows at the scan, folds ride per-group bounded frames.",
)
def ext_psi_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import psi_js_drift_by_group

    docs = load_table(spark, sf_dir, "documents")
    a = docs.select("source", F.length("text").cast("bigint").alias("len"))
    edited = docs.filter(F.col("doc_id") % 17 != 0).select(
        "source",
        F.length(
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.col("text"), F.lit(" [edited]")),
            ).otherwise(F.col("text"))
        )
        .cast("bigint")
        .alias("len"),
    )
    added = docs.filter(F.col("doc_id") % 23 == 0).select(
        F.lit("srcNEW").alias("source"),
        F.length(
            F.concat(F.lit("new document "), F.col("doc_id").cast("string"))
        )
        .cast("bigint")
        .alias("len"),
    )
    b = edited.unionByName(added)
    return psi_js_drift_by_group(
        a, b, "source", "len", bucket_width=_PSI_W, n_buckets=_PSI_NB,
        eps=_PSI_EPS,
    )
