"""Extension-operator queries: dedup, similarity search, text analysis.

Every entry drives the real library operators in ``extensions/`` and pairs
them with a DuckDB oracle that recomputes the identical algorithm in SQL —
including the md5-based MinHash signatures and LSH band keys, which are
engine-portable by construction (hex md5 compares lexicographically the
same everywhere).

Shared oracle CTE fragments are assembled here once (_TOK, _SH, _JACCARD)
to keep Spark and SQL definitions visibly in sync.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_glue_spark.extensions import dedup, similarity, text_analysis
from dbt_glue_spark.extensions.similarity import _hyperplane
from dbt_glue_spark.plans import streams
from dbt_glue_spark.plans.catalog import register
from dbt_glue_spark.quality import profile
from dbt_glue_spark.quality import tests as dq
from dbt_glue_spark.sources.registry import load_table

# ---- shared DuckDB fragments (documents tokenization/shingling) ----------

_TOK = r"""
    tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    )
"""

_SH = (
    _TOK
    + r""",
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in generate_series(1, len(toks) - 2)]
             )) AS shingle
      FROM tok
    )
"""
)

_JACCARD_TAIL = """
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT id_a, id_b,
             FLOOR(CAST(n_common AS DOUBLE)
                   / (sa.n_sh + sb.n_sh - n_common) * 1000000 + 0.5) / 1000000
               AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    )
"""

_MINHASH_SIG = (
    _SH
    + """,
    sig AS (
      SELECT doc_id AS id,
    """
    + ",\n".join(
        f"MIN(substring(MD5(shingle) || MD5('x:' || shingle), {1 + 8 * i}, 8)) AS h{i}"
        for i in range(8)
    )
    + """
      FROM sh GROUP BY doc_id
    )
"""
)


# ---- dedup ---------------------------------------------------------------


@register(
    "ext_exact_dedup",
    r"""
    WITH hashed AS (
      SELECT *, MD5(trim(regexp_replace(regexp_replace(translate(lower(text), 'ς̇', 'σ'),
                 '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS h
      FROM documents
    ), keep AS (SELECT h, MIN(doc_id) AS doc_id FROM hashed GROUP BY h)
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM hashed d JOIN keep k ON d.h = k.h AND d.doc_id = k.doc_id
    """,
    doc="Exact dedup (normalized): keep min-id row per md5 of normalized "
    "text. One 16-byte-key shuffle regardless of document size.",
)
def ext_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"), normalize=True)


@register(
    "ext_ngram_jaccard_pairs",
    "WITH "
    + _SH
    + ", "
    + _JACCARD_TAIL
    + """
    SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
    """,
    doc="All-pairs word-3-gram Jaccard ≥ 0.5 via inverted-index self-join "
    "(no cross join; cost ∝ Σ postings² per shingle).",
)
def ext_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


@register(
    "ext_exact_dedup_incremental",
    r"""
    WITH hashed AS (
      SELECT *, MD5(trim(regexp_replace(regexp_replace(translate(lower(text), 'ς̇', 'σ'),
                 '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS h
      FROM documents
    ),
    ledger AS (SELECT DISTINCT h FROM hashed WHERE doc_id < 300),
    batch AS (SELECT * FROM hashed WHERE doc_id >= 200),
    fresh AS (SELECT b.* FROM batch b ANTI JOIN ledger l ON b.h = l.h),
    keep AS (SELECT h, MIN(doc_id) AS doc_id FROM fresh GROUP BY h)
    SELECT f.doc_id, f.text, f.lang, f.source, f.n_chars
    FROM fresh f JOIN keep k ON f.h = k.h AND f.doc_id = k.doc_id
    """,
    doc="Incremental exact dedup — the production shape: the arriving "
    "batch dedups against the accumulated corpus's hash ledger via one "
    "anti-join plus the intra-batch min-id pick. The batch ranges overlap "
    "(ledger = ids < 300, batch = ids ≥ 200) so the ledger suppression is "
    "verified on 100 genuinely duplicate docs, not an empty intersection. "
    "Per-batch cost is O(batch + ledger join), never O(corpus rescan); "
    "the ledger is 16 bytes/doc of carried state.",
)
def ext_exact_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") < 300)
    second = docs.filter(F.col("doc_id") >= 200)
    _, ledger = dedup.exact_dedup_incremental(first, None, normalize=True)
    kept, _ = dedup.exact_dedup_incremental(second, ledger, normalize=True)
    return kept


@register(
    "ext_ngram_jaccard_cutoff",
    "WITH "
    + _SH
    + """,
    keepsh AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 5),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keepsh USING (shingle)),
"""
    + _JACCARD_TAIL.replace("FROM sh GROUP BY", "FROM shc GROUP BY").replace(
        "FROM sh a JOIN sh b", "FROM shc a JOIN shc b"
    )
    + """
    SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
    """,
    doc="Word-3-gram Jaccard with the stop-shingle cutoff engaged "
    "(document frequency > 5 dropped before the postings self-join) — "
    "the operator's skew defense: a boilerplate shingle shared by k docs "
    "costs k² join rows, so frequent shingles are exactly the ones that "
    "blow up at 100 TB, and exactly the ones carrying no dedup signal.",
)
def ext_ngram_jaccard_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5, df_freq_cutoff=5
    )


@register(
    "ext_minhash_signatures",
    "WITH " + _MINHASH_SIG + "SELECT * FROM sig",
    doc="MinHash signatures (8 hashes, md5-based → engine-portable); "
    "explode + groupBy, signature width constant.",
)
def ext_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(load_table(spark, sf_dir, "documents"))


@register(
    "ext_minhash_lsh_pairs",
    "WITH "
    + _MINHASH_SIG
    + """,
    bands AS (
      SELECT id, b, key FROM sig, LATERAL (VALUES
        (0, MD5(h0 || '|' || h1)), (1, MD5(h2 || '|' || h3)),
        (2, MD5(h4 || '|' || h5)), (3, MD5(h6 || '|' || h7))
      ) AS v(b, key)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b2.id AS id_b
      FROM bands a JOIN bands b2 ON a.key = b2.key AND a.b = b2.b AND a.id < b2.id
    ),
    """
    + _JACCARD_TAIL.replace("    sizes AS", "sizes AS", 1)
    + """
    SELECT c.id_a, c.id_b, j.jaccard
    FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
    WHERE j.jaccard >= 0.5
    """,
    doc="MinHash+LSH, EXACT-RECALL mode (max_band_bucket=None, explicit "
    "opt-in since the round-9 default flip): band-key bucket join "
    "generates candidates, exact Jaccard verifies. Full recall, but the "
    "bucket self-join is quadratic in the largest band bucket — "
    "small/curated corpora only. The 100 TB path is the capped default "
    "graded as ext_minhash_lsh_capped.",
)
def ext_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5, max_band_bucket=None
    )


@register(
    "ext_span_dedup",
    "WITH "
    + _TOK
    + """,
    idx AS (
      SELECT doc_id, toks,
             unnest(generate_series(0,
               GREATEST(CAST(CEIL(len(toks) / 32.0) AS INT) - 1, 0))) AS i
      FROM tok
    ),
    spans AS (
      SELECT doc_id, i AS span_idx,
             array_to_string(toks[(i * 32 + 1):(i * 32 + 32)], ' ') AS span
      FROM idx
    ),
    w AS (
      SELECT doc_id, span_idx,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx)
               AS rn
      FROM spans WHERE span <> ''
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           FLOOR(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 1000000 + 0.5) / 1000000 AS dup_span_ratio
    FROM w GROUP BY doc_id
    """,
    doc="Stride-window exact-substring duplication report "
    "(dedup.span_dedup — the tractable shape of Lee et al. 2022 substring "
    "dedup): 32-token spans every 32 tokens, first (doc, idx) occurrence "
    "wins, later copies count as duplicated. Flags docs embedding copied "
    "passages below doc-level dedup granularity. Two narrow shuffles "
    "(16-byte hashes, (id, idx) pairs).",
)
def ext_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.span_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "ext_minhash_incremental",
    "WITH "
    + _MINHASH_SIG
    + """,
    bands AS (
      SELECT id, b, key FROM sig, LATERAL (VALUES
        (0, MD5(h0 || '|' || h1)), (1, MD5(h2 || '|' || h3)),
        (2, MD5(h4 || '|' || h5)), (3, MD5(h6 || '|' || h7))
      ) AS v(b, key)
    ),
    corpus AS (SELECT * FROM bands WHERE id % 4 <> 0),
    batch  AS (SELECT * FROM bands WHERE id % 4 = 0),
    intra AS (
      SELECT a.id AS id_a, b2.id AS id_b
      FROM batch a JOIN batch b2
        ON a.key = b2.key AND a.b = b2.b AND a.id < b2.id
    ),
    vs_corpus AS (
      SELECT LEAST(a.id, c.id) AS id_a, GREATEST(a.id, c.id) AS id_b
      FROM batch a JOIN corpus c ON a.key = c.key AND a.b = c.b AND a.id <> c.id
    )
    SELECT DISTINCT id_a, id_b FROM (
      SELECT * FROM intra UNION ALL SELECT * FROM vs_corpus
    )
    """,
    doc="Incremental MinHash-LSH (dedup.minhash_lsh_incremental): the "
    "arriving batch (doc_id % 4 = 0) is banded once and joined against "
    "the corpus band ledger (doc_id % 4 <> 0) — candidate pairs within "
    "the batch and vs the corpus, per-batch cost O(batch x matching "
    "buckets), carried state ~36 bytes x 4 bands per doc. The production "
    "shape of continuous near-dedup at ingest.",
)
def ext_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    ledger = dedup.minhash_band_ledger(corpus)
    pairs, _new_ledger = dedup.minhash_lsh_incremental(batch, ledger)
    return pairs


def _simhash_cte(bits: int) -> str:
    """CTE chain ending in ``sim(id, simhash)`` — the DuckDB mirror of
    dedup.simhash at the given width."""
    return (
        _TOK
        + f""",
    tokd AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM tok),
    th AS (SELECT doc_id, MD5(tok) AS h FROM tokd),
    votes AS (
      SELECT doc_id, bit,
             SUM(CASE WHEN (strpos('0123456789abcdef', substring(h, bit + 1, 1)) - 1) % 2 = 1
                      THEN 1 ELSE -1 END) AS v
      FROM th, (SELECT unnest(generate_series(0, {bits - 1})) AS bit) bits
      GROUP BY doc_id, bit
    ),
    sim AS (
      SELECT doc_id AS id,
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
"""
    )


@register(
    "ext_simhash",
    "WITH " + _simhash_cte(16) + "SELECT id, simhash FROM sim",
    doc="16-bit SimHash from token-md5 nibble parity; pure integer "
    "arithmetic, identical across engines.",
)
def ext_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf_dir, "documents"), bits=16)


@register(
    "ext_simhash_pairs",
    "WITH "
    + _simhash_cte(32)
    + """,
    bands AS (
      SELECT id, b, (simhash >> (b * 8)) & 255 AS key
      FROM sim, (SELECT unnest(generate_series(0, 3)) AS b) bs
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b2.id AS id_b
      FROM bands a JOIN bands b2 ON a.b = b2.b AND a.key = b2.key AND a.id < b2.id
    ),
    ham AS (
      SELECT id_a, id_b,
             CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
      FROM cand
      JOIN sim sa ON sa.id = cand.id_a
      JOIN sim sb ON sb.id = cand.id_b
    )
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
    """,
    doc="SimHash near-dup pairs: 32-bit fingerprint, 4 bit-band buckets "
    "for candidates (pigeonhole-exhaustive for hamming < 4), exact "
    "hamming verification on candidates only — the third near-dup "
    "family beside minhash-LSH and embedding-LSH, same bucketed "
    "never-corpus² shape.",
)
def ext_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(
        load_table(spark, sf_dir, "documents"), bits=32, bands=4, max_hamming=3
    )


# ---- similarity search ---------------------------------------------------
# (ext_embedding_near_dup is registered below, after _bucket_sql)


def _cos_sql(a: str, b: str) -> str:
    """Zero-norm-guarded cosine at 4 dp, the SINGLE source of truth for
    every oracle cosine — MUST mirror functions/vectors.cosine_sim
    (NULL when either norm is 0; DuckDB's list_cosine_similarity returns
    -1.0 for zero vectors, and both it and list_inner_product hard-error
    when fed a NULL list, so callers must scan from an IS NOT NULL
    materialized CTE)."""
    return (
        f"FLOOR(CASE WHEN list_inner_product({a}, {a}) = 0 "
        f"OR list_inner_product({b}, {b}) = 0 THEN NULL "
        f"ELSE list_cosine_similarity({a}, {b}) END * 10000 + 0.5) / 10000"
    )


@register(
    "ext_knn_bruteforce",
    f"""
    WITH q AS MATERIALIZED (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings
               WHERE vec_id < 10 AND embedding IS NOT NULL),
         c AS MATERIALIZED (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE embedding IS NOT NULL),
    scored AS (
      SELECT query_id, neighbor_id,
             {_cos_sql('qv', 'cv')} AS sim
      FROM q, c WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, sim, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 5
    """,
    doc="Exact top-5 cosine ANN baseline: broadcast query set × corpus "
    "scan, window top-k. Zero corpus shuffle — the correct plan even at "
    "100 TB for small probe sets.",
)
def ext_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register(
    "ext_embedding_outliers",
    """
    WITH dims AS (
      SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
    ),
    cent AS (
      SELECT dim, CAST(SUM(CAST(v AS DECIMAL(28,10))) / COUNT(*) AS DOUBLE)
               AS c
      FROM dims GROUP BY dim
    ),
    per AS (
      SELECT vec_id,
             CAST(SUM(CAST(v * c AS DECIMAL(28,10))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(v * v AS DECIMAL(28,10))) AS DOUBLE) AS nv
      FROM dims JOIN cent USING (dim) GROUP BY vec_id
    ),
    nc AS (SELECT CAST(SUM(CAST(c * c AS DECIMAL(28,10))) AS DOUBLE) AS n
           FROM cent)
    SELECT vec_id,
           CASE WHEN nv * n = 0 THEN NULL
                ELSE FLOOR(dot / SQRT(nv * n) * 10000 + 0.5) / 10000 END
             AS centroid_sim,
           CASE WHEN nv * n = 0 THEN TRUE
                ELSE FLOOR(dot / SQRT(nv * n) * 10000 + 0.5) / 10000 < -0.15 END
             AS outlier
    FROM per, nc
    """,
    doc="Embedding sanity gate (similarity.centroid_outliers): cosine of "
    "every vector to the corpus centroid, outliers below -0.15 — the "
    "cheap screen for corrupt/mis-normalized embeddings before ANN or "
    "clustering trusts the column. One posexplode pass builds the "
    "|dim|-row centroid (broadcasts anywhere); vectors never shuffle "
    "whole; decimal accumulation keeps scores partition-invariant.",
)
def ext_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Spark posexplode is 0-based, the oracle's generate_series is 1-based;
    # both enumerate the same (vector, component) pairs so the aggregates
    # agree — dim never appears in the output.
    return similarity.centroid_outliers(emb)


def _bucket_sql(col: str, planes: int = 4, dim: int = 64) -> str:
    parts = []
    for p in range(planes):
        vec = ", ".join(repr(v) for v in _hyperplane(dim, p))
        parts.append(
            f"(CASE WHEN list_dot_product({col}, [{vec}]) >= 0 THEN '1' ELSE '0' END)"
        )
    return " || ".join(parts)


@register(
    "ext_embedding_near_dup",
    f"""
    WITH base AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
                           WHERE embedding IS NOT NULL),
    e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,
                      {_bucket_sql('embedding::DOUBLE[]')} AS b
               FROM base)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_sql('a.v', 'b.v')} AS sim
    FROM e a JOIN e b ON a.b = b.b AND a.vec_id < b.vec_id
    WHERE {_cos_sql('a.v', 'b.v')} >= 0.35
    """,
    doc="Embedding-cosine near-dup pairs on the LSH-bucketed path "
    "(random-hyperplane sign buckets → equi-join within buckets only): "
    "work ∝ Σ bucket_size², never corpus² — the 100 TB shape. Threshold "
    "0.35 sits inside this synthetic corpus's similarity range (max "
    "~0.51) so the gate checks real pair values, not an empty set. The "
    "exact all-pairs variant (buckets=0) stays available for small "
    "filtered sets via dedup.embedding_near_dup_pairs.",
)
def ext_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35, buckets=4
    )


@register(
    "ext_knn_lsh",
    f"""
    WITH base AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
                           WHERE embedding IS NOT NULL),
    q AS MATERIALIZED (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                      {_bucket_sql('embedding::DOUBLE[]')} AS b
               FROM base WHERE vec_id < 10),
         c AS MATERIALIZED (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
                      {_bucket_sql('embedding::DOUBLE[]')} AS b
               FROM base),
    scored AS (
      SELECT query_id, neighbor_id,
             {_cos_sql('qv', 'cv')} AS sim
      FROM q JOIN c USING (b) WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, sim, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 5
    """,
    doc="Approximate top-5 via random-hyperplane LSH (4 deterministic "
    "planes → 16 buckets): bucket equi-join replaces the cross join — the "
    "corpus-vs-corpus scale path. Oracle embeds identical plane literals.",
)
def ext_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_lsh(
        emb, emb.filter(F.col("vec_id") < 10), k=5, planes=4, dim=64
    )


# ---- text analysis -------------------------------------------------------


@register(
    "ext_text_stats",
    "WITH "
    + _TOK
    + """
    SELECT d.doc_id,
           CAST(length(d.text) AS BIGINT) AS n_chars_computed,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           FLOOR(list_sum([CAST(length(t) AS DOUBLE) for t in toks]) / len(toks)
                 * 1000000 + 0.5) / 1000000 AS avg_token_len,
           FLOOR(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                 * 1000000 + 0.5) / 1000000 AS type_token_ratio
    FROM documents d JOIN tok USING (doc_id)
    """,
    doc="Per-document stats: narrow projection, no shuffle; list ops stay "
    "in codegen.",
)
def ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.text_stats(load_table(spark, sf_dir, "documents"))


@register(
    "ext_quality_score",
    "WITH "
    + _TOK
    + r"""
    , stats AS (
      SELECT d.doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr_raw,
             CAST(length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
               / greatest(length(d.text), 1) AS alpha_raw,
             CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END AS len_ok
      FROM documents d JOIN tok USING (doc_id)
    )
    SELECT doc_id, n_tokens,
           FLOOR(ttr_raw * 1000000 + 0.5) / 1000000 AS ttr,
           FLOOR(alpha_raw * 1000000 + 0.5) / 1000000 AS alpha_ratio,
           FLOOR((len_ok + ttr_raw + alpha_raw) / 3.0 * 1000000 + 0.5) / 1000000
             AS quality_score
    FROM stats
    """,
    doc="C4/Gopher-style quality heuristic: length band + lexical "
    "diversity + alpha ratio.",
)
def ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.quality_score(load_table(spark, sf_dir, "documents"))


def _langid_oracle() -> str:
    langs = sorted(text_analysis.STOPWORDS)
    score_cols = []
    for lang in langs:
        words = ", ".join(f"'{w}'" for w in text_analysis.STOPWORDS[lang])
        score_cols.append(
            f"CAST(len(list_filter(toks, t -> t IN ({words}))) AS BIGINT) AS score_{lang}"
        )
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN {best} > 0 AND score_{l} = {best} THEN '{l}'" for l in langs
    ) + " ELSE 'und' END"
    return (
        "WITH ltok AS (SELECT doc_id, list_filter(string_split_regex(lower(text),"
        r" '\s+'), t -> t <> '') AS toks FROM documents), "
        "scored AS (SELECT doc_id, "
        + ", ".join(score_cols)
        + " FROM ltok) "
        + f"SELECT doc_id, {', '.join('score_' + l for l in langs)}, {case} AS lang_pred"
        + " FROM scored"
    )


@register(
    "ext_language_id",
    _langid_oracle(),
    doc="Stopword-overlap language ID (deterministic tie order); operator "
    "shape identical to a fastText swap-in: projection, no shuffle.",
)
def ext_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.language_id(load_table(spark, sf_dir, "documents"))


@register(
    "ext_token_count",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_tokens,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+'))
                + len(regexp_extract_all(text, '[0-9]+'))
                + len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT)
             AS n_tokens_total
    FROM documents
    """,
    doc="Regex-lexer token counting (BPE-ish cost model).",
)
def ext_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.token_count_regex(load_table(spark, sf_dir, "documents"))


@register(
    "ext_doc_fingerprint",
    "WITH "
    + _TOK
    + """
    SELECT doc_id,
           MD5(CASE WHEN len(toks) >= 4 THEN list_aggregate(
                 [MD5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                  for i in generate_series(1, len(toks) - 3)],
                 'string_agg', '')
               ELSE '' END) AS fingerprint,
           CAST(len(toks) AS BIGINT) AS n_tokens
    FROM tok
    """,
    doc="Order-sensitive fingerprint: md5 over positional 4-gram window "
    "md5s (winnowing-lite).",
)
def ext_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.doc_fingerprint(load_table(spark, sf_dir, "documents"))


# ---- data-quality operators on live tables -------------------------------


@register(
    "dq_unique_violations",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_records
    FROM events GROUP BY user_id HAVING COUNT(*) > 1
    """,
    doc="dbt `unique` test operator (failing keys with counts) on "
    "events.user_id.",
)
def dq_unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dq.unique(load_table(spark, sf_dir, "events"), "user_id")


@register(
    "dq_accepted_values",
    """
    SELECT event_type AS value_field, CAST(COUNT(*) AS BIGINT) AS n_records
    FROM events GROUP BY event_type
    HAVING event_type NOT IN ('click', 'view', 'purchase', 'signup')
    """,
    doc="dbt accepted_values test (reference: generic_test_sql/"
    "accepted_values.sql:1-23): 'error' rows are the expected failures.",
)
def dq_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dq.accepted_values(
        load_table(spark, sf_dir, "events"),
        "event_type",
        ["click", "view", "purchase", "signup"],
    )


@register(
    "dq_relationships_orphans",
    """
    SELECT DISTINCT user_id AS from_field FROM events
    WHERE user_id IS NOT NULL
      AND user_id NOT IN (SELECT c_custkey FROM customer)
    """,
    doc="dbt relationships test (reference: generic_test_sql/"
    "relationships.sql:1-19): events.user_id values with no customer row.",
)
def dq_relationships_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dq.relationships(
        load_table(spark, sf_dir, "events"),
        "user_id",
        load_table(spark, sf_dir, "customer"),
        "c_custkey",
    )


@register(
    "dq_not_null_violations",
    "SELECT * FROM documents WHERE text IS NULL",
    doc="dbt not_null test: failing rows (expected empty on this corpus).",
)
def dq_not_null_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dq.not_null(load_table(spark, sf_dir, "documents"), "text")


# ---- streaming + multimodal (driven through the catalog) ------------------


@register(
    "streaming_hourly_counts",
    f"""
    SELECT DATE_TRUNC('hour', ts) AS hour_ts, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Structured Streaming end-to-end: events staged to a file stream, "
    "watermarked tumbling-window aggregation, complete-mode memory sink — "
    "final state must equal the batch oracle exactly (Kappa equivalence).",
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.streaming.pipelines import hourly_event_counts_stream

    events = load_table(spark, sf_dir, "events")
    # 2 staged files → 2 micro-batches
    with streams.staged(events, 2) as stream:
        out = streams.to_memory(
            hourly_event_counts_stream(stream), "complete", "streaming_hourly_counts"
        )
    # window start rendered as hour_ts to match the batch oracle's columns
    return out.select("hour_ts", "event_type", "n_events", "total_value")


@register(
    "streaming_sessionize",
    """
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                       - epoch(LAG(CAST(ts AS TIMESTAMP)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                       OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), sess AS (
      SELECT *, SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM ordered
    )
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_seq
    """,
    doc="Structured Streaming sessionization end-to-end: events staged as a "
    "4-file stream (files NOT in event-time order — the Kappa backfill "
    "shape), session_window(gap=30min) per user, complete-mode memory sink, "
    "unwatermarked (a watermark would evict the out-of-order history; see "
    "streaming/pipelines.sessionize_stream). Must equal batch "
    "sessionization exactly — the oracle is the batch lag+cumsum SQL.",
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.streaming.pipelines import sessionize_stream

    events = load_table(spark, sf_dir, "events")
    with streams.staged(events, 4) as stream:
        out = streams.to_memory(
            sessionize_stream(stream, watermark=None), "complete", "streaming_sessionize"
        )
    return out.select("user_id", "session_start", "n_events")


@register(
    "streaming_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
    doc="Streaming exact dedup end-to-end: events staged as a 4-file "
    "stream, dropDuplicates on (user_id, event_type), append-mode memory "
    "sink — final emitted set must equal batch DISTINCT. Unwatermarked "
    "(full-history state) because the backfill arrives out of event-time "
    "order; the bounded-state live variant is "
    "streaming/pipelines.dedup_stream (dropDuplicatesWithinWatermark), "
    "whose state expires with the watermark.",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    with streams.staged(events, 4) as stream:
        return streams.to_memory(
            stream.select("user_id", "event_type").dropDuplicates(
                ["user_id", "event_type"]
            ),
            "append",
            "streaming_dedup",
        )


@register(
    "streaming_activity_tracker",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(FLOOR(value * 10000 + 0.5)) AS DOUBLE) AS total_value,
           -- exact integer FLOOR division of epoch_us by 1000, matching
           -- Spark's int64 floor semantics everywhere: epoch_ms truncates
           -- toward zero (off by 1 ms pre-epoch), FLOOR(us/1000.0) loses
           -- integer precision past 2^53 (the timestamp[ns] ceiling), and
           -- DuckDB's // also truncates — the a-((a%m+m)%m) identity is
           -- exact at any magnitude and any sign
           CAST(MIN((epoch_us(CAST(ts AS TIMESTAMP))
                     - ((epoch_us(CAST(ts AS TIMESTAMP)) % 1000) + 1000)
                       % 1000) // 1000)
                AS BIGINT) AS first_ts_ms,
           CAST(MAX((epoch_us(CAST(ts AS TIMESTAMP))
                     - ((epoch_us(CAST(ts AS TIMESTAMP)) % 1000) + 1000)
                       % 1000) // 1000)
                AS BIGINT) AS last_ts_ms
    FROM events GROUP BY user_id
    """,
    doc="Custom stateful streaming operator under the oracle "
    "(streaming/pipelines.user_activity_tracker, applyInPandasWithState): "
    "per-user activity state folded across micro-batches, flushed on "
    "processing-time timeout — the operator class built-in aggregations "
    "cannot express (custom state shape + emission policy). Values are "
    "pre-scaled to integer-valued doubles so the per-batch pandas fold is "
    "exact in any accumulation order; the flushed summaries must equal "
    "the batch GROUP BY exactly.",
)
def streaming_activity_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.streaming.pipelines import user_activity_tracker

    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("double").alias("value"),
    )
    n_users = events.select("user_id").distinct().count()
    with streams.stage_dir() as stage:
        stream = streams.file_stream(events, stage, 1, per_trigger=None)

        def flushed(out: DataFrame) -> bool:
            # batch 1 folds all rows into state; empty follow-up batches
            # fire the processing-time timeout pass that flushes each user
            events.limit(0).write.mode("append").parquet(stage)
            return out.count() >= n_users

        return streams.to_memory(
            user_activity_tracker(stream, inactivity_timeout_ms=1),
            "append",
            "streaming_activity_tracker",
            until=flushed,
        )


@register(
    "multimodal_features",
    # The synthetic media table is a pure function of the row index, so
    # every decoded feature is closed-form: image width = 64 + i%32
    # (proves the real PNG pixel decode); audio rows are square-wave WAVs
    # with duration 1+i%10 s @ 8 kHz, amplitude 1000*(1+i%5) (RMS = peak
    # = amp for a square wave, amp/32768 exactly representable), and
    # half-period 2+i%6 samples → (n-1)//hp zero crossings (an exact
    # integer — the oracle-checked feature); WAV byte size = 44-byte
    # header + 2n. Video rows are REAL PNGV containers: decoded frame
    # count = 2*(1+i%10) (2 fps × duration) — an exact integer feature.
    # Image/video PNG byte sizes are zlib-dependent → not closed-form →
    # media_bytes is NULL for both by design.
    """
    WITH idx AS (SELECT unnest(generate_series(0, 95)) AS i),
    aud AS (
      SELECT i, (1 + i % 10) AS dur_s, 8000 * (1 + i % 10) AS n,
             1000 * (1 + i % 5) AS amp, 2 + i % 6 AS hp
      FROM idx WHERE i % 3 = 1
    )
    SELECT 'image' AS kind, CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(COUNT(*) AS BIGINT) AS n_hashed,
           AVG(64 + i % 32) AS avg_decoded_width,
           CAST(NULL AS DOUBLE) AS avg_duration_s,
           CAST(NULL AS DOUBLE) AS avg_rms_norm,
           CAST(NULL AS DOUBLE) AS avg_crossings,
           CAST(NULL AS DOUBLE) AS avg_video_frames,
           CAST(NULL AS BIGINT) AS media_bytes
    FROM idx WHERE i % 3 = 0
    UNION ALL
    SELECT 'audio', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) AS BIGINT),
           NULL, AVG(CAST(dur_s AS DOUBLE)), AVG(amp / 32768.0),
           AVG(CAST((n - 1) // hp AS DOUBLE)), NULL,
           CAST(SUM(44 + 2 * n) AS BIGINT)
    FROM aud
    UNION ALL
    SELECT 'video', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) AS BIGINT),
           NULL, NULL, NULL, NULL, AVG(CAST(2 * (1 + i % 10) AS DOUBLE)),
           CAST(NULL AS BIGINT)
    FROM idx WHERE i % 3 = 2
    """,
    doc="Multimodal end-to-end: synthetic binary media table → Arrow-"
    "batched mapInPandas feature extraction → per-kind aggregate. Image "
    "rows are REAL PNGs decoded by the stdlib decoder (avg_decoded_width "
    "comes from actual pixels); audio rows are REAL 16-bit PCM WAVs "
    "decoded by stdlib wave (duration/RMS/zero-crossings from actual "
    "samples); video rows are REAL PNGV containers whose frames are "
    "individually PNG-decoded (avg_video_frames counts actually decoded "
    "frames). Oracle recomputes every feature closed-form from the "
    "deterministic media spec — upgraded from rows-only in r4.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal import extract_features, synth_media_table

    media = synth_media_table(spark, n=96)
    feats = extract_features(media)
    k = F.col("kind")
    return feats.groupBy("kind").agg(
        F.count("*").alias("n_items"),
        F.count(F.col("content_sha")).cast("bigint").alias("n_hashed"),
        # feature[1] = decoded pixel width for images (real PNG decode)
        F.avg(F.when(k == "image", F.element_at("feature", 1)))
        .alias("avg_decoded_width"),
        # audio features from the real WAV decode: n_samples/sample_rate,
        # rms/32768, crossing count — all exactly representable floats
        F.avg(
            F.when(
                k == "audio",
                F.element_at("feature", 1) / F.element_at("feature", 2),
            )
        ).alias("avg_duration_s"),
        F.avg(F.when(k == "audio", F.element_at("feature", 4)))
        .alias("avg_rms_norm"),
        F.avg(F.when(k == "audio", F.element_at("feature", 6)))
        .alias("avg_crossings"),
        # video feature[1] = decoded frame count (real PNGV decode)
        F.avg(F.when(k == "video", F.element_at("feature", 1)))
        .alias("avg_video_frames"),
        # WAV byte sizes are closed-form; PNG/PNGV (zlib) sizes are not
        F.sum(F.when(k == "audio", F.col("n_bytes")))
        .cast("bigint")
        .alias("media_bytes"),
    )


@register(
    "multimodal_frame_sampling",
    # the synthetic media table is a pure function of the row index
    # (kind = i%3, duration_ms = 1000*(1+i%10)), so the oracle derives the
    # expected 1 Hz frame count per video arithmetically: the gate checks
    # the Spark-side explode/sequence plumbing against the spec
    """
    SELECT i AS media_id, CAST((i % 10) + 1 AS BIGINT) AS n_frames
    FROM (SELECT unnest(generate_series(0, 95)) AS i)
    WHERE i % 3 = 2
    """,
    doc="Video frame-sampling plumbing: explode sampled timestamps per "
    "video (1 Hz), count frames per media id. Oracle = closed-form frame "
    "count from the deterministic media-table spec (upgraded from "
    "rows-only).",
)
def multimodal_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal import sample_frames, synth_media_table

    media = synth_media_table(spark, n=96)
    frames = sample_frames(media, every_ms=1000)
    return frames.groupBy("media_id").agg(F.count("*").alias("n_frames"))


@register(
    "multimodal_video_frames",
    # videos are PNGV containers of 2 fps solid-color 16×12 frames:
    # video i has n_frames = 2*(1+i%10) and frame f is the constant color
    # (i*7 + f*13) % 256 in the R channel. Sampling every 500 ms at 2 fps
    # visits every frame exactly once (frame_idx = ts // 500), and the
    # decoded frame's R-channel mean is that constant — integer-valued,
    # so the double compares exactly cross-engine. The oracle replays all
    # of it closed-form from the media spec; any decode drift (wrong
    # frame boundaries, wrong pixels, wrong clamping) breaks the hash.
    """
    WITH idx AS (SELECT unnest(generate_series(0, 95)) AS i),
    vids AS (SELECT i, 2 * (1 + i % 10) AS n_frames FROM idx WHERE i % 3 = 2),
    fr AS (
      SELECT i, unnest(generate_series(0, n_frames - 1)) AS f FROM vids
    )
    SELECT i AS media_id,
           CAST(f * 500 AS BIGINT) AS frame_ts_ms,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(16 AS BIGINT) AS width,
           CAST(12 AS BIGINT) AS height,
           CAST((i * 7 + f * 13) % 256 AS DOUBLE) AS mean_r
    FROM fr
    """,
    doc="REAL video frame decode (multimodal.decode_sampled_frames): each "
    "video's PNGV container is parsed, the frame nearest each sampled "
    "timestamp is PNG-decoded, and per-frame pixel statistics are emitted "
    "from actual pixel bytes — the decode stage sample_frames only "
    "plumbed. mapInPandas over video rows only; output carries small "
    "fixed-width stats so raw media bytes never enter a shuffle. Oracle "
    "recomputes frame index arithmetic and the decoded R-channel mean "
    "closed-form from the deterministic media spec.",
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal import (
        decode_sampled_frames,
        synth_media_table,
    )

    media = synth_media_table(spark, n=96)
    return decode_sampled_frames(media, every_ms=500)


@register(
    "streaming_incremental_append",
    """
    SELECT DATE_TRUNC('hour', ts) AS event_hour, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
    """,
    doc="Streaming incremental-append SINK end-to-end "
    "(streaming/pipelines.incremental_stream_sink): events staged as a "
    "4-file stream, availableNow parquet sink partitioned by event hour "
    "with a checkpoint, then the SINK's files re-read and aggregated — "
    "exactly-once file-sink semantics must reproduce the batch aggregate. "
    "This is the streaming twin of the incremental/append "
    "materialization (the driver-triggered micro-batch run).",
)
def streaming_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from dbt_glue_spark.streaming.pipelines import incremental_stream_sink

    events = load_table(spark, sf_dir, "events")
    sink = streams.sink_dir()
    with streams.staged(events, 4, per_trigger=2) as stream:
        streams.drain(
            incremental_stream_sink(
                stream, os.path.join(sink, "data"), os.path.join(sink, "ckpt")
            ),
            "streaming_incremental_append",
        )
    written = spark.read.parquet(os.path.join(sink, "data"))
    return written.groupBy(
        F.col("event_hour").alias("event_hour"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("n_events"))


@register(
    "streaming_merge_upsert",
    """
    WITH ranked AS (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type, event_id AS last_event_id
    FROM ranked WHERE rn = 1
    """,
    doc="Streaming upsert sink end-to-end "
    "(streaming/pipelines.merge_stream_sink): each micro-batch merges "
    "into a parquet target with precombine latest-wins on event_id — the "
    "Hudi-style streaming upsert. The final target must hold exactly the "
    "max-event_id row per (user, event_type) REGARDLESS of how the "
    "stream was batched: out-of-order batches must not clobber newer "
    "target rows, which is precisely the precombine-vs-target semantics "
    "being gated.",
)
def streaming_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from dbt_glue_spark.streaming.pipelines import merge_stream_sink

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id"
    )
    target = streams.sink_dir()
    # repartition => batches arrive in no particular event order
    with streams.staged(events, 4) as stream:
        q = merge_stream_sink(
            stream,
            spark,
            target,
            os.path.join(target, "ckpt"),
            unique_key=["user_id", "event_type"],
            dedup_source_on="event_id",
        )
        streams.drain(q, "streaming_merge_upsert")
    data_dir = os.path.join(target, "data")
    # empty source stream → no micro-batch ever merged → no target dir;
    # the upsert of nothing is an empty table, not a read error
    final = (
        spark.read.parquet(data_dir) if os.path.exists(data_dir) else events.limit(0)
    )
    return final.select(
        "user_id", "event_type", F.col("event_id").alias("last_event_id")
    )


@register(
    "streaming_interval_join",
    """
    SELECT c.user_id, c.event_id AS click_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts
    FROM events c JOIN events p
      ON p.user_id = c.user_id AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
    """,
    doc="Stream-stream interval join end-to-end "
    "(streaming/pipelines.click_purchase_join_stream): clicks and "
    "purchases arrive as two file streams in no particular event order; "
    "each click joins same-user purchases within [click_ts, +1h]. "
    "Unwatermarked (full-history state) for the Kappa backfill — the "
    "live variant's watermark pair is what lets Spark evict join state. "
    "Emitted rows must equal the batch interval join exactly.",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.streaming.pipelines import click_purchase_join_stream

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase")
    with streams.staged(clicks, 2) as c_stream, streams.staged(purchases, 2) as p_stream:
        out = streams.to_memory(
            click_purchase_join_stream(c_stream, p_stream, watermark=None),
            "append",
            "streaming_interval_join",
        )
    return out.select("user_id", "click_id", "click_ts", "purchase_ts")


@register(
    "streaming_enrich",
    """
    SELECT event_id, user_id,
           'seg' || CAST(user_id % 25 AS VARCHAR) AS segment
    FROM events
    """,
    doc="Stream-static enrichment join end-to-end "
    "(streaming/pipelines.enrich_stream): every micro-batch left-joins a "
    "broadcast static dimension (user segment) — STATELESS, no "
    "watermark, no state store; the dim re-plans per batch so reference "
    "data can change between batches. The enriched stream must equal the "
    "batch left join exactly.",
)
def streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.streaming.pipelines import enrich_stream

    events = load_table(spark, sf_dir, "events")
    dim = spark.range(25).select(
        F.col("id").alias("seg_key"),
        F.concat(F.lit("seg"), F.col("id").cast("string")).alias("segment"),
    )
    with streams.staged(events, 2) as src:
        stream = src.select("event_id", "user_id")
        enriched = enrich_stream(
            stream, dim, stream["user_id"] % 25 == dim["seg_key"], ["segment"]
        )
        return streams.to_memory(
            enriched.select("event_id", "user_id", "segment"),
            "append",
            "streaming_enrich",
        )


@register(
    "multimodal_resize",
    # media spec is a pure function of the row index (kind = i%3,
    # w = 64+i%32, h = 64+(i*7)%32); the resize arithmetic (scale to the
    # longest side, truncating int, floor ≥ 1) replays in SQL — the gate
    # value-checks the Spark-owned part (dims + status markers); pixel
    # bytes stay unit-tested (test_multimodal.py resize determinism)
    """
    WITH m AS (
      SELECT i AS media_id,
             CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
             64 + i % 32 AS w, 64 + (i * 7) % 32 AS h
      FROM (SELECT unnest(generate_series(0, 63)) AS i)
    )
    SELECT media_id, kind,
           CASE WHEN kind = 'image'
                THEN GREATEST(1, CAST(FLOOR(w * (32.0 / GREATEST(w, h)))
                                      AS BIGINT))
                WHEN kind = 'video' THEN 16
                ELSE w END AS width,
           CASE WHEN kind = 'image'
                THEN GREATEST(1, CAST(FLOOR(h * (32.0 / GREATEST(w, h)))
                                      AS BIGINT))
                WHEN kind = 'video' THEN 12
                ELSE h END AS height,
           CASE WHEN kind = 'image' THEN 'resized'
                ELSE 'passthrough' END AS resized
    FROM m
    """,
    doc="Image-resize stage under the oracle (multimodal.resize_images, "
    "Arrow-batched mapInPandas over the real stdlib PNG codec): synth "
    "images are 64-95 px so every one downscales to max side 32; the "
    "oracle replays the dimension arithmetic closed-form. Non-image rows "
    "pass through untouched.",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal import resize_images, synth_media_table

    media = synth_media_table(spark, n=64)
    return resize_images(media, max_side=32).select(
        "media_id", "kind", "width", "height", "resized"
    )


@register(
    "multimodal_resample",
    # audio rows are 8 kHz square-wave WAVs of 1+i%10 s (synth_wav);
    # nearest-neighbor downsample to 4 kHz halves the sample count, and
    # the stdlib wave header is a fixed 44 bytes — so rate, length, and
    # encoded byte size all replay closed-form from the index
    """
    SELECT i AS media_id,
           CAST(4000 AS BIGINT) AS sample_rate,
           CAST(4000 * (1 + i % 10) AS BIGINT) AS n_samples,
           CAST(44 + 2 * 4000 * (1 + i % 10) AS BIGINT) AS n_bytes,
           'resampled' AS resampled
    FROM (SELECT unnest(generate_series(0, 95)) AS i)
    WHERE i % 3 = 1
    """,
    doc="Audio-resample stage under the oracle (multimodal.resample_audios "
    "— the audio twin of resize_images): Arrow-batched mapInPandas over "
    "the real stdlib wave codec, 8 kHz synth WAVs downsampled to 4 kHz. "
    "The oracle replays rate, sample count, and encoded byte size "
    "closed-form from the deterministic media spec; sample values are "
    "unit-tested (test_multimodal.py).",
)
def multimodal_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.multimodal import (
        resample_audios,
        synth_media_table,
    )

    media = synth_media_table(spark, n=96)
    out = resample_audios(media, target_rate=4000)
    return out.filter(F.col("kind") == "audio").select(
        "media_id",
        "sample_rate",
        "n_samples",
        F.length("content").cast("bigint").alias("n_bytes"),
        "resampled",
    )


@register(
    "ext_dedup_apply",
    "WITH "
    + _MINHASH_SIG
    + """,
    bands AS (
      SELECT id, b, key FROM sig, LATERAL (VALUES
        (0, MD5(h0 || '|' || h1)), (1, MD5(h2 || '|' || h3)),
        (2, MD5(h4 || '|' || h5)), (3, MD5(h6 || '|' || h7))
      ) AS v(b, key)
    ),
    keepb AS (
      SELECT b, key FROM bands GROUP BY b, key HAVING COUNT(*) <= 64
    ),
    bandsc AS (
      SELECT bands.id, bands.b, bands.key
      FROM bands JOIN keepb USING (b, key)
    ),
    overb AS (
      SELECT b, key FROM bands GROUP BY b, key HAVING COUNT(*) > 64
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
    , dupes AS (
      SELECT DISTINCT c.id_b AS drop_id
      FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
      WHERE j.jaccard >= 0.5
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT drop_id FROM dupes)
    """,
    doc="End-to-end dedup application: near-dup pairs from MinHash-LSH "
    "at the library default (mega-bucket cap 64 — the 100 TB "
    "configuration, flipped round 9), drop the higher doc_id of each "
    "pair (greedy keep-first), return the surviving corpus — the full "
    "training-data dedup pipeline as one plan.",
)
def ext_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "source")


@register(
    "ext_knn_ivf",
    r"""
    WITH RECURSIVE e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                         FROM embeddings WHERE embedding IS NOT NULL),
    cb(i, cid, c) AS (
      SELECT 0, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cid, v
      FROM (SELECT id, v FROM e ORDER BY id LIMIT 8)
      UNION ALL
      SELECT i + 1, cell, list(m ORDER BY pos)
      FROM (
        SELECT a.i, a.cell, gs.pos,
               CAST(SUM(CAST(a.v[gs.pos] AS DECIMAL(28,12))) / COUNT(*) AS DOUBLE) AS m
        FROM (
          SELECT ce.i, ee.id, ee.v,
                 (MIN({'d2': list_sum(list_transform(list_zip(ee.v, ce.c),
                                      p -> (p[1]-p[2])*(p[1]-p[2]))),
                       'cid': ce.cid})).cid AS cell
          FROM e ee, cb ce
          WHERE ce.i < 3
          GROUP BY ce.i, ee.id, ee.v
        ) a, (SELECT unnest(generate_series(1, 64)) AS pos) gs
        GROUP BY a.i, a.cell, gs.pos
      )
      GROUP BY i, cell
    ),
    fc AS (SELECT cid, c FROM cb WHERE i = 3),
    cells AS (
      SELECT ee.id,
             (MIN({'d2': list_sum(list_transform(list_zip(ee.v, fc.c),
                                  p -> (p[1]-p[2])*(p[1]-p[2]))),
                   'cid': fc.cid})).cid AS cell,
             ee.v
      FROM e ee, fc GROUP BY ee.id, ee.v
    ),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.id AS query_id, fc.cid AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.id
                 ORDER BY list_sum(list_transform(list_zip(q.v, fc.c),
                           p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, fc.cid ASC) AS prk
        FROM (SELECT id, v FROM e WHERE id < 10) q, fc
      ) WHERE prk <= 3
    ),
    scored AS (
      SELECT p.query_id, c.id AS neighbor_id,
             """ + _cos_sql("q.v", "c.v") + r""" AS sim
      FROM probes p
      JOIN cells c ON c.cell = p.cell
      JOIN e q ON q.id = p.query_id
      WHERE c.id <> p.query_id
    )
    SELECT query_id, neighbor_id, sim, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 5
    """,
    doc="IVF approximate kNN: Lloyd-trained codebook (deterministic init, "
    "decimal centroid means), corpus bucketed into cells, nprobe-cell "
    "probing per query. The third ANN tier (brute force exact / LSH hash "
    "/ IVF quantized). Codebook determinism lets a recursive-CTE oracle "
    "replay training + assignment + probing exactly (upgraded from "
    "rows-only); recall vs brute force stays pytest-verified.",
)
def ext_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_ivf(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=8, nprobe=3
    )


# recursive-CTE transitive closure over 3-gram-Jaccard≥0.5 edges, ending
# in clusters(doc_id, cluster_id) — shared by ext_dup_clusters and the
# end-to-end keep-one query
_CLUSTERS_SQL = (
    _SH
    + ","
    + _JACCARD_TAIL
    + """,
    edges AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
    sym AS (SELECT id_a AS a, id_b AS b FROM edges
            UNION SELECT id_b, id_a FROM edges),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    clusters AS (
      SELECT d.doc_id,
             CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT)
               AS cluster_id
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    )
"""
)


@register(
    "ext_dup_clusters",
    "WITH RECURSIVE "
    + _CLUSTERS_SQL
    + "SELECT doc_id, cluster_id FROM clusters",
    doc="Connected components over 3-gram-Jaccard≥0.5 near-dup pairs: every "
    "document labeled with the min id of its transitive dup group "
    "(singletons label themselves). Spark side is iterative min-label "
    "propagation with per-round localCheckpoint (constant lineage); the "
    "oracle computes the same components by recursive-CTE transitive "
    "closure — tractable because dup components are small, while the "
    "propagation loop is the 100 TB path.",
)
def ext_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    return dedup.dup_clusters(docs, pairs)


@register(
    "ext_dedup_keep_one",
    "WITH RECURSIVE "
    + _CLUSTERS_SQL
    + """
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE c.cluster_id = c.doc_id) AS BIGINT)
             AS n_kept,
           CAST(COUNT(*) FILTER (WHERE c.cluster_id <> c.doc_id) AS BIGINT)
             AS n_dropped
    FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
    GROUP BY d.source
    """,
    doc="End-to-end corpus dedup: near-dup pairs → connected components → "
    "keep the min-id doc per transitive group → per-source retention "
    "report. The full pipeline a training-data cleaning run executes, "
    "composed from the same bucketed-join + label-propagation operators "
    "the individual gates already prove.",
)
def ext_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    clusters = dedup.dup_clusters(docs, pairs)
    joined = docs.join(clusters, "doc_id")
    kept = F.col("cluster_id") == F.col("doc_id")
    return joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count(F.when(kept, 1)).cast("bigint").alias("n_kept"),
        F.count(F.when(~kept, 1)).cast("bigint").alias("n_dropped"),
    )


# ---- deterministic sampling + sketches -----------------------------------

from dbt_glue_spark.extensions import sampling, sketches  # noqa: E402
from dbt_glue_spark.extensions.sketches import _duck_hash_fraction  # noqa: E402


@register(
    "ext_hash_sample",
    f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_duck_hash_fraction('doc_id')} < 0.2
    """,
    doc="Deterministic 20% sample keyed on md5(doc_id): repartition-proof, "
    "incremental-load-stable (a doc's membership never changes as the "
    "corpus grows), reproducible on any engine — unlike df.sample(seed), "
    "whose output depends on the physical partition layout.",
)
def ext_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return sampling.hash_sample(docs, "doc_id", 0.2)


_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}


@register(
    "ext_mixture_sample",
    f"""
    WITH rated AS (
      SELECT doc_id, lang, source,
             CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                         WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.1
                         ELSE 0.05 END AS r
      FROM documents
    )
    SELECT doc_id, lang, source FROM rated
    WHERE {_duck_hash_fraction('doc_id')} < r
    """,
    doc="Data-mixture sampling: per-source keep rates (keep src0 whole, "
    "downsample the rest, default 5%) via the same content-hash "
    "membership as hash_sample — the target-mixture step of training-set "
    "assembly, stable under repartitioning and corpus growth. Stateless "
    "projection + filter; scan-bounded at any scale.",
)
def ext_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return sampling.mixture_sample(docs, _MIX_RATES, default_rate=0.05)


@register(
    "ext_stratified_sample",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {_duck_hash_fraction('doc_id')}, doc_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rn <= CEIL(n * 0.1)
    """,
    doc="Exact 10%-per-language stratified sample: hash-ranked top fraction "
    "per stratum — the balance guarantee binomial sampling can't give. One "
    "window shuffle on the strata key.",
)
def ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.stratified_sample(docs, ["lang"], "doc_id", 0.1)


@register(
    "ext_corpus_shuffle",
    f"""
    WITH keyed AS (
      SELECT doc_id,
             {_duck_hash_fraction("'42:' || CAST(doc_id AS VARCHAR)")} AS k
      FROM documents
    )
    SELECT doc_id,
           CAST(FLOOR(k * 8) AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST(FLOOR(k * 8) AS INT) ORDER BY k, doc_id
           ) AS BIGINT) AS pos
    FROM keyed
    """,
    doc="Deterministic seeded corpus shuffle (sampling.corpus_shuffle): "
    "every doc gets a reproducible (shard, position) from md5(seed:id) — "
    "the shuffle-before-training step, stable across partitionings and "
    "engines. No global sort: per-shard row_number windows; shard count "
    "scales the window to executor-sized slices at 100 TB.",
)
def ext_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.corpus_shuffle(docs, "doc_id", seed=42, n_shards=8)


@register(
    "ext_mixture_weights",
    "WITH "
    + _TOK
    + """,
    per AS (
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(t.toks)) AS BIGINT) AS n_tokens
      FROM documents d JOIN tok t USING (doc_id)
      GROUP BY d.source
    )
    SELECT source, n_docs, n_tokens,
           FLOOR(CAST(n_tokens AS DOUBLE) / (SELECT SUM(n_tokens) FROM per)
                 * 1000000 + 0.5) / 1000000 AS token_share,
           FLOOR(SQRT(CAST(n_tokens AS DOUBLE)
                      / (SELECT MAX(n_tokens) FROM per))
                 * 1000000 + 0.5) / 1000000 AS mix_weight
    FROM per
    """,
    doc="Per-domain mixture planning (sampling.mixture_weights): token "
    "share + sqrt-temperature sampling weight per source — the alpha=0.5 "
    "small-domain upsampling recipe. Max-normalized so every value is a "
    "ratio of exact integer aggregates (bit-identical across engines); "
    "one tokenize pass + one groupBy, totals broadcast.",
)
def ext_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.mixture_weights(docs, "source", "text")


@register(
    "ext_quality_classifier",
    "WITH "
    + _TOK
    + f""",
    t AS (SELECT doc_id, unnest(toks) AS t FROM tok),
    b AS (
      SELECT doc_id,
             CAST(FLOOR({_duck_hash_fraction("'q:' || t")} * 256) AS BIGINT)
               AS bkt
      FROM t
    ),
    s AS (
      SELECT doc_id,
             SUM((bkt * 2654435761) % 1024 - 512) AS num,
             COUNT(*) AS n
      FROM b GROUP BY doc_id
    )
    SELECT doc_id,
           FLOOR(CAST(num AS DOUBLE) / (1024 * n) * 1000000 + 0.5) / 1000000
             AS quality_margin,
           num > 0 AS keep
    FROM s
    """,
    doc="Hashing-trick linear quality classifier "
    "(text_analysis.quality_classifier): fastText-inference shape — token "
    "→ hash bucket → weight-table lookup → mean margin per doc. Integer "
    "numerator accumulation keeps the distributed sum exact; swapping in "
    "trained weights is a broadcast join, same plan. Pure Catalyst, one "
    "(id, int) shuffle.",
)
def ext_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.quality_classifier(docs)


@register(
    "ext_kmv_distinct_users",
    sketches.kmv_oracle_sql("events", "user_id", k=64, group_by=["event_type"]),
    doc="KMV (k-minimum-values) distinct-count sketch per event_type, k=64: "
    "mergeable O(k)-memory approximate COUNT(DISTINCT), bit-reproducible "
    "across engines because the hash is md5 and the 52-bit fraction is "
    "exact in a double (HLL implementations can't be cross-checked like "
    "this). Exact below k; ~12% expected error above.",
)
def ext_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return sketches.kmv_distinct(events, "user_id", k=64, group_by=["event_type"])


@register(
    "ext_kmv_distinct_tokens",
    sketches.kmv_oracle_sql(
        "(SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM documents)",
        "tok",
        k=128,
    ),
    doc="Global KMV distinct-token estimate over the corpus (k=128): "
    "vocabulary-size telemetry at one shuffle of 8-byte hashes — the "
    "training-pipeline stat that exact COUNT(DISTINCT) makes needlessly "
    "expensive at 100 TB.",
)
def ext_kmv_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    )
    return sketches.kmv_distinct(toks, "tok", k=128)


@register(
    "ext_column_profile",
    profile.profile_oracle_sql(
        "lineitem",
        ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount"],
        double_cols=("l_quantity", "l_extendedprice", "l_discount"),
    ),
    doc="Distributed column profiling (null rate, exact cardinality, "
    "non-finite count, range) over four lineitem measures in ONE "
    "aggregate job — the pre-filter reconnaissance pass of a curation "
    "pipeline, and the gate for the engine's non-finite policy (NaN/Inf "
    "measures silently become NULL inside exact-decimal casts, so they "
    "must be counted BEFORE aggregation trusts the column). The 1-row "
    "aggregate is pivoted to per-column rows via explode(array(struct)); "
    "exact COUNT(DISTINCT) costs one Expand (deliberate — exactness is "
    "what the oracle checks; hll_distinct is the wide-table path).",
)
def ext_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return profile.profile_columns(
        li, ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount"]
    )


@register(
    "ext_hll_distinct_orders",
    sketches.hll_oracle_sql("orders", "o_orderkey", group_by=["o_orderpriority"]),
    doc="HyperLogLog distinct-order estimate per priority (m=256 one-byte "
    "registers): the fixed-memory sketch for many-group cardinality "
    "telemetry — 256 rows survive the first partial-agg tree per group "
    "regardless of input size. Engine-portable registers (md5 + exact "
    "bitlength), BIGINT register sum so the estimate is partition-order "
    "free; ~6.5% expected error in the raw-estimator regime (~3000 "
    "distinct/group here).",
)
def ext_hll_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return sketches.hll_distinct(orders, "o_orderkey", group_by=["o_orderpriority"])


@register(
    "ext_hll_distinct_global",
    sketches.hll_oracle_sql("lineitem", "l_orderkey"),
    doc="Global HyperLogLog over lineitem.l_orderkey (~14.7k true distinct "
    "at sf0.01): the ungrouped path — one (register, rho) projection, two "
    "constant-size aggregate trees, no window, no driver state. Pairs with "
    "ext_kmv_distinct_tokens to cover both sketch families: KMV exact "
    "below k for small vocabularies, HLL constant-memory for the huge ones.",
)
def ext_hll_distinct_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return sketches.hll_distinct(li, "l_orderkey")


def _curation_oracle() -> str:
    """Compose the full-pipeline oracle from the registered single-stage
    oracles (same strings the individual parity gates check, so the stages
    can't drift apart)."""
    from dbt_glue_spark.plans.catalog import _REGISTRY

    quality = _REGISTRY["ext_quality_score"].oracle
    lang = _REGISTRY["ext_language_id"].oracle
    return rf"""
    WITH kept AS (
      SELECT d.doc_id, d.text, l.lang_pred, q.quality_score
      FROM documents d
      JOIN ({quality}) q ON q.doc_id = d.doc_id
      JOIN ({lang}) l ON l.doc_id = d.doc_id
      WHERE q.quality_score >= 0.5 AND l.lang_pred <> 'und'
    ),
    hashed AS (
      SELECT *, MD5(trim(regexp_replace(regexp_replace(translate(lower(text), 'ς̇', 'σ'),
                 '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS h
      FROM kept
    ),
    keepmin AS (SELECT h, MIN(doc_id) AS doc_id FROM hashed GROUP BY h),
    dedup AS (
      SELECT x.doc_id, x.lang_pred, x.quality_score
      FROM hashed x JOIN keepmin k ON x.h = k.h AND x.doc_id = k.doc_id
    ),
    ranked AS (
      SELECT doc_id, lang_pred, quality_score,
             row_number() OVER (PARTITION BY lang_pred
                                ORDER BY {_duck_hash_fraction('doc_id')}, doc_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY lang_pred) AS n
      FROM dedup
    )
    SELECT doc_id, lang_pred, quality_score
    FROM ranked WHERE rn <= CEIL(n * 0.5)
    """


@register(
    "ext_curation_pipeline",
    _curation_oracle(),
    doc="End-to-end training-data curation in one plan: quality filter "
    "(≥0.5) ∘ language filter (identified) ∘ exact dedup (min-id per "
    "normalized-text hash) ∘ 50% per-language stratified deterministic "
    "sample. All stages are projections/filters over one documents scan "
    "plus two metadata-sized shuffles (dedup hash, strata window) — the "
    "composition pipelines; nothing materializes between stages. The "
    "oracle reuses the registered single-stage oracle strings verbatim, "
    "so pipeline and stages cannot drift apart.",
)
def ext_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    quality = text_analysis.quality_score(docs).select("doc_id", "quality_score")
    lang = text_analysis.language_id(docs).select("doc_id", "lang_pred")
    kept = (
        docs.join(quality, "doc_id")
        .join(lang, "doc_id")
        .filter((F.col("quality_score") >= 0.5) & (F.col("lang_pred") != "und"))
    )
    deduped = dedup.exact_dedup(kept, normalize=True).select(
        "doc_id", "lang_pred", "quality_score"
    )
    return sampling.stratified_sample(deduped, ["lang_pred"], "doc_id", 0.5)


@register(
    "ext_contamination_pairs",
    "WITH "
    + _TOK.replace("FROM documents", "FROM documents WHERE source <> 'src0'")
    + r""",
    sh AS (
      SELECT doc_id AS a_id,
             unnest(list_distinct(
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in generate_series(1, len(toks) - 2)]
             )) AS shingle
      FROM tok
    ),
    btok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      FROM documents WHERE source = 'src0'
    ),
    bsh AS (
      SELECT doc_id AS b_id,
             unnest(list_distinct(
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in generate_series(1, len(toks) - 2)]
             )) AS shingle
      FROM btok
    )
    SELECT a_id, b_id, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM sh JOIN bsh USING (shingle)
    GROUP BY a_id, b_id
    HAVING COUNT(*) >= 5
    """,
    doc="Train/test decontamination: training docs (source≠src0) sharing "
    "≥5 distinct 3-grams with any eval doc (source=src0). Inverted-index "
    "A⋈B join — never A×A — with the tiny eval side broadcastable; count "
    "threshold rather than Jaccard because a short verbatim leak inside a "
    "long training doc is still contamination.",
)
def ext_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    eval_ = docs.filter(F.col("source") == "src0")
    return dedup.contamination_pairs(train, eval_, min_common=5)


@register(
    "ext_top_tokens",
    r"""
    WITH tk AS (
      SELECT unnest(regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+')) AS tok
      FROM documents
    )
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM tk GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """,
    doc="Corpus heavy hitters: top-20 word tokens. explode → count → "
    "TakeOrderedAndProject top-k (partial per-partition top-k merge, no "
    "global sort); tok tie-break makes the cut deterministic.",
)
def ext_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(
                F.expr(r"regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+', 0)")
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )


@register(
    "ext_token_positions",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS tok
    FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g
    WHERE doc_id <= 50
    """,
    doc="Positional token explode (posexplode ≙ LATERAL unnest with "
    "ordinality): the flatten step sequence-labeling / BPE pipelines start "
    "from. Pure row explosion — pipelines with the scan, no shuffle; "
    "output order carried by (doc_id, pos), not row order.",
)
def ext_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    return docs.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "tok"),
    )


# ---- lexical retrieval + chunking + repetition (training-data curation) --


@register(
    "ext_tfidf_top_terms",
    r"""
    WITH tk AS (
      SELECT doc_id, unnest(regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tk WHERE doc_id <= 100 GROUP BY doc_id, tok
    ),
    dft AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tk GROUP BY tok
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, tok, tf, df,
             CAST(tf AS DOUBLE)
               * (CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) AS score
      FROM tf JOIN dft USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tf, df,
           FLOOR(score * 1e6 + 0.5) / 1e6 AS tfidf,
           CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, tok) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """,
    doc="Per-doc top-5 terms by tf-idf (rational ln-free idf (N+1)/(df+1) "
    "— bit-identical across engines, same ordering as log idf). df comes "
    "from the FULL corpus while tf is computed only for the scoped docs — "
    "at 100 TB the vocab aggregate is the big (but |vocab|-bounded) "
    "shuffle and the scoped tf side joins it on the term key.",
)
def ext_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.tfidf_top_terms(docs, k=5, scope=F.col("doc_id") <= 100)


@register(
    "ext_bm25_search",
    r"""
    WITH tk AS (
      SELECT doc_id, unnest(regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
    corpus AS (SELECT COUNT(*) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    qt AS (SELECT doc_id, tok FROM tk
           WHERE tok IN ('spark', 'window', 'vector')),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM qt GROUP BY doc_id, tok),
    dft AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY tok),
    per AS (
      SELECT doc_id,
             CAST(((n_docs - df + 0.5) / (df + 0.5))
                  * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               AS DECIMAL(18,9)) AS term_score
      FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN corpus
    )
    SELECT doc_id,
           FLOOR(CAST(SUM(term_score) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS bm25
    FROM per GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
    doc="BM25 top-20 for a 3-term query (k1=1.2, b=0.75; rational ln-free "
    "idf). Doc lengths + tf from one explode pass; per-doc term sum goes "
    "through decimal so double addition order can't differ across "
    "engines; top-k via TakeOrderedAndProject, no global sort.",
)
def ext_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_search(docs, ["spark", "window", "vector"], topk=20)


@register(
    "ext_doc_chunks",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      FROM documents WHERE doc_id <= 50
    ),
    starts AS (
      SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 40)) AS s
      FROM tok
    )
    SELECT doc_id,
           CAST(s // 40 AS INT) AS chunk_idx,
           CAST(len(toks[s + 1 : s + 50]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(toks[s + 1 : s + 50], ' ') AS chunk_text
    FROM starts
    """,
    doc="Overlapping token-window chunking (size 50, stride 40): the "
    "context-window packing step of a training pipeline. Narrow "
    "sequence→slice→posexplode, pipelines with the scan — no shuffle; "
    "chunk identity carried by (doc_id, chunk_idx).",
)
def ext_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    return text_analysis.chunk_tokens(docs, size=50, stride=40)


@register(
    "ext_repetition_ratio",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             GREATEST(len(toks) - 2, 0) AS n_ngrams,
             CASE WHEN len(toks) >= 3 THEN
               list_transform(generate_series(1, len(toks) - 2),
                              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
             ELSE CAST([] AS VARCHAR[]) END AS grams
      FROM tok
    )
    SELECT doc_id,
           CAST(n_ngrams AS BIGINT) AS n_ngrams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_ngrams,
           FLOOR((CASE WHEN n_ngrams > 0
                       THEN CAST(n_ngrams - len(list_distinct(grams)) AS DOUBLE)
                            / n_ngrams
                       ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS dup_ngram_frac
    FROM g
    """,
    doc="Gopher-style duplicate word-3-gram fraction per document — "
    "boilerplate/looping-generation signal that unigram type-token ratio "
    "misses. Pure per-row projection, no shuffle, no UDF.",
)
def ext_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.repetition_ratio(docs, n=3)


@register(
    "ext_quality_filter",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             len(toks) AS n,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS ttr_raw,
             CASE WHEN len(toks) >= 3 THEN
               CAST(len(toks) - 2
                    - len(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                         for i in generate_series(1, len(toks) - 2)]))
                 AS DOUBLE) / (len(toks) - 2)
             ELSE 0.0 END AS dup_raw
      FROM tok
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           FLOOR(ttr_raw * 1e6 + 0.5) / 1e6 AS ttr,
           FLOOR(dup_raw * 1e6 + 0.5) / 1e6 AS dup_ngram_frac,
           n < 25 AS too_short,
           ttr_raw < 0.35 AS low_diversity,
           dup_raw > 0.05 AS repetitive,
           NOT (n < 25 OR ttr_raw < 0.35 OR dup_raw > 0.05) AS keep,
           concat_ws(',',
             CASE WHEN n < 25 THEN 'too_short' END,
             CASE WHEN ttr_raw < 0.35 THEN 'low_diversity' END,
             CASE WHEN dup_raw > 0.05 THEN 'repetitive' END) AS reasons
    FROM s
    """,
    doc="Gopher-style composite quality gate: length + type-token ratio "
    "+ 3-gram repetition folded into keep/drop with named reasons — one "
    "tokenize, one narrow projection, runs at scan speed at any scale.",
)
def ext_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.quality_filter(load_table(spark, sf_dir, "documents"))


@register(
    "ext_boilerplate_strip",
    r"""
    WITH marked AS (
      SELECT doc_id,
             'SUBSCRIBE TO OUR NEWSLETTER' || chr(10) || text || chr(10)
             || CASE doc_id % 3 WHEN 0 THEN 'copyright acme corp'
                                WHEN 1 THEN 'all rights reserved'
                                ELSE 'follow us on social media' END AS text
      FROM documents
    ),
    arr AS (SELECT doc_id, string_split(text, chr(10)) AS a FROM marked),
    l AS (
      SELECT doc_id, unnest([{'pos': i, 'line': a[i]}
                             for i in generate_series(1, len(a))],
                            recursive := true)
      FROM arr
    ),
    freq AS (SELECT line, COUNT(DISTINCT doc_id) AS df_ FROM l GROUP BY line)
    SELECT l.doc_id,
           COALESCE(string_agg(l.line, chr(10) ORDER BY l.pos)
                    FILTER (f.df_ <= 50), '') AS clean_text,
           CAST(SUM(CASE WHEN f.df_ <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
           CAST(COUNT(*) AS BIGINT) AS n_lines_total
    FROM l JOIN freq f USING (line)
    GROUP BY l.doc_id
    """,
    doc="C4-style boilerplate strip: drop lines appearing in > 50 distinct "
    "docs (injected newsletter header + rotating footers on both engines, "
    "since the token-soup corpus has no newlines), preserving body-line "
    "order. Line df is an inverted-index document frequency — postings-"
    "pass cost, never doc².",
)
def ext_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    marked = docs.select(
        "doc_id",
        F.concat(
            F.lit("SUBSCRIBE TO OUR NEWSLETTER\n"),
            F.col("text"),
            F.lit("\n"),
            F.element_at(
                F.array(
                    F.lit("copyright acme corp"),
                    F.lit("all rights reserved"),
                    F.lit("follow us on social media"),
                ),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
        ).alias("text"),
    )
    return text_analysis.boilerplate_strip(marked, max_line_df=50)


@register(
    "ext_paragraph_dedup",
    r"""
    WITH marked AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN 'THIS STORY FIRST APPEARED ON THE WIRE' || chr(10) || chr(10)
                  ELSE '' END
             || text
             || CASE WHEN doc_id % 5 = 0
                     THEN chr(10) || chr(10) || 'reprinted with permission from the original publisher'
                     ELSE '' END AS text
      FROM documents
    ),
    arr AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS a FROM marked),
    l AS (
      SELECT doc_id, unnest([{'pos': i, 'para': a[i]}
                             for i in generate_series(1, len(a))],
                            recursive := true)
      FROM arr
    ),
    w AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
      FROM l
    )
    SELECT doc_id,
           COALESCE(string_agg(para, chr(10) || chr(10) ORDER BY pos)
                    FILTER (rn = 1), '') AS dedup_text,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_paras_kept,
           CAST(COUNT(*) AS BIGINT) AS n_paras_total
    FROM w GROUP BY doc_id
    """,
    doc="Sub-document paragraph dedup (CCNet/Dolma pass, Lee et al. 2022): "
    "a duplicated paragraph survives ONLY at its first (doc_id, pos) "
    "occurrence — unlike boilerplate_strip, one canonical copy is kept. "
    "Wire-header and reprint-footer paragraphs are injected on both "
    "engines (token-soup corpus has no repeated paragraphs). Winner "
    "selection is a groupBy-min (map-side combine — no hot window "
    "partition when one paragraph repeats 10M× at 100 TB); the oracle "
    "mirrors it with a row_number()=1 window, which is total-order "
    "equivalent.",
)
def ext_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    marked = docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit("THIS STORY FIRST APPEARED ON THE WIRE\n\n"),
            ).otherwise(F.lit("")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\n\nreprinted with permission from the original publisher"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return dedup.paragraph_dedup(marked)


# The synthetic corpus contains no real PII, so the PII queries inject a
# deterministic doc_id-derived strip (email always; phone/ssn/ip on
# residue classes) in BOTH engines, making the scan/redact outputs
# non-trivial and exactly comparable.
_PII_MARKED = """
    marked AS (
      SELECT doc_id,
             'contact user' || doc_id || '@example.com '
             || CASE WHEN doc_id % 3 = 0 THEN 'call 555-123-4567 ' ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN 'ssn 219-09-9999 ' ELSE '' END
             || CASE WHEN doc_id % 4 = 0
                     THEN 'ip 10.0.' || (doc_id % 256) || '.7 ' ELSE '' END
             || text AS text
      FROM documents
    )
"""


def _pii_marked_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("contact user"), F.col("doc_id"), F.lit("@example.com "),
            F.when(F.col("doc_id") % 3 == 0, F.lit("call 555-123-4567 ")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("ssn 219-09-9999 ")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit("ip 10.0."), F.col("doc_id") % 256, F.lit(".7 ")),
            ).otherwise(F.lit("")),
            F.col("text"),
        ).alias("text"),
    )


@register(
    "ext_pii_scan",
    "WITH "
    + _PII_MARKED
    + r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
              + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b'))
              + len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
              + len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
             AS BIGINT) AS n_pii_total
    FROM marked
    """,
    doc="PII compliance scan (email/ssn/phone/ipv4 hit counts per doc) — "
    "narrow codegen projection, no shuffle/UDF; patterns restricted to "
    "the Java-regex ∩ RE2 dialect so both engines count identically.",
)
def ext_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.pii_scan(_pii_marked_df(spark, sf_dir))


@register(
    "ext_pii_redact",
    "WITH "
    + _PII_MARKED
    + r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
             '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IPV4>', 'g') AS redacted_text
    FROM marked
    """,
    doc="PII redaction: matches replaced by <TYPE> markers in a fixed "
    "order (email first) so overlap resolution is engine-identical; "
    "full redacted text is value-hashed against the oracle.",
)
def ext_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.pii_redact(_pii_marked_df(spark, sf_dir))


_KMEANS_CTE = r"""
    WITH RECURSIVE e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                         FROM embeddings WHERE embedding IS NOT NULL),
    cent(i, cid, c) AS (
      SELECT 0, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cid, v
      FROM (SELECT id, v FROM e ORDER BY id LIMIT 10)
      UNION ALL
      SELECT i + 1, cluster_id, list(m ORDER BY pos)
      FROM (
        SELECT a.i, a.cluster_id, gs.pos,
               CAST(SUM(CAST(a.v[gs.pos] AS DECIMAL(28,12))) / COUNT(*) AS DOUBLE) AS m
        FROM (
          SELECT ce.i, ee.id, ee.v,
                 (MIN({'d2': list_sum(list_transform(list_zip(ee.v, ce.c),
                                      p -> (p[1]-p[2])*(p[1]-p[2]))),
                       'cid': ce.cid})).cid AS cluster_id
          FROM e ee, cent ce
          WHERE ce.i < 6
          GROUP BY ce.i, ee.id, ee.v
        ) a, (SELECT unnest(generate_series(1, 64)) AS pos) gs
        GROUP BY a.i, a.cluster_id, gs.pos
      )
      GROUP BY i, cluster_id
    ),
    final_cent AS (SELECT cid, c FROM cent WHERE i = 6),
    assign AS (
      SELECT ee.id,
             MIN({'d2': list_sum(list_transform(list_zip(ee.v, fc.c),
                                  p -> (p[1]-p[2])*(p[1]-p[2]))),
                  'cid': fc.cid}) AS best
      FROM e ee, final_cent fc
      GROUP BY ee.id
    )
"""


@register(
    "ext_kmeans_embeddings",
    _KMEANS_CTE
    + """
    SELECT id AS vec_id, (best).cid AS cluster_id,
           FLOOR((best).d2 * 1e6 + 0.5) / 1e6 AS sq_dist
    FROM assign
    """,
    doc="Distributed Lloyd's k-means over the embeddings table (k=10, 6 "
    "rounds, deterministic lowest-id init). Per round: broadcast-k assign "
    "(map-side) + one (cluster, dim) decimal-mean shuffle of k·d rows; "
    "localCheckpoint keeps the plan constant-size. Deterministic "
    "throughout (sequential L2 folds, struct-min tie-breaks, decimal "
    "means) — which is what lets a recursive-CTE oracle replay all 6 "
    "Lloyd rounds to exact equality (upgraded from rows-only). The "
    "clustering stage of curation pipelines.",
)
def ext_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import clustering
    from dbt_glue_spark.functions.scalars import half_up_round

    emb = load_table(spark, sf_dir, "embeddings")
    out = clustering.kmeans_assign(emb, k=10, max_iter=6)
    return out.select(
        "vec_id", "cluster_id", half_up_round(F.col("sq_dist"), 6).alias("sq_dist")
    )


@register(
    "ext_semantic_dedup",
    _KMEANS_CTE
    + f"""
    , m AS (
      SELECT a2.id, (a2.best).cid AS cid,
             FLOOR((a2.best).d2 * 1e6 + 0.5) / 1e6 AS d2, e2.v
      FROM assign a2 JOIN e e2 USING (id)
    ),
    dup AS (
      SELECT DISTINCT CASE WHEN x.d2 > y.d2 THEN x.id
                           WHEN x.d2 < y.d2 THEN y.id
                           ELSE greatest(x.id, y.id) END AS id
      FROM m x JOIN m y ON x.cid = y.cid AND x.id < y.id
      WHERE {_cos_sql('x.v', 'y.v')} >= 0.30
    )
    SELECT id AS vec_id, cid AS cluster_id FROM m
    WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.id = m.id)
    """,
    doc="Semantic dedup (SemDeDup): k-means buckets the embedding space, "
    "pairs are compared ONLY within a cluster (equi-join on cluster_id — "
    "candidate volume is per-cluster quadratic, not corpus-quadratic), "
    "and each cosine≥0.30 pair drops its less-prototypical member "
    "(farther from centroid, 6dp-rounded compare so ULP wobble can't "
    "flip a victim). Keeps 255 of ~500 at sf0.01. The paraphrase-level "
    "complement to minhash: oracle replays all 6 Lloyd rounds via "
    "recursive CTE, then mirrors the pair-prune exactly.",
)
def ext_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.semantic_dedup(emb, k=10, max_iter=6, threshold=0.30)


def _cm_oracle() -> str:
    from dbt_glue_spark.extensions.sketches import _CM_DEPTH, _duck_cm_bucket

    build_arms = "\n      UNION ALL ".join(
        f"SELECT {j} AS row_idx, {_duck_cm_bucket('tok', j)} AS bucket FROM tk"
        for j in range(_CM_DEPTH)
    )
    probe_arms = "\n      UNION ALL ".join(
        f"SELECT tok, true_n, {j} AS row_idx, {_duck_cm_bucket('tok', j)} AS bucket FROM top"
        for j in range(_CM_DEPTH)
    )
    return f"""
    WITH tk AS (
      SELECT unnest(regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+')) AS tok
      FROM documents
    ),
    cells AS (
      SELECT row_idx, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ({build_arms})
      GROUP BY row_idx, bucket
    ),
    top AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_n
      FROM tk GROUP BY tok ORDER BY true_n DESC, tok LIMIT 20
    ),
    probes AS ({probe_arms})
    SELECT tok, true_n, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS cm_count
    FROM probes LEFT JOIN cells USING (row_idx, bucket)
    GROUP BY tok, true_n
    """


@register(
    "ext_countmin_tokens",
    _cm_oracle(),
    doc="Count-min sketch (depth 4 × width 256, md5-fraction buckets → "
    "engine-portable, cell-exact) built over all word tokens, probed for "
    "the true top-20 tokens: cm_count ≥ true_n by construction, equal "
    "when no bucket collisions. The 100 TB story: the sketch shuffle "
    "carries only (row, bucket) pairs into a ~4 KB aggregate — the "
    "constant-memory alternative to exact per-token counting; probes "
    "broadcast the sketch.",
)
def ext_countmin_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import sketches

    docs = load_table(spark, sf_dir, "documents")

    # NOT persisted (r12 A/B: 1.90 s vs 2.15 s cached): the token
    # explode is map-only codegen; recomputing it for the sketch and
    # the exact-count branches beats caching the exploded strings.
    # r12-opt: BOTH branches now start from the same per-token count
    # aggregate (identical subtree → AQE stage reuse runs it once), and
    # the sketch is built WEIGHTED from it — cell counts are identical
    # (Σ per-token tf = instance count) while the 4-md5-per-row bucket
    # arithmetic runs per DISTINCT token instead of per token instance.
    tk = docs.select(
        F.explode(
            F.expr(r"regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+', 0)")
        ).alias("tok")
    )
    tf = tk.groupBy("tok").agg(F.count("*").alias("true_n"))
    sketch = sketches.countmin_build(tf, "tok", weight_col="true_n")
    top = tf.orderBy(F.desc("true_n"), F.asc("tok")).limit(20)
    est = sketches.countmin_estimate(sketch, top.select("tok"), "tok")
    return top.join(est, "tok").select("tok", "true_n", "cm_count")


def _bloom_oracle() -> str:
    from dbt_glue_spark.extensions.sketches import _BLOOM_K, _duck_bloom_pos

    build_arms = "\n        UNION ALL ".join(
        f"SELECT {_duck_bloom_pos('c_custkey', j)} AS p FROM rich"
        for j in range(_BLOOM_K)
    )
    probe_conds = "\n        AND ".join(
        f"{_duck_bloom_pos('o_custkey', j)} IN (SELECT p FROM pos)"
        for j in range(_BLOOM_K)
    )
    return f"""
    WITH rich AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 9500
    ),
    pos AS (SELECT DISTINCT p FROM ({build_arms})),
    cand AS (
      SELECT o_orderstatus FROM orders
      WHERE {probe_conds}
    ),
    bloom_counts AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_bloom_candidates
      FROM cand GROUP BY o_orderstatus
    ),
    exact_counts AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_exact_matches
      FROM orders WHERE o_custkey IN (SELECT c_custkey FROM rich)
      GROUP BY o_orderstatus
    )
    SELECT b.o_orderstatus, b.n_bloom_candidates,
           COALESCE(e.n_exact_matches, 0) AS n_exact_matches
    FROM bloom_counts b LEFT JOIN exact_counts e USING (o_orderstatus)
    """


@register(
    "ext_bloom_prune",
    _bloom_oracle(),
    doc="Bloom-filter join pruning (2^16 bits, k=4, md5-fraction bit "
    "positions → deterministic false-positive set, NO false negatives): "
    "orders probed against a filter built from high-balance customers, "
    "compared per status with the exact semi-join counts "
    "(candidates ⊇ exact). The 100 TB pattern: the ≤64 KB position set "
    "always broadcasts, pruning the fact side map-side BEFORE any "
    "shuffle toward an exact join — cross-batch 'seen this key?' "
    "dedup uses the same primitive.",
)
def ext_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import sketches

    # NOT persisted (r12 interleaved A/B: caching rich+bloom read 1.45 s
    # vs 1.11 s uncached — identical subtrees are deduped by AQE stage
    # reuse / ReuseExchange at runtime, and the broadcast of the 64 KB
    # position set is reused across the k probe branches already)
    rich = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select("c_custkey")
        .distinct()
    )
    # project the probe side to the two needed columns BEFORE the
    # opaque k-branch probe (guide: project before the exchange)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_custkey"
    )
    bloom = sketches.bloom_build(rich, "c_custkey")
    cand = sketches.bloom_probe(bloom, orders, "o_custkey")
    # ONE scan of orders: the Bloom filter has NO false negatives, so
    # every exact match is a bloom candidate — the exact count rides the
    # same candidate stream via one left join against the (distinct)
    # rich keys instead of a second full-orders semi-join. Per-status
    # rows and counts are identical to the two-scan form: statuses with
    # >= 1 bloom candidate appear (exact matches imply candidacy).
    flagged = cand.join(
        rich.select(F.col("c_custkey").alias("o_custkey")).withColumn(
            "__hit", F.lit(1)
        ),
        "o_custkey",
        "left",
    )
    return flagged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_bloom_candidates"),
        F.count("__hit").cast("bigint").alias("n_exact_matches"),
    ).select("o_orderstatus", "n_bloom_candidates", "n_exact_matches")


@register(
    "ext_shard_packing",
    r"""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT source, doc_id, n_tokens,
             CAST(FLOOR(CAST(SUM(n_tokens) OVER
                    (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens AS DOUBLE) / 2000) AS INT) AS shard_id
      FROM tok
    )
    SELECT source, shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM packed
    GROUP BY source, shard_id
    """,
    doc="Token-budget shard packing: docs are assigned to ~2000-token "
    "training shards by bucketing each doc's STARTING cumulative offset "
    "(cumsum − own length) within its source — deterministic greedy "
    "packing as one window + one groupBy. 100 TB shape: the window "
    "partitions by source, so packing parallelizes across sources "
    "instead of serializing through one global running sum; integer "
    "token counts make the cumsum exact.",
)
def ext_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dbt_glue_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = tok.select(
        "source",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("double") / 2000
        )
        .cast("int")
        .alias("shard_id"),
    )
    return packed.groupBy("source", "shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
    )


@register(
    "ext_diversity_sample",
    _KMEANS_CTE
    + """
    , best_per_cluster AS (
      SELECT (best).cid AS cluster_id,
             MIN({'d2': (best).d2, 'id': id}) AS rep
      FROM assign
      GROUP BY (best).cid
    )
    SELECT cluster_id, (rep).id AS vec_id,
           FLOOR((rep).d2 * 1e6 + 0.5) / 1e6 AS sq_dist
    FROM best_per_cluster
    """,
    doc="Diversity sampling: the member closest to its centroid per "
    "k-means cluster (argmin via struct-min, k-row output) — exemplar "
    "selection for topic-balanced subcorpora. Oracle replays the full "
    "k-means + per-cluster argmin (upgraded from rows-only).",
)
def ext_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import clustering
    from dbt_glue_spark.functions.scalars import half_up_round

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = clustering.kmeans_assign(emb, k=10, max_iter=6)
    reps = clustering.cluster_representatives(assigned)
    return reps.select(
        "cluster_id", "vec_id", half_up_round(F.col("sq_dist"), 6).alias("sq_dist")
    )


def _hist_oracle() -> str:
    from dbt_glue_spark.extensions.sketches import _HIST_BUCKETS

    b = float(_HIST_BUCKETS)
    arms = "\n    UNION ALL ".join(
        f"""SELECT CAST({q} AS DOUBLE) AS q,
           FLOOR((lo + (bucket + ({q} * n - (cum - cnt)) / cnt)
                  * ((hi - lo) / {b})) * 1e6 + 0.5) / 1e6 AS estimate
    FROM (SELECT * FROM cdf CROSS JOIN stats
          WHERE cum >= {q} * n ORDER BY bucket LIMIT 1)"""
        for q in (0.5, 0.9, 0.99)
    )
    return f"""
    WITH stats AS (
      SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS lo,
             MAX(CAST(o_totalprice AS DOUBLE)) AS hi,
             COUNT(*) AS n
      FROM orders
    ),
    hist AS (
      SELECT CASE WHEN hi = lo THEN 0
                  ELSE LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - lo)
                               / ((hi - lo) / {b})) AS INT),
                   {_HIST_BUCKETS - 1}) END AS bucket,
             COUNT(*) AS cnt
      FROM orders CROSS JOIN stats
      GROUP BY 1
    ),
    cdf AS (
      SELECT bucket, cnt,
             SUM(cnt) OVER (ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM hist
    )
    {arms}
    """


@register(
    "ext_histogram_quantiles",
    _hist_oracle(),
    doc="Histogram quantile sketch (256 fixed-width cells, linear "
    "interpolation): p50/p90/p99 of order totalprice. Bit-reproducible "
    "across engines (pure IEEE arithmetic on identically-computed "
    "values), unlike percentile_approx's GK sketch. Completes the "
    "mergeable sketch quartet — both passes are partial-agg trees; "
    "the quantile walk is a 256-row frame.",
)
def ext_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import sketches

    orders = load_table(spark, sf_dir, "orders")
    return sketches.histogram_quantiles(orders, "o_totalprice")


@register(
    "ext_pagerank_trade",
    r"""
    WITH RECURSIVE edges AS (
      SELECT sn.n_name AS src, cn.n_name AS dst,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
                  AS DOUBLE) AS volume
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      WHERE sn.n_name <> cn.n_name
      GROUP BY 1, 2
    ),
    -- UNION ALL + DISTINCT, not plain UNION: inside WITH RECURSIVE DuckDB
    -- gives a two-arm UNION recursive-union semantics and skips the dedup
    nodes AS (SELECT DISTINCT node FROM
              (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    outw AS (SELECT src, CAST(SUM(CAST(volume AS DECIMAL(28,12))) AS DOUBLE) AS ow
             FROM edges GROUP BY src),
    trans AS (
      SELECT e.src, e.dst, e.volume / o.ow AS share
      FROM edges e JOIN outw o ON e.src = o.src
      UNION ALL
      SELECT node, node, 0.0 FROM nodes  -- zero self-loops keep every node present
    ),
    it(i, node, rank) AS (
      SELECT 0, node, 1.0 / (SELECT n FROM nn) FROM nodes
      UNION ALL
      SELECT i + 1, t.dst,
             ((0.15 / (SELECT n FROM nn))
              + 0.85 * CAST(SUM(CAST(t.share * it.rank AS DECIMAL(28,12))) AS DOUBLE))
             / CAST(SUM(CAST((0.15 / (SELECT n FROM nn))
                     + 0.85 * CAST(SUM(CAST(t.share * it.rank AS DECIMAL(28,12))) AS DOUBLE)
                   AS DECIMAL(28,12))) OVER () AS DOUBLE)
      FROM it JOIN trans t ON t.src = it.node
      WHERE it.i < 10
      GROUP BY it.i, t.dst
    )
    SELECT node, FLOOR(rank * 1e6 + 0.5) / 1e6 AS rank FROM it WHERE i = 10
    """,
    doc="Weighted PageRank over the nation trade graph (supplier nation → "
    "customer nation, edge weight = trade volume from the q7-style join). "
    "Iterative: per round one dst-keyed shuffle reusing the node "
    "partitioning; decimal inflow sums → bit-reproducible, which is what "
    "lets a recursive-CTE oracle replay all 10 rounds to exact equality "
    "(upgraded from rows-only). The authority signal for crawl/corpus "
    "source prioritization.",
)
def ext_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.graph import pagerank

    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst")
    )
    edges = (
        lineitem.join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(ns), supplier.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(nc), customer.c_nationkey == F.col("c_nk"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("volume")
        )
    )
    from dbt_glue_spark.functions.scalars import half_up_round

    ranks = pagerank(edges, weight_col="volume", iterations=10)
    return ranks.select("node", half_up_round(F.col("rank"), 6).alias("rank"))


def _split_oracle() -> str:
    frac = _duck_hash_fraction("doc_id")
    return f"""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN {frac} < 0.8 THEN 'train'
                  WHEN {frac} < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM assigned GROUP BY split, lang
    """


@register(
    "ext_train_val_test_split",
    _split_oracle(),
    doc="Deterministic train/val/test split (80/10/10 by md5 hash "
    "fraction of doc_id), counted per (split, lang). Content-hash "
    "assignment is stable under corpus growth and layout — adding docs "
    "never reassigns existing ones (no leakage churn between training "
    "runs). Narrow projection + one tiny groupBy.",
)
def ext_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.sampling import train_val_test_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        train_val_test_split(docs, "doc_id", 0.1, 0.1)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


# Shared bigram-LM oracle core: WITH-clauses through the quantized model
# terms plus the per-doc score select — reused verbatim by ext_lm_score and
# the CCNet bucket query so the two can never drift apart.
_LM_CORE = r"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+') AS ws
      FROM documents
    ),
    uni AS (SELECT unnest(ws) AS w FROM tok),
    c1 AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY w),
    vocab AS (SELECT COUNT(*) AS v FROM c1),
    big AS (
      SELECT doc_id,
             unnest([{'w1': ws[i], 'w2': ws[i+1]}
                     for i in generate_series(1, len(ws) - 1)],
                    recursive := true)
      FROM tok WHERE len(ws) >= 2
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
    docbig AS (
      SELECT doc_id, w1, w2, COUNT(*) AS tf FROM big GROUP BY doc_id, w1, w2
    ),
    terms AS (
      SELECT doc_id, tf, CAST(c12 + 1 AS HUGEINT) * 1000000000 // (c1 + v) AS p9
      FROM docbig
      JOIN c12 USING (w1, w2)
      JOIN c1 ON c1.w = docbig.w1
      CROSS JOIN vocab
    ),
    lm AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
             FLOOR(CAST(SUM(tf * p9) AS DOUBLE) / (SUM(tf) * 1e9) * 1e6 + 0.5)
               / 1e6 AS avg_next_word_p
      FROM terms GROUP BY doc_id
    )
"""


@register(
    "ext_lm_score",
    _LM_CORE
    + """
    SELECT doc_id, n_bigrams, avg_next_word_p FROM lm
    """,
    doc="Bigram language-model quality scoring "
    "(text_analysis.bigram_lm_score): mean next-word probability under an "
    "add-one-smoothed bigram model trained on the corpus itself — the "
    "CCNet/KenLM perplexity-filter stage in deterministic closed form "
    "(ln-free: ranks like negative perplexity; model probabilities are "
    "integer-quantized to 1e-9 by exact int64 floor division, so per-doc "
    "accumulation is an integer sum — exact in any order on any engine). "
    "One lexer pass feeds unigram counts, bigram "
    "counts and per-doc tfs; shuffles carry short word-pair keys with "
    "map-side partial aggregation, never documents; V broadcasts as a "
    "one-row scalar.",
)
def ext_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.bigram_lm_score(docs)


def _wordpiece_oracle_head() -> str:
    from dbt_glue_spark.extensions.text_analysis import _wordpiece_step_sql

    step = _wordpiece_step_sql(text_analysis.WORDPIECE_VOCAB)
    return f"""
    WITH RECURSIVE inst AS (
      SELECT doc_id, unnest(regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+')) AS word
      FROM documents
    ),
    dw AS (SELECT DISTINCT word FROM inst),
    steps AS (
      SELECT word, 1 AS pos, 0 AS n_pieces, '' AS pieces FROM dw
      UNION ALL
      SELECT word, pos + {step}, n_pieces + 1,
             pieces || CASE WHEN pos = 1 THEN '' ELSE ' ##' END
                    || substr(word, pos, {step})
      FROM steps WHERE pos <= length(word)
    ),
    seg AS (
      SELECT word, n_pieces, pieces FROM steps WHERE pos > length(word)
    )
    """


@register(
    "ext_wordpiece_doc_stats",
    _wordpiece_oracle_head()
    + """
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
           FLOOR(CAST(SUM(n_pieces) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6
             AS pieces_per_word
    FROM inst JOIN seg USING (word) GROUP BY doc_id
    """,
    doc="Subword tokenization per document "
    "(text_analysis.wordpiece_tokenize): WordPiece/BERT-style greedy "
    "longest-match segmentation against a fixed vocabulary, run as a "
    "recursive CTE over DISTINCT words only (tokenize the vocabulary, "
    "not the corpus — Zipf makes the word→segmentation map tiny) with "
    "token instances equi-joining the map back. pieces_per_word is the "
    "fertility statistic a training pipeline budgets context windows "
    "with. The oracle replays the identical greedy recursion in SQL.",
)
def ext_wordpiece_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.functions.scalars import half_up_round

    docs = load_table(spark, sf_dir, "documents")
    seg = text_analysis.wordpiece_tokenize(docs)
    return seg.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("n_pieces").cast("bigint").alias("n_pieces"),
        half_up_round(F.sum("n_pieces") / F.count("*"), 6).alias(
            "pieces_per_word"
        ),
    )


@register(
    "ext_wordpiece_top_words",
    _wordpiece_oracle_head()
    + """
    , wc AS (SELECT word, COUNT(*) AS n_occ FROM inst GROUP BY word)
    SELECT word, CAST(n_occ AS BIGINT) AS n_occ,
           CAST(n_pieces AS BIGINT) AS n_pieces, pieces
    FROM wc JOIN seg USING (word)
    ORDER BY n_occ DESC, word LIMIT 200
    """,
    doc="The 200 most frequent corpus words with their full WordPiece "
    "segmentations — value-checks the actual piece strings (including "
    "the ## continuation rendering) cross-engine, not just counts. "
    "Top-k via TakeOrderedAndProject on (count, word), no global sort.",
)
def ext_wordpiece_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seg = text_analysis.wordpiece_tokenize(docs)
    return (
        seg.groupBy("word", "n_pieces", "pieces")
        .agg(F.count("*").cast("bigint").alias("n_occ"))
        .select("word", "n_occ", "n_pieces", "pieces")
        .orderBy(F.desc("n_occ"), F.asc("word"))
        .limit(200)
    )


def _mmr_oracle(n_queries: int = 4, n_cand: int = 20, k: int = 8) -> str:
    """Unrolled greedy-MMR replay: k chained CTEs, one per selection
    round (the fixed-k analogue of the recursive-CTE k-means/PageRank
    replays — unrolling keeps each round a plain argmax-with-penalty
    SELECT). Literals 0.7/0.3 match the Spark operator's lam/mu exactly
    (mu is never computed as 1-lam: that double differs from 0.3)."""
    parts = [
        f"""
    WITH base AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
                           WHERE embedding IS NOT NULL),
    q AS MATERIALIZED (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM base WHERE vec_id < {n_queries}),
    c AS MATERIALIZED (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
          FROM base),
    scored AS (
      SELECT query_id, neighbor_id,
             {_cos_sql('qv', 'cv')} AS sim
      FROM q, c WHERE neighbor_id <> query_id
    ),
    cand AS MATERIALIZED (
      SELECT query_id, neighbor_id, sim FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        FROM scored) t
      WHERE rk <= {n_cand}
    ),
    pairs AS MATERIALIZED (
      SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
             {_cos_sql('ea.embedding::DOUBLE[]', 'eb.embedding::DOUBLE[]')} AS sim_ab
      FROM cand a
      JOIN cand b ON a.query_id = b.query_id
                 AND a.neighbor_id <> b.neighbor_id
      JOIN base ea ON ea.vec_id = a.neighbor_id
      JOIN base eb ON eb.vec_id = b.neighbor_id
    ),
    sel1 AS (
      SELECT query_id, neighbor_id, sim, 1 AS sel_rank FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
        FROM cand) t
      WHERE rn = 1
    ),
    all1 AS (SELECT * FROM sel1)"""
    ]
    for t in range(2, k + 1):
        parts.append(
            f""",
    sel{t} AS (
      SELECT query_id, neighbor_id, sim, {t} AS sel_rank FROM (
        SELECT r.query_id, r.neighbor_id, r.sim,
               ROW_NUMBER() OVER (PARTITION BY r.query_id
                 ORDER BY (0.7 * r.sim - 0.3 * p.pen) DESC,
                          r.neighbor_id) AS rn
        FROM cand r
        JOIN (SELECT pr.query_id, pr.a_id, MAX(pr.sim_ab) AS pen
              FROM pairs pr JOIN all{t - 1} s
                ON s.query_id = pr.query_id AND s.neighbor_id = pr.b_id
              GROUP BY pr.query_id, pr.a_id) p
          ON p.query_id = r.query_id AND p.a_id = r.neighbor_id
        WHERE NOT EXISTS (SELECT 1 FROM all{t - 1} s2
                          WHERE s2.query_id = r.query_id
                            AND s2.neighbor_id = r.neighbor_id)
      ) t WHERE rn = 1
    ),
    all{t} AS MATERIALIZED (SELECT * FROM all{t - 1} UNION ALL SELECT * FROM sel{t})"""
        )
    parts.append(
        f"""
    SELECT query_id, CAST(sel_rank AS INT) AS sel_rank, neighbor_id, sim
    FROM all{k}
    """
    )
    return "".join(parts)


@register(
    "ext_mmr_rerank",
    _mmr_oracle(),
    doc="Maximal-marginal-relevance diversity re-ranking "
    "(similarity.mmr_rerank): greedy k=8 selection from each query's "
    "top-20 cosine candidates maximizing 0.7·relevance − 0.3·max-sim-to-"
    "already-selected — the diversity-aware retrieval step of RAG "
    "context assembly / exemplar picking. Sequential only in k: every "
    "round is joins keyed by query_id, so all queries re-rank together; "
    "the oracle replays all 8 greedy rounds as unrolled SQL with "
    "identical literal arithmetic and id tie-breaks.",
)
def ext_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.mmr_rerank(
        emb, emb.filter(F.col("vec_id") < 4), n_candidates=20, k=8
    )


@register(
    "ext_knn_quantized",
    """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
               AS amax
      FROM embeddings
    ),
    qz AS (
      SELECT vec_id,
             CASE WHEN amax > 0
                  THEN list_transform(
                         v, x -> CAST(FLOOR(x * 127 / amax + 0.5) AS BIGINT))
                  ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
      FROM base
    ),
    prq AS (SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id < 10),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             list_sum([qq[i] * c.q[i]
                       for i in generate_series(1, len(qq))]) AS dotq,
             sqrt(CAST(list_sum([qq[i] * qq[i]
                    for i in generate_series(1, len(qq))]) AS DOUBLE))
             * sqrt(CAST(list_sum([c.q[i] * c.q[i]
                    for i in generate_series(1, len(c.q))]) AS DOUBLE)) AS nn
      FROM prq, qz c WHERE c.vec_id <> query_id
    ),
    sims AS (
      SELECT query_id, neighbor_id,
             FLOOR(CASE WHEN nn > 0 THEN CAST(dotq AS DOUBLE) / nn END
                   * 10000 + 0.5) / 10000 AS qsim
      FROM scored
    )
    SELECT query_id, neighbor_id, qsim, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY qsim DESC, neighbor_id) AS rk
      FROM sims) t
    WHERE rk <= 5
    """,
    doc="Top-5 ANN on symmetric int8-quantized embeddings "
    "(similarity.quantize_embeddings + knn_quantized): per-vector scale "
    "amax/127, codes by the explicit half-up floor formula, integer dot "
    "products and norms (exact in any order, ≤127²·dim ≪ 2^53), one "
    "double division at the end. Same broadcast-probe zero-corpus-"
    "shuffle plan as the float baseline with a ~4× smaller corpus "
    "payload — the quantized index packs 4× more vectors per executor. "
    "The oracle replays quantization and integer scoring exactly.",
)
def ext_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_quantized(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register(
    "ext_corpus_diff",
    """
    WITH b AS (
      SELECT doc_id, text || CASE WHEN doc_id % 13 = 0 THEN ' [edited]'
                                  ELSE '' END AS text
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, 'new document ' || doc_id AS text
      FROM documents WHERE doc_id % 23 = 0
    ),
    ha AS (SELECT doc_id, MD5(COALESCE(text, '')) AS h FROM documents),
    hb AS (SELECT doc_id, MD5(COALESCE(text, '')) AS h FROM b)
    SELECT CASE WHEN ha.h IS NULL THEN 'added'
                WHEN hb.h IS NULL THEN 'removed'
                WHEN ha.h = hb.h THEN 'unchanged'
                ELSE 'changed' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(COALESCE(ha.doc_id, hb.doc_id)) AS BIGINT) AS min_doc_id
    FROM ha FULL OUTER JOIN hb USING (doc_id)
    GROUP BY 1
    """,
    doc="Snapshot diff between two corpus versions (audit.corpus_diff): "
    "row-level added/removed/changed/unchanged by content md5, counted "
    "per status. Snapshot B is a deterministic mutation of the documents "
    "table (drop %17, edit %13, add %23 under new ids) so the oracle "
    "replays it exactly. Each side reduces to (id, 16-byte hash) BEFORE "
    "the full outer join — the shuffle carries hashes, never documents "
    "(the exact-dedup discipline applied to snapshot comparison).",
)
def ext_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    edited = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.filter(F.col("doc_id") % 23 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.concat(F.lit("new document "), F.col("doc_id").cast("string")).alias(
            "text"
        ),
    )
    snapshot_b = edited.unionByName(added)
    diff = corpus_diff(docs, snapshot_b)
    return diff.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
    )


@register(
    "ext_cdc_chunks",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    pt AS (
      SELECT doc_id, i AS pos, toks[i] AS tok
      FROM tok,
           LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) t
    ),
    mk AS (
      SELECT doc_id, pos, tok,
             SUM(CASE WHEN substring(MD5(tok), 1, 1) = '0'
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS chunk_idx
      FROM pt
    ),
    ch AS (
      SELECT doc_id, chunk_idx, COUNT(*) AS n_chunk_tokens,
             MD5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
      FROM mk GROUP BY doc_id, chunk_idx
    ),
    sh AS (
      SELECT chunk_hash, COUNT(DISTINCT doc_id) AS nd
      FROM ch GROUP BY chunk_hash
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_chunk_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks
    FROM ch JOIN sh USING (chunk_hash) GROUP BY doc_id
    """,
    doc="Content-defined chunking (dedup.cdc_chunks): chunk boundaries "
    "where a token's md5 starts with nibble 0 (~16-token chunks) — the "
    "rsync/LBFS storage-dedup primitive for text. Shift-resistant: an "
    "inserted word re-synchronizes at the next boundary so downstream "
    "chunk hashes survive, where fixed-stride windows all shift "
    "(unit-tested). Per-doc: chunk count, token count, chunks shared "
    "with other documents. Window is per-doc (keyed), reassembly and "
    "sharing counts shuffle hashes + single tokens, never whole "
    "documents.",
)
def ext_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ch = dedup.cdc_chunks(docs)
    return ch.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("bigint").alias("n_tokens"),
        F.sum((F.col("n_docs_with_chunk") > 1).cast("long"))
        .cast("bigint")
        .alias("n_shared_chunks"),
    )


def _stream_cm_oracle() -> str:
    from dbt_glue_spark.extensions.sketches import _CM_DEPTH, _duck_cm_bucket

    uid = "CAST(user_id AS VARCHAR)"
    # NULL keys are excluded on both sides: a NULL hashes to NULL (no
    # sketch cell) in Spark, so probing it is meaningless — the true-count
    # frame must not rank a NULL group either
    build_arms = "\n      UNION ALL ".join(
        f"SELECT {j} AS row_idx, {_duck_cm_bucket(uid, j)} AS bucket"
        " FROM events WHERE user_id IS NOT NULL"
        for j in range(_CM_DEPTH)
    )
    probe_arms = "\n      UNION ALL ".join(
        f"SELECT user_id, true_n, {j} AS row_idx,"
        f" {_duck_cm_bucket(uid, j)} AS bucket FROM top"
        for j in range(_CM_DEPTH)
    )
    return f"""
    WITH cells AS (
      SELECT row_idx, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ({build_arms})
      GROUP BY row_idx, bucket
    ),
    top AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_n
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id ORDER BY true_n DESC, user_id LIMIT 20
    ),
    probes AS ({probe_arms})
    SELECT user_id, true_n, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS cm_count
    FROM probes LEFT JOIN cells USING (row_idx, bucket)
    GROUP BY user_id, true_n
    """


@register(
    "streaming_countmin",
    _stream_cm_oracle(),
    doc="Streaming count-min maintenance end-to-end "
    "(streaming/pipelines.countmin_stream_sink): events staged as a "
    "4-file stream, each micro-batch's sketch merged cell-wise (+) into "
    "a persistent parquet sketch via foreachBatch. Count-min is LINEAR, "
    "so the streamed sketch must equal the batch-built sketch EXACTLY "
    "regardless of batching/order — the oracle rebuilds it over all "
    "events in one shot and probes the true top-20 users. Constant ~4 KB "
    "state summarizing an unbounded stream; the same cell-wise fold "
    "merges per-shard sketches cross-pipeline.",
)
def streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from dbt_glue_spark.extensions.sketches import countmin_build, countmin_estimate
    from dbt_glue_spark.streaming.pipelines import countmin_stream_sink, read_ledger_or

    events = (
        load_table(spark, sf_dir, "events")
        # NULL keys excluded on both sides (see _stream_cm_oracle)
        .filter(F.col("user_id").isNotNull())
        .select(F.col("user_id").cast("string").alias("user_id"))
    )
    target = streams.sink_dir()
    with streams.staged(events, 4) as stream:
        q = countmin_stream_sink(
            stream, spark, target, os.path.join(target, "ckpt"), "user_id"
        )
        streams.drain(q, "streaming_countmin")

    sketch = read_ledger_or(spark, target, countmin_build(events.limit(0), "user_id"))
    top = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("true_n"))
        # numeric tie-break: the hash column is a string, but the oracle's
        # ORDER BY user_id is numeric — "10" < "9" lexicographically
        .orderBy(F.desc("true_n"), F.asc(F.col("user_id").cast("bigint")))
        .limit(20)
    )
    est = countmin_estimate(sketch, top.select("user_id"), "user_id")
    return top.join(est, "user_id").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("true_n").cast("bigint").alias("true_n"),
        F.col("cm_count").cast("bigint").alias("cm_count"),
    )


def _cluster_split_oracle() -> str:
    from dbt_glue_spark.extensions.sketches import _duck_hash_fraction

    frac = _duck_hash_fraction("cluster_id")
    return (
        "WITH RECURSIVE "
        + _CLUSTERS_SQL
        + f""",
    ass AS (
      SELECT doc_id, cluster_id,
             CASE WHEN {frac} < 0.8 THEN 'train'
                  WHEN {frac} < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM clusters
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
    FROM ass GROUP BY split
    """
    )


@register(
    "ext_cluster_safe_split",
    _cluster_split_oracle(),
    doc="Leakage-safe train/val/test split "
    "(sampling.cluster_safe_split): near-dup components (3-gram "
    "Jaccard≥0.5 transitive closure) are assigned as UNITS by hashing "
    "the cluster representative, so no near-dup pair ever crosses the "
    "train/eval boundary — the contamination a plain per-doc hash split "
    "allows. Singletons fall back to exactly the plain hash split. "
    "Components run over V(E) only; the oracle replays closure + "
    "assignment in SQL.",
)
def ext_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.sampling import cluster_safe_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    ass = cluster_safe_split(docs, pairs)
    return ass.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count_distinct("cluster_id").cast("bigint").alias("n_clusters"),
    )


@register(
    "ext_quality_top_per_source",
    "WITH "
    + _TOK
    + r"""
    , stats AS (
      SELECT d.doc_id, d.source,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr_raw,
             CAST(length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
               / greatest(length(d.text), 1) AS alpha_raw,
             CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END
               AS len_ok
      FROM documents d JOIN tok USING (doc_id)
    ),
    scored AS (
      SELECT doc_id, source,
             FLOOR((len_ok + ttr_raw + alpha_raw) / 3.0 * 1000000 + 0.5)
               / 1000000 AS quality_score
      FROM stats
    ),
    ranked AS (
      SELECT doc_id, source, quality_score,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY quality_score DESC, doc_id) AS src_rank,
             COUNT(*) OVER (PARTITION BY source) AS n_source
      FROM scored
    )
    SELECT doc_id, source, quality_score,
           CAST(src_rank AS BIGINT) AS src_rank,
           CAST(n_source AS BIGINT) AS n_source
    FROM ranked
    WHERE src_rank <= CEIL(n_source * 0.3)
    """,
    doc="Per-source quality percentile filter "
    "(text_analysis.quality_top_fraction): keep each source's top 30% by "
    "the C4/Gopher quality heuristic — the FineWeb-style per-dump "
    "threshold that preserves corpus mix instead of letting one clean "
    "domain crowd out the rest. Shuffle-free scoring + one window keyed "
    "by source (never a global sort); deterministic under the id "
    "tie-break.",
)
def ext_quality_top_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.quality_top_fraction(docs, fraction=0.3, by="source")


def _quota_oracle() -> str:
    from dbt_glue_spark.extensions.sketches import _duck_hash_fraction

    frac = _duck_hash_fraction("doc_id")
    return f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY {frac} ASC, doc_id ASC) AS rk
      FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS sample_rank
    FROM ranked WHERE rk <= 25
    """


@register(
    "ext_quota_sample",
    _quota_oracle(),
    doc="Exact-quota stratified sampling (sampling.quota_sample): exactly "
    "25 docs per language by content-hash order — the balanced eval-set "
    "builder a fraction-based sampler can't express. Deterministic and "
    "minimally churning under corpus growth (new rows only displace "
    "later-hashing picks). One window keyed by the stratum, never a "
    "global sort.",
)
def ext_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.sampling import quota_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return quota_sample(docs, ["lang"], 25, "doc_id")


def _bpe_oracle(n_merges: int = 8) -> str:
    """Unrolled BPE training replay: n rounds of pair-count → argmax →
    sentinel-replace, each words_t MATERIALIZED (referenced twice per
    round — inlining would re-derive the whole prefix 2^n times)."""
    s = "chr(30)"
    parts = [
        f"""
    WITH w0 AS MATERIALIZED (
      SELECT regexp_replace(word, '(.)', {s} || '\\1', 'g') AS enc, cnt
      FROM (
        SELECT word, COUNT(*) AS cnt FROM (
          SELECT unnest(regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+')) AS word
          FROM documents) t
        GROUP BY word) wf
    )"""
    ]
    for r in range(1, n_merges + 1):
        prev = f"w{r - 1}"
        parts.append(
            f""",
    p{r} AS MATERIALIZED (
      SELECT syms[i] AS a, syms[i + 1] AS b, SUM(cnt) AS pc
      FROM (
        SELECT list_filter(string_split(enc, {s}), x -> x <> '') AS syms,
               cnt
        FROM {prev}) t,
        LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) ix
      GROUP BY 1, 2
    ),
    b{r} AS MATERIALIZED (
      SELECT a, b, pc FROM p{r} ORDER BY pc DESC, a, b LIMIT 1
    ),
    w{r} AS MATERIALIZED (
      SELECT replace(enc, {s} || b{r}.a || {s} || b{r}.b,
                     {s} || b{r}.a || b{r}.b) AS enc, cnt
      FROM {prev} CROSS JOIN b{r}
    )"""
        )
    arms = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, a AS sym_a, b AS sym_b,"
        f" CAST(pc AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    parts.append(f"\n    {arms}\n    ")
    return "".join(parts)


@register(
    "ext_bpe_merges",
    _bpe_oracle(8),
    doc="BPE vocabulary induction (bpe.bpe_train): 8 merge rules learned "
    "from the corpus — the TRAINING side of subword tokenization "
    "(wordpiece_tokenize is the inference side). Runs over DISTINCT "
    "words + frequencies (the Zipf lever); merge application is a "
    "sentinel-prefixed string replace, so each round is one explode + "
    "partial-aggregated pair count with only the 1-row argmax reaching "
    "the driver. The oracle replays all 8 rounds unrolled with "
    "MATERIALIZED intermediates and identical lexicographic tie-breaks.",
)
def ext_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, n_merges=8)


@register(
    "ext_bpe_segmented_words",
    _bpe_oracle(8).split("\n    SELECT 1 AS round")[0]
    + """
    SELECT replace(enc, chr(30), '') AS word,
           CAST(cnt AS BIGINT) AS n_occurrences,
           CAST(len(list_filter(string_split(enc, chr(30)), x -> x <> ''))
                AS BIGINT) AS n_pieces
    FROM w8
    """,
    doc="BPE end-to-end: the 8 learned merges APPLIED back to the corpus "
    "vocabulary (bpe.bpe_segment_words) — per distinct word, the "
    "post-merge piece count (fertility), i.e. how the learned vocabulary "
    "compresses its own training corpus. The oracle reuses the unrolled "
    "training replay's final words state, so any drift in either "
    "training or application breaks the hash.",
)
def ext_bpe_segmented_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.bpe import bpe_segment_words

    docs = load_table(spark, sf_dir, "documents")
    return bpe_segment_words(docs, n_merges=8)


# ---- round-4 continuation: data-selection / curriculum operators ---------


def _dsir_oracle(n_buckets: int = 1024) -> str:
    from dbt_glue_spark.extensions.sketches import _duck_hash_fraction

    bucket = f"CAST(FLOOR({_duck_hash_fraction('bg')} * {n_buckets}) AS INT)"
    return f"""
    WITH ws AS (
      SELECT doc_id, (lang = 'en') AS is_target,
             regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+') AS ws
      FROM documents
    ),
    bgr AS (
      SELECT doc_id, is_target,
             unnest([ws[i] || ' ' || ws[i+1]
                     for i in generate_series(1, len(ws) - 1)]) AS bg
      FROM ws WHERE len(ws) >= 2
    ),
    bk AS (
      SELECT doc_id, is_target, {bucket} AS bucket FROM bgr
    ),
    tcnt AS (SELECT bucket, COUNT(*) AS ct FROM bk WHERE is_target GROUP BY bucket),
    rcnt AS (SELECT bucket, COUNT(*) AS cr FROM bk WHERE NOT is_target GROUP BY bucket),
    model AS (
      SELECT COALESCE(tcnt.bucket, rcnt.bucket) AS bucket,
             COALESCE(tcnt.ct, 0) AS ct, COALESCE(rcnt.cr, 0) AS cr,
             (COALESCE(tcnt.ct, 0) + 1) * 1000000
               // (COALESCE(rcnt.cr, 0) + 1) AS q6
      FROM tcnt FULL OUTER JOIN rcnt ON tcnt.bucket = rcnt.bucket
    ),
    tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
                   CAST(SUM(cr) AS BIGINT) AS tr FROM model),
    doctf AS (
      SELECT doc_id, bucket, COUNT(*) AS tf
      FROM bk WHERE NOT is_target GROUP BY doc_id, bucket
    ),
    sc AS (
      SELECT doc_id, CAST(SUM(tf * q6) AS BIGINT) AS s,
             CAST(SUM(tf) AS BIGINT) AS n
      FROM doctf JOIN model USING (bucket) GROUP BY doc_id
    )
    SELECT doc_id, n AS n_bigrams,
           FLOOR(s * (CAST(tr + {n_buckets} AS DOUBLE)
                      / CAST(tt + {n_buckets} AS DOUBLE))
                 / (n * 1000000.0) * 1000000 + 0.5) / 1000000.0 AS dsir_weight
    FROM sc, tot
    """


@register(
    "ext_dsir_weights",
    _dsir_oracle(),
    doc="DSIR importance weights (text_analysis.dsir_weights; Xie et al. "
    "2023 data-selection shape): hashed-bigram likelihood-ratio score of "
    "every raw (non-English) document against the English target "
    "exemplars — the resampling weight that tilts a crawl toward a "
    "target domain. Per-bucket ratios are integer-quantized once "
    "(q6 = (ct+1)·10⁶ div (cr+1)); per-doc accumulation is an integer "
    "sum; the bucket-constant smoothing factor C applies once at the "
    "end. Shuffles carry (int bucket, count) pairs, never text; the "
    "≤1024-row model broadcasts.",
)
def ext_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.dsir_weights(docs, "lang = 'en'")


@register(
    "ext_lm_quality_buckets",
    _LM_CORE
    + """
    , j AS (
      SELECT d.doc_id, d.lang, lm.avg_next_word_p
      FROM documents d JOIN lm ON d.doc_id = lm.doc_id
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY avg_next_word_p DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n_grp
      FROM j
    )
    SELECT doc_id, lang, avg_next_word_p,
           CASE WHEN rk <= CEIL(n_grp / 3.0) THEN 'head'
                WHEN rk <= CEIL(n_grp * 2.0 / 3.0) THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM r
    """,
    doc="CCNet head/middle/tail perplexity buckets "
    "(text_analysis.lm_quality_buckets): every doc ranked by its bigram-"
    "LM score WITHIN its language and labeled head/middle/tail by "
    "explicit rank thresholds (ceil(n/3) boundaries — NTILE-free so "
    "both engines agree on every boundary). The oracle shares _LM_CORE "
    "with ext_lm_score verbatim: a drift in either the model or the "
    "bucketing breaks the hash. One window keyed by lang on top of the "
    "shuffle-bounded LM score.",
)
def ext_lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.lm_quality_buckets(docs, by="lang")


@register(
    "ext_ngram_dup_fraction",
    "WITH "
    + _SH
    + r""",
    dfreq AS (SELECT shingle, COUNT(*) AS dfr FROM sh GROUP BY shingle),
    per AS (
      SELECT doc_id, COUNT(*) AS n_sh,
             SUM(CASE WHEN dfr >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM sh JOIN dfreq USING (shingle) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles,
           CAST(n_dup AS BIGINT) AS n_dup_shingles,
           FLOOR(CAST(n_dup AS DOUBLE) / n_sh * 1000000 + 0.5) / 1000000.0
             AS dup_fraction
    FROM per
    """,
    doc="Per-document duplicated n-gram fraction "
    "(dedup.ngram_dup_fraction): fraction of each doc's distinct 3-gram "
    "shingles occurring in ≥2 docs — the What's-In-My-Big-Data / Dolma "
    "corpus-overlap audit that flags boilerplate and missed near-dups; "
    "its corpus mean is the standard memorization-risk number. Shingles "
    "are md5-hashed before the df aggregate and join-back, so every "
    "shuffle carries 16-byte hashes, never shingle text (plan-gated).",
)
def ext_ngram_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_dup_fraction(docs, n=3)


def _proj_component_sql(j: int, dim: int = 64, out_dim: int = 8) -> str:
    from dbt_glue_spark.extensions.similarity import projection_signs

    signs = projection_signs(dim, out_dim)[j]
    chain = " + ".join(
        f"(CAST(embedding[{i + 1}] AS DOUBLE) * {s!r})" for i, s in enumerate(signs)
    )
    return f"FLOOR(({chain}) * 1000000 + 0.5) / 1000000.0"


@register(
    "ext_random_projection",
    "SELECT vec_id, "
    + ", ".join(f"{_proj_component_sql(j)} AS p{j}" for j in range(8))
    + " FROM embeddings",
    doc="Johnson-Lindenstrauss ±1 random projection "
    "(similarity.random_project): 64-d float embeddings shrunk to 8 "
    "sign-sum components — the standard pre-shrink before ANN/clustering "
    "when the embedding column dominates shuffle/index size. "
    "Deterministic sign matrix from the LSH hyperplane generator "
    "(literals embedded in the oracle); sequential left-to-right fold "
    "matches the oracle's left-associated + chain bit-for-bit; pure "
    "per-row projection — no shuffle, no UDF, whole-stage codegen.",
)
def ext_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.random_project(emb)


@register(
    "ext_knn_projected",
    "WITH proj AS (SELECT vec_id, ["
    + ", ".join(_proj_component_sql(j) for j in range(8))
    + f"""] AS pv FROM embeddings WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS query_id, pv AS qv FROM proj WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, pv AS cv FROM proj),
    scored AS (
      SELECT query_id, neighbor_id,
             {_cos_sql('qv', 'cv')} AS sim
      FROM q, c WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, sim, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 5
    """,
    doc="ANN over JL-projected vectors: top-5 cosine in the 8-d projected "
    "space (random_project ∘ knn_bruteforce) — the reduced-dimension "
    "scale path where probe payload and broadcast size drop 8×; recall "
    "vs full-d exact kNN is unit-tested. Same zero-corpus-shuffle "
    "broadcast-probe plan as ext_knn_bruteforce.",
)
def ext_knn_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    proj = similarity.random_project(emb, as_array=True)
    return similarity.knn_bruteforce(
        proj, proj.filter(F.col("vec_id") < 10), vec_col="proj", k=5
    )


@register(
    "ext_data_card",
    r"""
    WITH tokd AS (
      SELECT doc_id, source, lang,
             md5(trim(regexp_replace(regexp_replace(translate(lower(text), 'ς̇', 'σ'),
                 '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS h,
             len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
               AS n_toks
      FROM documents
    ),
    base AS (
      SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
             SUM(n_toks) AS total_tokens,
             FLOOR(CAST(SUM(n_toks) AS DOUBLE) / COUNT(*) * 100 + 0.5) / 100.0
               AS avg_doc_tokens
      FROM tokd GROUP BY source
    ),
    dup AS (
      SELECT source, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS n_dup_docs
      FROM (SELECT source, h, COUNT(*) AS c FROM tokd GROUP BY source, h) g
      GROUP BY source
    ),
    tl AS (
      SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY lc DESC, lang) AS rk
        FROM (SELECT source, lang, COUNT(*) AS lc
              FROM tokd WHERE lang IS NOT NULL
              GROUP BY source, lang) lcs) r
      WHERE rk = 1
    )
    SELECT b.source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_langs AS BIGINT) AS n_langs, top_lang,
           CAST(total_tokens AS BIGINT) AS total_tokens, avg_doc_tokens,
           CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
           FLOOR(CAST(n_dup_docs AS DOUBLE) / n_docs * 1000000 + 0.5)
             / 1000000.0 AS dup_fraction
    FROM base b JOIN dup USING (source) LEFT JOIN tl USING (source)
    """,
    doc="Per-source corpus data card (audit.data_card): document/language "
    "counts, majority language, token totals, mean doc length, and the "
    "within-source exact-duplicate rate — the Datasheets-for-Datasets "
    "summary a training-data release publishes and an ingest pipeline "
    "monitors per crawl. One tokenize pass; the dup-rate aggregate "
    "shuffles (source, 16-byte md5) pairs; the majority-language window "
    "runs over the tiny groups×langs count table.",
)
def ext_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import data_card

    docs = load_table(spark, sf_dir, "documents")
    return data_card(docs)


def _stream_kmv_oracle() -> str:
    from dbt_glue_spark.extensions.sketches import kmv_oracle_sql

    return f"""
    WITH kmv AS ({kmv_oracle_sql("events", "user_id")}),
    ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct
           FROM events)
    SELECT approx_distinct, true_distinct FROM kmv, ex
    """


@register(
    "streaming_kmv_users",
    _stream_kmv_oracle(),
    doc="Streaming KMV distinct-count maintenance "
    "(streaming/pipelines.kmv_stream_sink): events staged as a 4-file "
    "stream; each micro-batch's distinct md5-fraction hashes set-union "
    "into a persistent ≤256-row ledger keeping the k smallest. KMV merge "
    "is a SET operation — order-insensitive AND idempotent under "
    "at-least-once redelivery (unlike additive sketches) — so the "
    "streamed ledger equals the one-shot batch build exactly; the oracle "
    "recomputes the same estimator over all events. Constant O(k) state "
    "for an unbounded stream.",
)
def streaming_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from dbt_glue_spark.extensions.sketches import hash_fraction, kmv_estimate_from_hashes
    from dbt_glue_spark.streaming.pipelines import kmv_stream_sink, read_ledger_or

    events = load_table(spark, sf_dir, "events").select("user_id")
    target = streams.sink_dir()
    with streams.staged(events, 4) as stream:
        q = kmv_stream_sink(stream, spark, target, os.path.join(target, "ckpt"), "user_id")
        streams.drain(q, "streaming_kmv_users")

    ledger = read_ledger_or(
        spark,
        target,
        events.limit(0).select(hash_fraction(F.col("user_id")).alias("h")),
    )
    est = kmv_estimate_from_hashes(ledger)
    exact = events.agg(
        F.countDistinct("user_id").cast("bigint").alias("true_distinct")
    )
    return est.join(F.broadcast(exact))


@register(
    "ext_source_overlap",
    r"""
    WITH toks AS (
      SELECT source,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    shx AS (
      SELECT source,
             unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     for i in generate_series(1, len(toks) - 2)]) AS shingle
      FROM toks
    ),
    sh AS (SELECT DISTINCT source, shingle FROM shx),
    sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
           FLOOR(CAST(n_shared AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_shared) * 1000000 + 0.5) / 1000000.0
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
    doc="Cross-source n-gram overlap matrix (audit.source_overlap_matrix; "
    "WIMBD corpus comparison): distinct-shingle Jaccard between every "
    "source pair — flags the same content crawled into two 'independent' "
    "sources (double-counted mixtures, decontamination hazard). Shingles "
    "reduce to DISTINCT (source, md5) pairs before the self-join, so "
    "fan-out is bounded by |sources|² per hash, never docs²; shuffles "
    "carry hashes, not shingle text (plan-gated).",
)
def ext_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import source_overlap_matrix

    docs = load_table(spark, sf_dir, "documents")
    return source_overlap_matrix(docs)


@register(
    "ext_key_skew_orders",
    """
    WITH counts AS (
      SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
    ),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                     CAST(SUM(cnt) AS BIGINT) AS n_rows FROM counts),
    top AS (
      SELECT k, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, k) AS rk
      FROM counts ORDER BY cnt DESC, k LIMIT 5
    )
    SELECT CAST(rk AS INT) AS rk, CAST(k AS VARCHAR) AS key_value,
           CAST(cnt AS BIGINT) AS n_key_rows,
           FLOOR(CAST(cnt AS DOUBLE) / n_rows * 1000000 + 0.5) / 1000000.0
             AS row_share,
           FLOOR(cnt / (CAST(n_rows AS DOUBLE) / n_keys) * 100 + 0.5) / 100.0
             AS skew_vs_avg,
           n_keys, n_rows
    FROM top, stats
    """,
    doc="Key-skew audit (quality/profile.key_skew) on orders.o_custkey: "
    "hottest 5 keys with row share and skew-vs-average ratio plus global "
    "key stats — the pre-shuffle diagnostic that picks between plain "
    "join, salting, AQE skew-join, and broadcast at 100 TB. One "
    "partial-aggregated groupBy; global top-k compiles to "
    "TakeOrderedAndProject (plan-gated), never a global window; stats "
    "broadcast as one row.",
)
def ext_key_skew_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.quality.profile import key_skew

    orders = load_table(spark, sf_dir, "orders")
    return key_skew(orders, "o_custkey", top_k=5)


def _pc1_oracle(rounds: int = 5) -> str:
    head = """
    WITH dims AS (
      SELECT vec_id AS id, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
    ),
    mu AS (
      SELECT pos, CAST(SUM(CAST(x AS DECIMAL(28,10))) / COUNT(*) AS DOUBLE) AS m
      FROM dims GROUP BY pos
    ),
    cd AS (SELECT id, pos, x - m AS xc FROM dims JOIN mu USING (pos)),
    v0 AS (SELECT DISTINCT pos, 0.125 AS vv FROM dims)
    """
    body = ""
    for r in range(1, rounds + 1):
        body += f""",
    s{r} AS (
      SELECT id, CAST(SUM(CAST(xc * vv AS DECIMAL(28,10))) AS DOUBLE) AS s
      FROM cd JOIN v{r - 1} USING (pos) GROUP BY id
    ),
    w{r} AS (
      SELECT pos, CAST(SUM(CAST(s * xc AS DECIMAL(28,10))) AS DOUBLE) AS w
      FROM cd JOIN s{r} USING (id) GROUP BY pos
    ),
    n{r} AS (SELECT CAST(SUM(CAST(w * w AS DECIMAL(28,10))) AS DOUBLE) AS n2
             FROM w{r}),
    v{r} AS (
      SELECT pos, FLOOR(w / SQRT(n2) * 1000000 + 0.5) / 1000000.0 AS vv
      FROM w{r}, n{r}
    )"""
    tail = f"""
    SELECT id AS vec_id,
           FLOOR(CAST(SUM(CAST(xc * vv AS DECIMAL(28,10))) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS pc1_score
    FROM cd JOIN v{rounds} USING (pos) GROUP BY id
    """
    return head + body + tail


@register(
    "ext_power_iteration_pc1",
    _pc1_oracle(5),
    doc="Top principal component by distributed power iteration "
    "(clustering.power_iteration_pc1): centered embeddings, 5 rounds of "
    "v <- normalize(At(Av)) from a fixed 0.125 start, per-vector PC1 "
    "projection out — the linear-algebra stage behind embedding "
    "whitening, dominant-direction removal, and drift monitoring. Every "
    "matrix-vector sum is DECIMAL(28,10)-accumulated (order-free) and v "
    "is half-up re-quantized each round so error cannot accumulate — "
    "which is what lets the oracle replay all 5 rounds unrolled to exact "
    "equality. Per round: 64-row v broadcast, id-keyed join, d-row "
    "aggregate (the MLlib RowMatrix dataflow, minus RNG).",
)
def ext_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.clustering import power_iteration_pc1

    emb = load_table(spark, sf_dir, "embeddings")
    return power_iteration_pc1(emb)


@register(
    "ext_remove_dominant_direction",
    _pc1_oracle(5).rsplit("SELECT id AS vec_id", 1)[0]
    + """
    , sc AS (
      SELECT id,
             FLOOR(CAST(SUM(CAST(xc * vv AS DECIMAL(28,10))) AS DOUBLE)
                   * 1000000 + 0.5) / 1000000.0 AS pc1_score
      FROM cd JOIN v5 USING (pos) GROUP BY id
    ),
    resid AS (
      SELECT cd.id, sc.pc1_score, cd.xc,
             cd.xc - sc.pc1_score * v5.vv AS r
      FROM cd JOIN v5 USING (pos) JOIN sc ON sc.id = cd.id
    )
    SELECT id AS vec_id, pc1_score,
           FLOOR(SQRT(CAST(SUM(CAST(xc * xc AS DECIMAL(28,10))) AS DOUBLE))
                 * 1000000 + 0.5) / 1000000.0 AS orig_norm,
           FLOOR(SQRT(CAST(SUM(CAST(r * r AS DECIMAL(28,10))) AS DOUBLE))
                 * 1000000 + 0.5) / 1000000.0 AS resid_norm
    FROM resid GROUP BY id, pc1_score
    """,
    doc="All-but-the-top dominant-direction removal (Mu & Viswanath 2018; "
    "clustering.remove_dominant_direction): centered embeddings projected "
    "off the power-iteration PC1, reporting per-vector original norm, "
    "residual norm, and the PC1 projection — the post-processing that "
    "de-anisotropizes document embeddings before similarity search, and "
    "the monitoring signal for how much energy one direction holds. "
    "Residuals use the ROUNDED pc1_score (the quantized model value), "
    "which is what lets the oracle replay the full 5-round iteration "
    "plus the removal to exact equality.",
)
def ext_remove_dominant_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.clustering import remove_dominant_direction

    emb = load_table(spark, sf_dir, "embeddings")
    return remove_dominant_direction(emb)


@register(
    "ext_hard_negatives",
    r"""
    WITH tk AS (
      SELECT doc_id, unnest(regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
    corpus AS (SELECT COUNT(*) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    qt AS (SELECT doc_id, tok FROM tk
           WHERE tok IN ('spark', 'window', 'vector')),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM qt GROUP BY doc_id, tok),
    dft AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY tok),
    per AS (
      SELECT doc_id,
             CAST(((n_docs - df + 0.5) / (df + 0.5))
                  * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               AS DECIMAL(18,9)) AS term_score
      FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN corpus
    ),
    sc AS (
      SELECT doc_id,
             FLOOR(CAST(SUM(term_score) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS bm25
      FROM per GROUP BY doc_id
    ),
    ranked AS (
      SELECT * FROM (
        SELECT doc_id, bm25,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        FROM sc) t
      WHERE rk <= 20
    ),
    rtok AS (
      SELECT r.doc_id, r.rk, r.bm25,
             list_filter(string_split_regex(d.text, '\s+'), t -> t <> '') AS toks
      FROM ranked r JOIN documents d USING (doc_id)
    ),
    rsh AS (
      SELECT doc_id, rk, bm25,
             unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    for i in generate_series(1, len(toks) - 2)])) AS shingle
      FROM rtok
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM rsh GROUP BY doc_id),
    possh AS (SELECT shingle FROM rsh WHERE rk = 1),
    possz AS (SELECT COUNT(*) AS pos_sh FROM rsh WHERE rk = 1),
    inter AS (
      SELECT a.doc_id, COUNT(*) AS n_common
      FROM rsh a JOIN possh b ON a.shingle = b.shingle
      WHERE a.rk > 1 GROUP BY a.doc_id
    ),
    cands AS (
      SELECT r.doc_id, r.bm25,
             CASE WHEN COALESCE(s.n_sh, 0) + p.pos_sh
                       - COALESCE(i.n_common, 0) = 0 THEN 0.0
                  ELSE FLOOR(CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                       / (COALESCE(s.n_sh, 0) + p.pos_sh
                          - COALESCE(i.n_common, 0))
                       * 1000000 + 0.5) / 1000000.0 END AS jaccard_to_pos
      FROM ranked r
      LEFT JOIN sizes s USING (doc_id)
      LEFT JOIN inter i USING (doc_id)
      CROSS JOIN possz p
      WHERE r.rk > 1
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
             AS neg_rank,
           doc_id, bm25, jaccard_to_pos
    FROM cands WHERE jaccard_to_pos < 0.5
    """,
    doc="Hard-negative mining for contrastive retrieval training "
    "(retrieval.hard_negatives): BM25 top-20 for the query, rank 1 is "
    "the positive, remaining candidates kept only if NOT near-duplicates "
    "of the positive (3-gram Jaccard < 0.5) — near-dups are FALSE "
    "negatives that would teach the model to push paraphrases of the "
    "answer away. Corpus-sized work is the BM25 pass "
    "(TakeOrderedAndProject top-k); the dedup check joins candidate "
    "shingles against ONE broadcast positive set — O(topk·doclen) "
    "regardless of corpus size.",
)
def ext_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.hard_negatives(docs, ["spark", "window", "vector"], topk=20)


@register(
    "ext_training_sequences",
    r"""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    off AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_off
      FROM tok WHERE n_tokens > 0
    ),
    segs AS (
      SELECT source, doc_id, n_tokens, start_off,
             unnest(generate_series(CAST(start_off // 512 AS BIGINT),
                                    CAST((start_off + n_tokens - 1) // 512
                                         AS BIGINT))) AS seq_id
      FROM off
    )
    SELECT source, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(GREATEST(start_off, seq_id * 512) - seq_id * 512 AS BIGINT)
             AS pos_in_seq,
           CAST(LEAST(start_off + n_tokens, (seq_id + 1) * 512)
                - GREATEST(start_off, seq_id * 512) AS BIGINT) AS n_seg_tokens
    FROM segs
    """,
    doc="GPT-style training-sequence packing with document splitting "
    "(text_analysis.pack_sequences): per source, docs concatenate into a "
    "token stream cut into exact 512-token sequences; output is the "
    "(sequence, document)-segment manifest a training loader needs for "
    "batch assembly and loss-mask boundaries. Every sequence but the "
    "group's last holds exactly 512 tokens — zero padding waste (the "
    "whole-doc shard packer is the no-split complement). All-integer "
    "arithmetic; one window keyed by source + a narrow sequence explode.",
)
def ext_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.pack_sequences(docs, seq_len=512)


@register(
    "ext_ann_recall_audit",
    f"""
    WITH base AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
                           WHERE embedding IS NOT NULL),
    q AS MATERIALIZED (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                      {_bucket_sql('embedding::DOUBLE[]')} AS b
               FROM base WHERE vec_id < 10),
         c AS MATERIALIZED (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
                      {_bucket_sql('embedding::DOUBLE[]')} AS b
               FROM base),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 {_cos_sql('qv', 'cv')}
                   DESC, neighbor_id) AS rk
        FROM q, c WHERE neighbor_id <> query_id) t
      WHERE rk <= 5
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 {_cos_sql('qv', 'cv')}
                   DESC, neighbor_id) AS rk
        FROM q JOIN c USING (b) WHERE neighbor_id <> query_id) t
      WHERE rk <= 5
    )
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           FLOOR(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000.0
             AS recall_at_5
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id
                       AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
    doc="ANN index-quality audit: per-query recall@5 of the LSH index "
    "against exact brute force — the monitoring query a production "
    "vector index runs on a sampled probe set after every rebuild "
    "(composition of knn_lsh and knn_bruteforce; oracle replays both "
    "with identical plane literals). Probe cost only: the corpus is "
    "scanned twice for the sampled queries, never joined corpus²; at "
    "100 TB the probe set stays small and broadcast.",
)
def ext_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.knn_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = similarity.knn_lsh(emb, queries, k=5, planes=4, dim=64).select(
        F.col("query_id"), F.col("neighbor_id").alias("a_neighbor")
    )
    from dbt_glue_spark.functions.scalars import half_up_round

    joined = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["a_neighbor"]),
        "left",
    ).select(exact["query_id"].alias("qid"), "neighbor_id", "a_neighbor")
    return (
        joined.groupBy("qid")
        .agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.sum(F.when(F.col("a_neighbor").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            F.col("qid").alias("query_id"),
            "n_exact",
            "n_hits",
            half_up_round(F.col("n_hits") / F.col("n_exact"), 6).alias(
                "recall_at_5"
            ),
        )
    )


def _join_size_oracle() -> str:
    from dbt_glue_spark.extensions.sketches import _CM_DEPTH, _duck_cm_bucket

    arms_a = "\n      UNION ALL ".join(
        f"SELECT {j} AS row_idx, {_duck_cm_bucket('user_id', j)} AS bucket"
        " FROM events"
        for j in range(_CM_DEPTH)
    )
    arms_b = "\n      UNION ALL ".join(
        f"SELECT {j} AS row_idx, {_duck_cm_bucket('o_custkey', j)} AS bucket"
        " FROM orders"
        for j in range(_CM_DEPTH)
    )
    return f"""
    WITH cells_a AS (
      SELECT row_idx, bucket, CAST(COUNT(*) AS BIGINT) AS ca
      FROM ({arms_a}) GROUP BY row_idx, bucket
    ),
    cells_b AS (
      SELECT row_idx, bucket, CAST(COUNT(*) AS BIGINT) AS cb
      FROM ({arms_b}) GROUP BY row_idx, bucket
    ),
    dots AS (
      SELECT a.row_idx, SUM(a.ca * b.cb) AS dot
      FROM cells_a a JOIN cells_b b USING (row_idx, bucket)
      GROUP BY a.row_idx
    ),
    est AS (SELECT CAST(MIN(dot) AS BIGINT) AS est_join_size FROM dots),
    ka AS (SELECT user_id AS k, COUNT(*) AS na FROM events GROUP BY user_id),
    kb AS (SELECT o_custkey AS k, COUNT(*) AS nb FROM orders GROUP BY o_custkey),
    tru AS (SELECT CAST(COALESCE(SUM(na * nb), 0) AS BIGINT) AS true_join_size
            FROM ka JOIN kb USING (k))
    SELECT est_join_size, true_join_size FROM est, tru
    """


@register(
    "ext_join_size_estimate",
    _join_size_oracle(),
    doc="Equi-join cardinality estimation from count-min sketches "
    "(sketches.join_size_estimate; AMS inner-product estimator): "
    "|events ⋈ orders on user key| estimated as min over sketch rows of "
    "Σ cmA·cmB — two ~4 KB pre-computed summaries answer 'how big is "
    "this join' without touching either table, the CBO primitive for "
    "join planning at 100 TB. Output pairs the estimate with the true "
    "per-key-count join size so estimator quality is part of the "
    "audited result.",
)
def ext_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.sketches import join_size_estimate

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return join_size_estimate(events, "user_id", orders, "o_custkey")


def _span_corruption_oracle() -> str:
    from dbt_glue_spark.extensions.sketches import _duck_hash_fraction

    frac = _duck_hash_fraction(
        "(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR))"
    )
    return (
        "WITH "
        + _TOK
        + f""",
    tokpos AS (
      SELECT doc_id, i - 1 AS pos
      FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) t
    ),
    st AS (
      SELECT doc_id, pos,
             CASE WHEN {frac} < 0.05 THEN 1 ELSE 0 END AS starts
      FROM tokpos
    ),
    mk AS (
      SELECT doc_id, pos,
             MAX(starts) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS masked
      FROM st
    ),
    sp AS (
      SELECT doc_id, masked,
             CASE WHEN masked = 1 AND COALESCE(LAG(masked) OVER
                    (PARTITION BY doc_id ORDER BY pos), 0) = 0
                  THEN 1 ELSE 0 END AS span_start
      FROM mk
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(masked) AS BIGINT) AS n_masked,
           CAST(SUM(span_start) AS BIGINT) AS n_spans,
           CAST(COUNT(*) - SUM(masked) + SUM(span_start) AS BIGINT)
             AS input_len,
           CAST(SUM(masked) + SUM(span_start) AS BIGINT) AS target_len
    FROM sp GROUP BY doc_id
    """
    )


@register(
    "ext_span_corruption",
    _span_corruption_oracle(),
    doc="T5-style span-corruption example manifest "
    "(text_analysis.span_corruption_manifest): deterministic md5-driven "
    "masking (~15% of tokens in spans of 3, overlapping spans merged) "
    "and the seq2seq example geometry per doc — input_len collapses each "
    "maximal run to one sentinel, target_len = masked + sentinels. "
    "Reproducible example construction: the mask is a pure function of "
    "(id, pos), so re-running the pipeline regenerates byte-identical "
    "training examples. Two doc-keyed bounded windows, no RNG, no UDF.",
)
def ext_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.span_corruption_manifest(docs)


@register(
    "ext_vocab_coverage",
    r"""
    WITH cnt AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT unnest(regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+')) AS w
        FROM documents) u
      GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_vocab FROM cnt),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk,
             SUM(c) OVER (ORDER BY c DESC, w
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM cnt
    ),
    ks AS (SELECT unnest([100, 1000, 10000]) AS k)
    SELECT CAST(k AS INT) AS k, n_vocab,
           FLOOR(CAST(cum AS DOUBLE) / total * 1000000 + 0.5) / 1000000.0
             AS coverage
    FROM ks, tot
    JOIN ranked ON rk = LEAST(k, n_vocab)
    """,
    doc="Zipf vocabulary-coverage audit (text_analysis.vocab_coverage): "
    "fraction of corpus token instances covered by the k most frequent "
    "words for k in {100, 1k, 10k} — the curve that sizes a tokenizer "
    "vocabulary and quantifies head-heaviness. One vocabulary-bounded "
    "count aggregate; top-max(k) via TakeOrderedAndProject (never a "
    "global window over the vocabulary); running sum over ≤ max(k) rows.",
)
def ext_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.vocab_coverage(docs)


@register(
    "ext_kmv_source_overlap",
    sketches.kmv_set_ops_oracle_sql(
        r"(SELECT source, unnest(string_split_regex(text, '\s+')) AS tok"
        " FROM documents)",
        "tok",
        "source",
        k=128,
    ),
    doc="Pairwise vocabulary overlap between crawl sources from KMV sketch "
    "algebra (sketches.kmv_set_ops): per source pair — estimated "
    "|A∪B|, Jaccard, and |A∩B| of the distinct-token sets, computed "
    "entirely from k=128-row sketches (Beyer et al. 2007). The "
    "WIMBD-style source-redundancy audit at one corpus-sized shuffle of "
    "(source, 8-byte hash) pairs; the pairwise algebra is O(sources²·k) "
    "rows, independent of corpus size. md5-fraction hashes make the "
    "estimates bit-reproducible in the DuckDB oracle.",
)
def ext_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    )
    return sketches.kmv_set_ops(toks, "tok", "source", k=128)


@register(
    "ext_label_separation",
    """
    WITH dims AS (
      SELECT label AS lbl, gs.pos AS pos, CAST(embedding[gs.pos] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS pos) gs
      WHERE embedding IS NOT NULL
    ),
    lm AS (
      SELECT lbl, pos,
             CAST(SUM(CAST(x AS DECIMAL(28,12))) / COUNT(*) AS DOUBLE) AS m
      FROM dims GROUP BY lbl, pos
    ),
    gm AS (
      SELECT pos,
             CAST(SUM(CAST(x AS DECIMAL(28,12))) / COUNT(*) AS DOUBLE) AS gmean
      FROM dims GROUP BY pos
    ),
    w AS (
      SELECT d.lbl,
             CAST(SUM(CAST((d.x - lm.m) * (d.x - lm.m) AS DECIMAL(28,12)))
                  AS DOUBLE) AS w_ss
      FROM dims d JOIN lm ON lm.lbl = d.lbl AND lm.pos = d.pos
      GROUP BY d.lbl
    ),
    btw AS (
      SELECT lm.lbl,
             CAST(SUM(CAST((lm.m - gm.gmean) * (lm.m - gm.gmean)
                           AS DECIMAL(28,12))) AS DOUBLE) AS c_d2
      FROM lm JOIN gm ON gm.pos = lm.pos
      GROUP BY lm.lbl
    ),
    cnt AS (
      SELECT label AS lbl, CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM embeddings WHERE embedding IS NOT NULL GROUP BY label
    )
    SELECT cnt.lbl AS label, cnt.n_vecs,
           FLOOR(w.w_ss * 1000000.0 + 0.5) / 1000000.0 AS within_ss,
           FLOOR(btw.c_d2 * 1000000.0 + 0.5) / 1000000.0 AS centroid_dist2,
           FLOOR(cnt.n_vecs * btw.c_d2 * 1000000.0 + 0.5) / 1000000.0
             AS between_ss,
           FLOOR((cnt.n_vecs * btw.c_d2) / w.w_ss * 1000000.0 + 0.5) / 1000000.0
             AS separation_ratio
    FROM cnt
    JOIN w ON w.lbl = cnt.lbl
    JOIN btw ON btw.lbl = cnt.lbl
    """,
    doc="Fisher-style class-separation audit over the labeled embeddings "
    "(clustering.label_separation): per label — within-class scatter, "
    "centroid distance to the global mean, between-class term and their "
    "ratio. The label-noise / embedding-quality gate of a classifier-"
    "training pipeline. Decimal per-dim means and decimal-quantized "
    "scatter terms make every distributed sum order-free; one posexplode "
    "pass, narrow (label, pos, x) shuffles with map-side partial agg, "
    "≤ labels×dims rows after the first groupBy.",
)
def ext_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.clustering import label_separation

    emb = load_table(spark, sf_dir, "embeddings")
    return label_separation(emb)


@register(
    "ext_distribution_drift",
    """
    WITH b AS (
      SELECT text || CASE WHEN doc_id % 13 = 0 THEN ' [edited]'
                          ELSE '' END AS text
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT 'new document ' || doc_id AS text
      FROM documents WHERE doc_id % 23 = 0
    ),
    ha AS (
      SELECT CAST(LEAST(FLOOR(LENGTH(text) / 32), 31) AS INT) AS bucket,
             COUNT(*) AS ca
      FROM documents WHERE text IS NOT NULL GROUP BY 1
    ),
    hb AS (
      SELECT CAST(LEAST(FLOOR(LENGTH(text) / 32), 31) AS INT) AS bucket,
             COUNT(*) AS cb
      FROM b WHERE text IS NOT NULL GROUP BY 1
    ),
    j AS (
      SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
             CAST(COALESCE(ca, 0) AS BIGINT) AS count_a,
             CAST(COALESCE(cb, 0) AS BIGINT) AS count_b
      FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket
    ),
    t AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
              WHERE text IS NOT NULL) AS n_a,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM b
              WHERE text IS NOT NULL) AS n_b
    )
    SELECT bucket, count_a, count_b,
           FLOOR(CAST(count_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                 * 100000000.0 + 0.5) / 100000000.0 AS prop_a,
           FLOOR(CAST(count_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                 * 100000000.0 + 0.5) / 100000000.0 AS prop_b,
           FLOOR(ABS(CAST(count_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                     - CAST(count_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 * 100000000.0 + 0.5) / 100000000.0 AS abs_prop_diff,
           FLOOR(CAST((count_a - count_b) * (count_a - count_b) AS DOUBLE)
                 / CAST(count_a + count_b AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS chi2_term
    FROM j, t
    """,
    doc="Histogram drift between two corpus snapshots over document length "
    "(audit.distribution_drift): per fixed-width bucket — counts, "
    "proportions, the total-variation term |p_a−p_b| and the chi-square "
    "term (c_a−c_b)²/(c_a+c_b). The retrain-trigger monitor of an ingest "
    "pipeline without PSI's engine-divergent logarithms. Snapshot B is "
    "the same deterministic mutation ext_corpus_diff replays. Each side "
    "collapses to ≤32 rows via map-side partial agg before the join; the "
    "1-row totals broadcast — nothing after the scan scales with corpus "
    "size.",
)
def ext_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import distribution_drift

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
    snapshot_b = edited.unionByName(added)
    a = docs.select(F.length("text").alias("doc_len"))
    b = snapshot_b.select(F.length("text").alias("doc_len"))
    return distribution_drift(a, b, "doc_len", bucket_width=32, n_buckets=32)


@register(
    "ext_encoding_audit",
    r"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[^\x00-\x7f]'))) AS BIGINT)
             AS total_nonascii,
           CAST(SUM(CASE WHEN len(regexp_extract_all(text, '[^\x00-\x7f]')) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_nonascii,
           CAST(SUM(len(regexp_extract_all(text,
                '[\x00-\x08\x0b\x0c\x0e-\x1f]'))) AS BIGINT) AS total_control,
           CAST(SUM(CASE WHEN len(regexp_extract_all(text,
                '[\x00-\x08\x0b\x0c\x0e-\x1f]')) > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_control,
           CAST(SUM(len(regexp_extract_all(text, '�'))) AS BIGINT)
             AS total_replacement,
           CAST(SUM(CASE WHEN len(regexp_extract_all(text, '�')) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_replacement,
           CAST(SUM(len(regexp_extract_all(text, '  +'))) AS BIGINT)
             AS total_multispace,
           CAST(SUM(CASE WHEN len(regexp_extract_all(text, '  +')) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_multispace,
           CAST(SUM(len(regexp_extract_all(text, '\t'))) AS BIGINT)
             AS total_tab,
           CAST(SUM(CASE WHEN len(regexp_extract_all(text, '\t')) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_tab
    FROM documents GROUP BY source
    """,
    doc="Per-source encoding-health audit (text_analysis.encoding_audit): "
    "non-ASCII, C0-control and U+FFFD replacement-character counts plus "
    "whitespace anomalies — the ftfy-style triage pass that decides "
    "which crawl sources need re-decoding before training. Patterns are "
    "Java-regex ∩ RE2 (hex escapes + literals only, the pii_scan "
    "discipline). Narrow codegen projection collapsing into a keyed "
    "groupBy with map-side partial agg — scan-bound at 100 TB.",
)
def ext_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.encoding_audit(docs)


@register(
    "streaming_drift_monitor",
    """
    WITH ref AS (
      SELECT CAST(LEAST(FLOOR(value / 16), 31) AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1
    ),
    live AS (
      SELECT CAST(LEAST(FLOOR(value / 16), 31) AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    j AS (
      SELECT COALESCE(ref.bucket, live.bucket) AS bucket,
             CAST(COALESCE(ref.cnt, 0) AS BIGINT) AS count_a,
             CAST(COALESCE(live.cnt, 0) AS BIGINT) AS count_b
      FROM ref FULL OUTER JOIN live ON ref.bucket = live.bucket
    ),
    t AS (
      SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM ref) AS n_a,
             (SELECT CAST(SUM(cnt) AS BIGINT) FROM live) AS n_b
    )
    SELECT bucket, count_a, count_b,
           FLOOR(CAST(count_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                 * 100000000.0 + 0.5) / 100000000.0 AS prop_a,
           FLOOR(CAST(count_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                 * 100000000.0 + 0.5) / 100000000.0 AS prop_b,
           FLOOR(ABS(CAST(count_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                     - CAST(count_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 * 100000000.0 + 0.5) / 100000000.0 AS abs_prop_diff,
           FLOOR(CAST((count_a - count_b) * (count_a - count_b) AS DOUBLE)
                 / CAST(count_a + count_b AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS chi2_term
    FROM j, t
    """,
    doc="Streaming distribution-drift monitor end-to-end "
    "(streaming/pipelines.histogram_stream_sink + "
    "audit.drift_from_histograms): the event value stream maintains a "
    "≤32-row histogram ledger cell-wise via foreachBatch (histogram "
    "counting is linear ⇒ streamed ≡ batch exactly, any batching), then "
    "the live ledger is drift-compared against a batch reference slice "
    "(event_id %% 2 = 0) with the ext_distribution_drift arithmetic. "
    "The production data-quality monitor: constant state per stream, "
    "log-free drift terms, and the oracle recomputes both histograms "
    "from scratch — proving the ledger lost nothing.",
)
def streaming_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from dbt_glue_spark.extensions.audit import (
        drift_from_histograms,
        value_histogram,
    )
    from dbt_glue_spark.streaming.pipelines import histogram_stream_sink, read_ledger_or

    events = load_table(spark, sf_dir, "events").select("event_id", "value")
    target = streams.sink_dir()
    with streams.staged(events, 4) as stream:
        q = histogram_stream_sink(
            stream, spark, target, os.path.join(target, "ckpt"), "value", 16
        )
        streams.drain(q, "streaming_drift_monitor")

    live = read_ledger_or(spark, target, value_histogram(events.limit(0), "value", 16))
    ref = value_histogram(
        events.filter(F.col("event_id") % 2 == 0), "value", 16
    )
    return drift_from_histograms(ref, live)


@register(
    "ext_winsorize_prices",
    """
    WITH th AS (
      SELECT l_returnflag,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS lo,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag
    ),
    j AS (
      SELECT l.l_returnflag, CAST(l.l_extendedprice AS DOUBLE) AS x,
             th.lo, th.hi,
             GREATEST(LEAST(CAST(l.l_extendedprice AS DOUBLE), th.hi), th.lo)
               AS xc
      FROM lineitem l JOIN th ON th.l_returnflag = l.l_returnflag
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(MIN(lo) * 10000.0 + 0.5) / 10000.0 AS p_low,
           FLOOR(MIN(hi) * 10000.0 + 0.5) / 10000.0 AS p_high,
           CAST(SUM(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(SUM(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           FLOOR(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
             AS mean_before,
           FLOOR(CAST(SUM(CAST(xc AS DECIMAL(28,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
             AS mean_after
    FROM j GROUP BY l_returnflag
    """,
    doc="Per-group winsorization audit over lineitem prices "
    "(profile.winsorize_report): clip at the group's exact 5th/95th "
    "percentiles (Spark percentile ≡ DuckDB quantile_cont) and report "
    "tail counts + decimal-exact means before/after — the outlier-"
    "robustness pass of numeric feature cleaning, reported so the "
    "pipeline owner sees what the clip would do. Two passes: the exact "
    "quantile aggregate, then one clamp+aggregate with the ≤ groups-row "
    "threshold frame broadcast.",
)
def ext_winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return profile.winsorize_report(
        li, "l_extendedprice", "l_returnflag", lower=0.05, upper=0.95
    )


@register(
    "ext_dup_cluster_sizes",
    "WITH RECURSIVE "
    + _CLUSTERS_SQL
    + """,
    csizes AS (
      SELECT cluster_id, COUNT(*) AS sz FROM clusters GROUP BY cluster_id
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM csizes GROUP BY sz
    """,
    doc="Near-dup cluster-size histogram: the distribution of transitive "
    "dup-group sizes (1 = unique doc) — the dedup-telemetry chart every "
    "cleaning run publishes (how much of the corpus sits in how-large "
    "dup families). Composed from the same pair generator + component "
    "labeling ext_dup_clusters proves; two further ≤|clusters|-row "
    "aggregates. A heavy tail here is the signal to raise the Jaccard "
    "threshold or investigate boilerplate.",
)
def ext_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    clusters = dedup.dup_clusters(docs, pairs)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("sz"))
        .groupBy("sz")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
        )
        .select(F.col("sz").cast("bigint").alias("cluster_size"), "n_clusters", "n_docs")
    )


def _rbo_oracle(k: int = 10, p: float = 0.9) -> str:
    """RBO oracle with p-powers embedded as repr'd literals — libm pow
    differs across engines, parsed shortest-round-trip literals don't."""
    omp = repr(1.0 - p)
    vals = ", ".join(f"({d}, {p ** (d - 1)!r}::DOUBLE)" for d in range(1, k + 1))
    return f"""
    WITH tk AS (
      SELECT doc_id, unnest(regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
    corpus AS (SELECT COUNT(*) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    qt AS (SELECT doc_id, tok FROM tk
           WHERE tok IN ('spark', 'window', 'vector')),
    tfq AS (SELECT doc_id, tok, COUNT(*) AS tf FROM qt GROUP BY doc_id, tok),
    dft AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY tok),
    per AS (
      SELECT doc_id,
             CAST(((n_docs - df + 0.5) / (df + 0.5))
                  * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               AS DECIMAL(18,9)) AS term_score
      FROM tfq JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN corpus
    ),
    bmr AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS ra
      FROM (
        SELECT doc_id,
               FLOOR(CAST(SUM(term_score) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS bm25
        FROM per GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT {k}
      )
    ),
    tfr AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS rb
      FROM (
        SELECT doc_id, COUNT(*) AS tf FROM qt GROUP BY doc_id
        ORDER BY tf DESC, doc_id LIMIT {k}
      )
    ),
    perm AS (
      SELECT GREATEST(ra, rb) AS m, COUNT(*) AS c
      FROM bmr JOIN tfr USING (doc_id) GROUP BY 1
    ),
    pw AS (SELECT * FROM (VALUES {vals}) AS v(d, w)),
    xd AS (
      SELECT d, w, COALESCE(SUM(c), 0) AS x
      FROM pw LEFT JOIN perm ON m <= d GROUP BY d, w
    ),
    terms AS (
      SELECT d,
             CAST((({omp} * w) * CAST(x AS DOUBLE)) / CAST(d AS DOUBLE)
                  AS DECIMAL(28,12)) AS t,
             CASE WHEN d = {k} THEN x END AS xk
      FROM xd
    )
    SELECT CAST({k} AS INT) AS k,
           CAST(MAX(xk) AS BIGINT) AS overlap_at_k,
           FLOOR(CAST(SUM(t) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS rbo
    FROM terms
    """


@register(
    "ext_rank_agreement_rbo",
    _rbo_oracle(k=10, p=0.9),
    doc="Rank-biased overlap (Webber et al. 2010, p=0.9, depth 10) "
    "between the BM25 ranking and a plain term-frequency ranking of the "
    "same 3-term query (retrieval.rank_agreement_rbo): the ranker-"
    "agreement audit run when a scoring function or index is swapped — "
    "top-weighted, so head disagreements dominate. Everything after the "
    "two top-k rankings is O(k²) rows; p-powers are embedded float "
    "literals (libm pow is not cross-engine portable, literals are), "
    "and the ≤k-term sum is decimal-quantized.",
)
def ext_rank_agreement_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dbt_glue_spark.extensions import retrieval

    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "window", "vector"]
    bm = retrieval.bm25_search(docs, terms, topk=10)
    # 10-row frames: global windows here number a LIMITed ranking, never
    # the corpus (the k-row codebook precedent)
    a = bm.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))),
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+', 0)")
        ).alias("tok"),
    )
    tf = (
        toks.filter(F.col("tok").isin(terms))
        .groupBy("doc_id")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), F.asc("doc_id"))
        .limit(10)
    )
    b = tf.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("tf"), F.asc("doc_id"))),
    )
    return retrieval.rank_agreement_rbo(a, b, k=10, p=0.9)


def _rrf_oracle(k: int = 10, c: int = 60) -> str:
    """RRF oracle sharing the BM25/TF ranking CTEs with _rbo_oracle —
    the prefix of that oracle up to the `perm` CTE, plus the fusion."""
    base = _rbo_oracle(k=k)
    prefix = base[: base.index("perm AS (")]
    return (
        prefix
        + f"""
    stacked AS (
      SELECT doc_id,
             CAST(CAST(1.0 AS DOUBLE) / CAST({c} + ra AS DOUBLE)
                  AS DECIMAL(28,12)) AS contrib
      FROM bmr
      UNION ALL
      SELECT doc_id,
             CAST(CAST(1.0 AS DOUBLE) / CAST({c} + rb AS DOUBLE)
                  AS DECIMAL(28,12)) AS contrib
      FROM tfr
    ),
    fused AS (
      SELECT doc_id, CAST(SUM(contrib) AS DOUBLE) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM stacked GROUP BY doc_id
    ),
    top AS (SELECT * FROM fused ORDER BY score DESC, doc_id LIMIT {k})
    SELECT doc_id,
           FLOOR(score * 1e8 + 0.5) / 1e8 AS rrf_score,
           n_lists,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
             AS fused_rank
    FROM top
    """
    )


@register(
    "ext_rrf_fusion",
    _rrf_oracle(k=10, c=60),
    doc="Reciprocal-rank fusion (Cormack et al. 2009, c=60) of the BM25 "
    "and plain term-frequency rankings for the same query "
    "(retrieval.reciprocal_rank_fusion): the calibration-free hybrid-"
    "search combiner — fusion consumes only ranks, so BM25 ⊕ dense ⊕ "
    "heuristic lists fuse without score normalization. Each addend is "
    "one IEEE division of exact ints, the per-doc sum is decimal-"
    "quantized, and all fusion work is O(N·topk) rows after the input "
    "rankings.",
)
def ext_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dbt_glue_spark.extensions import retrieval

    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "window", "vector"]
    bm = retrieval.bm25_search(docs, terms, topk=10)
    a = bm.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))),
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+', 0)")
        ).alias("tok"),
    )
    tf = (
        toks.filter(F.col("tok").isin(terms))
        .groupBy("doc_id")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), F.asc("doc_id"))
        .limit(10)
    )
    b = tf.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("tf"), F.asc("doc_id"))),
    )
    return retrieval.reciprocal_rank_fusion([a, b], c=60, topk=10)


@register(
    "ext_embedding_dim_audit",
    """
    WITH dims AS (
      SELECT gs.pos AS pos, CAST(embedding[gs.pos] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS pos) gs
      WHERE embedding IS NOT NULL
    ),
    agg AS (
      SELECT pos,
             CAST(SUM(CAST(x AS DECIMAL(28,12))) / COUNT(*) AS DOUBLE) AS m,
             CAST(SUM(CAST(x * x AS DECIMAL(28,12))) / COUNT(*) AS DOUBLE)
               AS msq
      FROM dims GROUP BY pos
    )
    SELECT CAST(pos - 1 AS INT) AS dim,
           FLOOR(m * 1000000.0 + 0.5) / 1000000.0 AS mean,
           FLOOR((msq - m * m) * 1000000.0 + 0.5) / 1000000.0 AS variance,
           (msq - m * m) < 0.0001 AS collapsed
    FROM agg
    """,
    doc="Per-dimension embedding collapse audit "
    "(clustering.embedding_dim_audit): mean/variance per dimension with "
    "a dead-dimension flag — the index-health check that catches "
    "degenerate encoders (Jing et al. 2022) before they waste ANN index "
    "space. Decimal-quantized moment sums (order-free), one posexplode "
    "pass, ≤ dims output rows.",
)
def ext_embedding_dim_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.clustering import embedding_dim_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dim_audit(emb)


def _query_expansion_oracle(topk_terms: int = 10) -> str:
    """Expansion oracle sharing the BM25 top-10 CTEs with _rbo_oracle
    (prefix through the `bmr` ranking), plus feedback-term weighting."""
    base = _rbo_oracle(k=10)
    prefix = base[: base.index("tfr AS (")]
    return (
        prefix
        + f"""
    ft AS (
      SELECT tk.doc_id, tk.tok
      FROM tk JOIN bmr ON bmr.doc_id = tk.doc_id
      WHERE tk.tok NOT IN ('spark', 'window', 'vector')
    ),
    cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM ft GROUP BY tok),
    dfall AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY tok),
    wt AS (
      SELECT c.tok, c.cnt,
             CAST(c.cnt AS DOUBLE)
               * (CAST(corpus.n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE))
               AS w
      FROM cnt c JOIN dfall d USING (tok) CROSS JOIN corpus
    )
    SELECT tok AS term, cnt AS n_feedback_occurrences,
           FLOOR(w * 1000000.0 + 0.5) / 1000000.0 AS weight
    FROM wt ORDER BY w DESC, tok LIMIT {topk_terms}
    """
    )


@register(
    "ext_query_expansion",
    _query_expansion_oracle(topk_terms=10),
    doc="Pseudo-relevance-feedback query expansion, RM1-lite "
    "(retrieval.query_expansion): terms of the BM25 top-10 feedback "
    "docs (query terms excluded) weighted by occurrence × rational "
    "smoothed idf — the recall-boosting second retrieval pass. Corpus "
    "pays one lexer pass for document frequencies; the feedback branch "
    "is a broadcast semi-join against 10 ids, so expansion work is "
    "O(topk·doclen). Top terms via TakeOrderedAndProject on the "
    "unrounded weight.",
)
def ext_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.query_expansion(
        docs, ["spark", "window", "vector"], topk_docs=10, topk_terms=10
    )


def _langid_confusion_oracle() -> str:
    from dbt_glue_spark.plans.catalog import _REGISTRY

    lang = _REGISTRY["ext_language_id"].oracle
    return f"""
    WITH l AS ({lang}),
    j AS (
      SELECT d.lang, l.lang_pred
      FROM documents d JOIN l ON l.doc_id = d.doc_id
    ),
    c AS (
      SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM j GROUP BY lang, lang_pred
    ),
    t AS (SELECT lang, SUM(n_docs) AS tot FROM c GROUP BY lang)
    SELECT c.lang, c.lang_pred, c.n_docs,
           FLOOR(CAST(c.n_docs AS DOUBLE) / CAST(t.tot AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS share_of_lang
    FROM c JOIN t USING (lang)
    """


@register(
    "ext_langid_confusion",
    _langid_confusion_oracle(),
    doc="Language-ID confusion matrix: predicted language "
    "(text_analysis.language_id) × ground-truth lang label, with each "
    "cell's share of its true-language row — the classifier-quality "
    "audit run before trusting a language filter to route 100 TB of "
    "documents. Composes the registered langid oracle verbatim, so "
    "drift in the classifier OR the matrix breaks the hash. Narrow "
    "projection + two ≤ langs²-row aggregates; totals join is "
    "broadcast-sized.",
)
def ext_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = text_analysis.language_id(docs).select("doc_id", "lang_pred")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    c = joined.groupBy("lang", "lang_pred").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    t = c.groupBy("lang").agg(F.sum("n_docs").alias("tot"))
    from dbt_glue_spark.functions.scalars import half_up_round

    return c.join(F.broadcast(t), "lang").select(
        "lang",
        "lang_pred",
        "n_docs",
        half_up_round(
            F.col("n_docs").cast("double") / F.col("tot").cast("double"), 6
        ).alias("share_of_lang"),
    )


def _ndcg_oracle(k: int = 10) -> str:
    """nDCG oracle sharing the BM25 ranking CTEs; discounts embedded as
    repr'd literals (libm log2 is not cross-engine portable)."""
    import math

    base = _rbo_oracle(k=k)
    prefix = base[: base.index("tfr AS (")]
    discs = ", ".join(
        f"({d}, {1.0 / math.log2(d + 1)!r}::DOUBLE)" for d in range(1, k + 1)
    )
    return (
        prefix
        + f"""
    rel AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS rel FROM qt GROUP BY doc_id
    ),
    disc AS (SELECT * FROM (VALUES {discs}) AS v(d, w)),
    dcg AS (
      SELECT CAST(SUM(CAST(CAST(COALESCE(rel.rel, 0) AS DOUBLE) * disc.w
                           AS DECIMAL(28,12))) AS DOUBLE) AS dcg
      FROM bmr
      LEFT JOIN rel ON rel.doc_id = bmr.doc_id
      JOIN disc ON disc.d = bmr.ra
    ),
    ideal AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS d
      FROM (SELECT doc_id, rel FROM rel ORDER BY rel DESC, doc_id LIMIT {k})
    ),
    idcg AS (
      SELECT CAST(SUM(CAST(CAST(ideal.rel AS DOUBLE) * disc.w
                           AS DECIMAL(28,12))) AS DOUBLE) AS idcg
      FROM ideal JOIN disc ON disc.d = ideal.d
    )
    SELECT CAST({k} AS INT) AS k,
           FLOOR(COALESCE(dcg, 0.0) * 1000000.0 + 0.5) / 1000000.0 AS dcg,
           FLOOR(COALESCE(idcg, 0.0) * 1000000.0 + 0.5) / 1000000.0 AS idcg,
           FLOOR(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END
                 * 1000000.0 + 0.5) / 1000000.0 AS ndcg
    FROM dcg CROSS JOIN idcg
    """
    )


@register(
    "ext_ndcg_bm25",
    _ndcg_oracle(k=10),
    doc="nDCG@10 of the BM25 ranking under graded term-frequency "
    "relevance (retrieval.ndcg_at_k): the standard offline ranking-"
    "quality metric, closing the IR-evaluation trio with RBO (agreement) "
    "and RRF (fusion). Discounts 1/log2(d+1) are embedded float "
    "literals; DCG/IDCG sums are decimal-quantized; the ideal ranking "
    "is a corpus-wide TakeOrderedAndProject top-k by gain.",
)
def ext_ndcg_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dbt_glue_spark.extensions import retrieval

    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "window", "vector"]
    bm = retrieval.bm25_search(docs, terms, topk=10)
    ranking = bm.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))),
    )
    rel = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+', 0)")
            ).alias("tok"),
        )
        .filter(F.col("tok").isin(terms))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("rel"))
    )
    return retrieval.ndcg_at_k(ranking, rel, k=10)


@register(
    "ext_top_tokens_per_lang",
    r"""
    WITH tk AS (
      SELECT lang, unnest(regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+')) AS tok
      FROM documents
    ),
    cnt AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM tk GROUP BY lang, tok
    )
    SELECT lang, tok, n, CAST(rk AS INT) AS rk
    FROM (
      SELECT lang, tok, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
      FROM cnt
    ) WHERE rk <= 5
    """,
    doc="Per-language heavy hitters: top-5 word tokens per lang — the "
    "grouped variant of ext_top_tokens (per-source/per-language "
    "vocabulary telemetry). The keyed window compiles with "
    "WindowGroupLimit partial pushdown: each map task forwards ≤5 rows "
    "per language before the shuffle, so the exchange carries "
    "O(partitions·langs·5) rows — the scale-safe grouped top-k (a "
    "global TakeOrderedAndProject can't express per-group cuts).",
)
def ext_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "lang",
            F.explode(
                F.expr(r"regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+', 0)")
            ).alias("tok"),
        )
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "tok", "n", F.col("rk").cast("int").alias("rk"))
    )


def _classifier_eval_oracle() -> str:
    from dbt_glue_spark.plans.catalog import _REGISTRY

    pred = _REGISTRY["ext_quality_classifier"].oracle
    truth = _REGISTRY["ext_quality_filter"].oracle
    return f"""
    WITH p AS ({pred}), t AS ({truth}),
    j AS (
      SELECT p.keep AS pk, t.keep AS tk
      FROM p JOIN t ON t.doc_id = p.doc_id
    ),
    c AS (
      SELECT
        CAST(SUM(CASE WHEN pk AND tk THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN pk AND NOT tk THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN NOT pk AND tk THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN NOT pk AND NOT tk THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM j
    ),
    pr AS (
      SELECT tp, fp, fn, tn,
             CASE WHEN tp + fp > 0
                  THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                  ELSE 0.0 END AS p,
             CASE WHEN tp + fn > 0
                  THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                  ELSE 0.0 END AS r
      FROM c
    )
    SELECT tp, fp, fn, tn,
           FLOOR(p * 1000000.0 + 0.5) / 1000000.0 AS precision,
           FLOOR(r * 1000000.0 + 0.5) / 1000000.0 AS recall,
           FLOOR(CASE WHEN p + r > 0 THEN ((2.0 * p) * r) / (p + r)
                      ELSE 0.0 END * 1000000.0 + 0.5) / 1000000.0 AS f1
    FROM pr
    """


@register(
    "ext_classifier_eval",
    _classifier_eval_oracle(),
    doc="Classifier-evaluation audit: confusion counts + precision / "
    "recall / F1 of the hashing-trick quality classifier against the "
    "Gopher-gate keep labels — the before-you-trust-it measurement of a "
    "model-based quality filter (FineWeb-style: heuristic gate labels, "
    "classifier learns to generalize them). Composes BOTH registered "
    "oracles verbatim, so drift in either stage breaks the hash; the "
    "eval itself is one hash-keyed join + a 1-row aggregate — free at "
    "any corpus size next to the scoring passes.",
)
def ext_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.functions.scalars import half_up_round

    docs = load_table(spark, sf_dir, "documents")
    pred = text_analysis.quality_classifier(docs).select(
        "doc_id", F.col("keep").alias("pk")
    )
    truth = text_analysis.quality_filter(docs).select(
        "doc_id", F.col("keep").alias("tk")
    )
    c = pred.join(truth, "doc_id").agg(
        F.sum(F.when(F.col("pk") & F.col("tk"), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(F.col("pk") & ~F.col("tk"), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~F.col("pk") & F.col("tk"), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when(~F.col("pk") & ~F.col("tk"), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    p = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double"),
    ).otherwise(F.lit(0.0))
    pr = c.select("tp", "fp", "fn", "tn", p.alias("p"), r.alias("r"))
    f1 = F.when(
        F.col("p") + F.col("r") > 0,
        ((F.lit(2.0) * F.col("p")) * F.col("r")) / (F.col("p") + F.col("r")),
    ).otherwise(F.lit(0.0))
    return pr.select(
        "tp",
        "fp",
        "fn",
        "tn",
        half_up_round(F.col("p"), 6).alias("precision"),
        half_up_round(F.col("r"), 6).alias("recall"),
        half_up_round(f1, 6).alias("f1"),
    )


@register(
    "ext_edit_distance_verify",
    "WITH "
    + _SH
    + ","
    + _JACCARD_TAIL
    + r""",
    prs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
    nrm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(
               translate(lower(text), 'ς̇', 'σ'),
               '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
      FROM documents
    )
    SELECT p.id_a, p.id_b,
           CAST(levenshtein(da.nt, db.nt) AS BIGINT) AS edit_distance,
           CASE WHEN GREATEST(LENGTH(da.nt), LENGTH(db.nt)) = 0 THEN 1.0
                ELSE FLOOR((CAST(1.0 AS DOUBLE)
                  - CAST(levenshtein(da.nt, db.nt) AS DOUBLE)
                    / CAST(GREATEST(LENGTH(da.nt), LENGTH(db.nt)) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 END AS norm_sim
    FROM prs p
    JOIN nrm da ON da.doc_id = p.id_a
    JOIN nrm db ON db.doc_id = p.id_b
    """,
    doc="Exact edit-distance verification of the 3-gram-Jaccard≥0.5 "
    "candidate pairs (dedup.edit_distance_verify, normalize=True): "
    "Levenshtein distance + length-normalized similarity per pair over "
    "NORMALIZED text — the usual ER contract, and the cross-engine-"
    "exact one: Spark levenshtein counts codepoints, DuckDB counts "
    "bytes (lev('é','e') = 1 vs 2), so distances agree only where "
    "byte == codepoint; normalized text is pure ASCII by construction. "
    "O(len²) per pair, so it runs ONLY on the bucketed generator's "
    "candidates (the simhash exact-verify contract).",
)
def ext_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    return dedup.edit_distance_verify(docs, pairs, normalize=True)


def _calibration_oracle() -> str:
    from dbt_glue_spark.plans.catalog import _REGISTRY

    pred = _REGISTRY["ext_quality_classifier"].oracle
    truth = _REGISTRY["ext_quality_filter"].oracle
    return f"""
    WITH p AS ({pred}), t AS ({truth}),
    j AS (
      SELECT CAST(LEAST(FLOOR((p.quality_margin + 0.5) * 10), 9) AS INT)
               AS margin_bin,
             p.quality_margin AS m,
             t.keep AS tk
      FROM p JOIN t ON t.doc_id = p.doc_id
    )
    SELECT margin_bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN tk THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           FLOOR(CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             AS mean_margin,
           FLOOR(CAST(SUM(CASE WHEN tk THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             AS pos_rate
    FROM j GROUP BY margin_bin
    """


@register(
    "ext_classifier_calibration",
    _calibration_oracle(),
    doc="Classifier calibration curve (reliability diagram data): the "
    "quality-classifier margin binned into deciles of its [-0.5, 0.5] "
    "range × the empirical Gopher-gate positive rate per bin — "
    "monotonically rising pos_rate means the margin is informative "
    "beyond its sign (usable as a sampling weight, FineWeb-style), flat "
    "means it is not. Composes both registered oracles; decimal-exact "
    "bin means; ≤10 output rows from one hash-keyed join.",
)
def ext_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.functions.scalars import half_up_round

    docs = load_table(spark, sf_dir, "documents")
    pred = text_analysis.quality_classifier(docs).select(
        "doc_id", "quality_margin"
    )
    truth = text_analysis.quality_filter(docs).select(
        "doc_id", F.col("keep").alias("tk")
    )
    j = pred.join(truth, "doc_id").select(
        F.least(
            F.floor((F.col("quality_margin") + F.lit(0.5)) * F.lit(10)),
            F.lit(9),
        )
        .cast("int")
        .alias("margin_bin"),
        F.col("quality_margin").alias("m"),
        "tk",
    )
    return j.groupBy("margin_bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("tk"), 1).otherwise(0)).cast("bigint").alias("n_pos"),
        half_up_round(
            F.sum(F.col("m").cast("decimal(18,6)")).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("mean_margin"),
        half_up_round(
            F.sum(F.when(F.col("tk"), 1).otherwise(0)).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("pos_rate"),
    )


def _ap_oracle(k: int = 10) -> str:
    """AP@k oracle sharing the BM25 ranking CTEs (binary relevance =
    any query-term occurrence)."""
    base = _rbo_oracle(k=k)
    prefix = base[: base.index("tfr AS (")]
    return (
        prefix
        + f"""
    relids AS (SELECT DISTINCT doc_id FROM qt),
    fl AS (
      SELECT bmr.ra AS d,
             CASE WHEN relids.doc_id IS NULL THEN 0 ELSE 1 END AS isrel
      FROM bmr LEFT JOIN relids ON relids.doc_id = bmr.doc_id
    ),
    cum AS (
      SELECT d, isrel,
             SUM(isrel) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM fl
    ),
    terms AS (
      SELECT CAST((CAST(c AS DOUBLE) / CAST(d AS DOUBLE))
                  * CAST(isrel AS DOUBLE) AS DECIMAL(28,12)) AS t
      FROM cum
    ),
    nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rel FROM relids),
    -- 1-row aggregate BEFORE the cross join: an empty terms set must
    -- still yield one (k, n_rel, ap=0) row, matching the Spark agg
    tsum AS (SELECT COALESCE(CAST(SUM(t) AS DOUBLE), 0.0) AS s FROM terms)
    SELECT CAST({k} AS INT) AS k, n_rel,
           FLOOR(CASE WHEN LEAST(n_rel, {k}) > 0
                      THEN s / CAST(LEAST(n_rel, {k}) AS DOUBLE)
                      ELSE 0.0 END * 1000000.0 + 0.5) / 1000000.0 AS ap
    FROM tsum CROSS JOIN nr
    """
    )


@register(
    "ext_average_precision",
    _ap_oracle(k=10),
    doc="AP@10 of the BM25 ranking under binary query-term relevance "
    "(retrieval.average_precision_at_k): the per-query term of MAP, "
    "completing the retrieval-metric suite (RBO agreement, RRF fusion, "
    "nDCG graded quality, AP binary quality). Entirely rational "
    "arithmetic — precision@d over a ≤k-row running window, decimal "
    "term sum, one final division by min(R, k); the corpus contributes "
    "only the 1-row relevant count and a broadcast semi-join.",
)
def ext_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dbt_glue_spark.extensions import retrieval

    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "window", "vector"]
    bm = retrieval.bm25_search(docs, terms, topk=10)
    ranking = bm.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))),
    )
    rel = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+', 0)")
            ).alias("tok"),
        )
        .filter(F.col("tok").isin(terms))
        .select("doc_id")
        .distinct()
    )
    return retrieval.average_precision_at_k(ranking, rel, k=10)


@register(
    "ext_correlation_matrix",
    """
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS s_q,
             CAST(SUM(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS ss_q,
             CAST(SUM(CAST(CAST(l_discount AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS s_d,
             CAST(SUM(CAST(CAST(l_discount AS DOUBLE) * CAST(l_discount AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS ss_d,
             CAST(SUM(CAST(CAST(l_tax AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS s_t,
             CAST(SUM(CAST(CAST(l_tax AS DOUBLE) * CAST(l_tax AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS ss_t,
             CAST(SUM(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_discount AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sp_qd,
             CAST(SUM(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_tax AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sp_qt,
             CAST(SUM(CAST(CAST(l_discount AS DOUBLE) * CAST(l_tax AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sp_dt
      FROM lineitem
    ),
    pairs AS (
      SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b,
             (CAST(n AS DOUBLE) * sp_qd - s_q * s_d)
               / (SQRT(CAST(n AS DOUBLE) * ss_q - s_q * s_q)
                  * SQRT(CAST(n AS DOUBLE) * ss_d - s_d * s_d)) AS r
      FROM m
      UNION ALL
      SELECT 'l_quantity', 'l_tax',
             (CAST(n AS DOUBLE) * sp_qt - s_q * s_t)
               / (SQRT(CAST(n AS DOUBLE) * ss_q - s_q * s_q)
                  * SQRT(CAST(n AS DOUBLE) * ss_t - s_t * s_t))
      FROM m
      UNION ALL
      SELECT 'l_discount', 'l_tax',
             (CAST(n AS DOUBLE) * sp_dt - s_d * s_t)
               / (SQRT(CAST(n AS DOUBLE) * ss_d - s_d * s_d)
                  * SQRT(CAST(n AS DOUBLE) * ss_t - s_t * s_t))
      FROM m
    )
    SELECT col_a, col_b,
           FLOOR(r * 1000000.0 + 0.5) / 1000000.0 AS pearson_r
    FROM pairs
    """,
    doc="Pairwise Pearson correlation of the bounded lineitem measures "
    "(profile.correlation_matrix): exact decimal moments in ONE "
    "aggregate pass, then pure double algebra — IEEE mandates correctly-"
    "rounded √, so the result is engine-exact without transcendental "
    "workarounds. The feature-redundancy leg of numeric profiling; "
    "output is C(3,2) rows regardless of input size. Measures are "
    "chosen bounded (quantity/discount/tax) so Σx² stays inside the "
    "2^53 exact-integer range of a double.",
)
def ext_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return profile.correlation_matrix(li, ["l_quantity", "l_discount", "l_tax"])


@register(
    "ext_chi2_independence",
    """
    WITH obs AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, SUM(o) AS row_tot FROM obs GROUP BY lang),
    ct AS (SELECT source, SUM(o) AS col_tot FROM obs GROUP BY source),
    n AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
      SELECT obs.lang, obs.source, obs.o,
             (CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE))
               / CAST(n.n AS DOUBLE) AS e
      FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n
    )
    SELECT lang, source, o AS observed,
           FLOOR(e * 1000000.0 + 0.5) / 1000000.0 AS expected,
           FLOOR((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
                 * 1000000.0 + 0.5) / 1000000.0 AS chi2_term
    FROM cells
    """,
    doc="Chi-square independence cells for lang × source: observed vs "
    "expected-under-independence counts with per-cell χ² contributions "
    "— the log-free categorical-association audit (is language mix "
    "uniform across crawl sources, or does a source skew?). Entirely "
    "rational arithmetic over exact integer marginals; observed cells "
    "collapse map-side, marginals and the 1-row total broadcast.",
)
def ext_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.functions.scalars import half_up_round

    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("o")
    )
    rt = obs.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("col_tot"))
    n = obs.agg(F.sum("o").alias("n"))
    e = (
        F.col("row_tot").cast("double") * F.col("col_tot").cast("double")
    ) / F.col("n").cast("double")
    cells = (
        obs.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .join(F.broadcast(n))
        .select("lang", "source", "o", e.alias("e"))
    )
    od = F.col("o").cast("double")
    return cells.select(
        "lang",
        "source",
        F.col("o").alias("observed"),
        half_up_round(F.col("e"), 6).alias("expected"),
        half_up_round((od - F.col("e")) * (od - F.col("e")) / F.col("e"), 6).alias(
            "chi2_term"
        ),
    )


def _stream_gate_oracle() -> str:
    from dbt_glue_spark.plans.catalog import _REGISTRY

    gate = _REGISTRY["ext_quality_filter"].oracle
    return f"""
    WITH f AS ({gate})
    SELECT keep, reasons,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM f GROUP BY keep, reasons
    """


@register(
    "streaming_quality_gate",
    _stream_gate_oracle(),
    doc="Streaming corpus quality gate end-to-end (12th streaming row): "
    "documents staged as a 4-file stream run through the FULL Gopher "
    "gate (text_analysis.quality_filter) as a stateless narrow stage — "
    "no state store, no watermark, no shuffle — into a parquet sink, "
    "then verdict counts are compared against the registered batch "
    "oracle. Proves the docstring claim that the gate drops into a "
    "Structured Streaming stage unchanged: per-row projections are "
    "batching-invariant by construction, and the landing-zone stream "
    "gets cleaned at ingest instead of in a nightly batch.",
)
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = streams.sink_dir()
    with streams.staged(docs, 4) as stream:
        q = (
            text_analysis.quality_filter(stream)
            .writeStream.format("parquet")
            .option("path", os.path.join(target, "data"))
            .option("checkpointLocation", os.path.join(target, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        streams.drain(q, "streaming_quality_gate")
    out = spark.read.parquet(os.path.join(target, "data"))
    return out.groupBy("keep", "reasons").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


def _mixture_resample_oracle() -> str:
    from dbt_glue_spark.plans.catalog import _REGISTRY

    mw = _REGISTRY["ext_mixture_weights"].oracle
    frac = _duck_hash_fraction("d.doc_id")
    return f"""
    WITH mw AS ({mw}),
    j AS (
      SELECT d.source, mw.mix_weight,
             CASE WHEN {frac} < mw.mix_weight THEN 1 ELSE 0 END AS kept
      FROM documents d JOIN mw ON mw.source = d.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           MIN(mix_weight) AS target_rate,
           FLOOR(CAST(SUM(kept) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS achieved_rate
    FROM j GROUP BY source
    """


@register(
    "ext_mixture_resample",
    _mixture_resample_oracle(),
    doc="Plan-and-apply mixture resampling (sampling.mixture_resample): "
    "the sqrt-temperature weights computed in-pipeline and applied as "
    "per-source content-hash keep rates in the SAME distributed plan — "
    "the ≤ sources-row weight frame broadcasts into the filter, no "
    "driver round-trip dict. Per source: target vs achieved rate (the "
    "binomial realization of the hash rule). Composes the registered "
    "mixture-weights oracle verbatim.",
)
def ext_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.mixture_resample(docs)
