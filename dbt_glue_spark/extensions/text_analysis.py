"""Text analysis operators: stats, quality scoring, language ID, token
counting, fingerprinting. All pure Catalyst expressions (no UDFs).

Every operator that references the token array more than once stages it
through ``tokenize_once`` (a projection barrier): higher-order functions
are interpreted, so letting CollapseProject inline the split+filter
pipeline at 5-7 reference sites multiplies the per-row cost — measured
~6× on the sf0.1 corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbt_glue_spark.functions.scalars import half_up_round
from dbt_glue_spark.functions.text import tokenize_once, tokens, words
from dbt_glue_spark.session import local_frame

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic; the oracle SQL embeds the
# same lists.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "que", "en", "un", "est"),
    "de": ("der", "die", "das", "und", "zu", "in", "ein", "ist"),
}


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document stats: chars, tokens, distinct tokens, avg token length,
    type-token ratio. One narrow projection — no shuffle at all."""
    staged = tokenize_once(df, text_col, [F.col(id_col), F.col(text_col).alias("__t")])
    tok = F.col("toks")
    return staged.select(
        F.col(id_col),
        F.length("__t").cast("bigint").alias("n_chars_computed"),
        F.size(tok).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(tok)).cast("bigint").alias("n_distinct_tokens"),
        # try_divide: an empty/whitespace-only doc has 0 tokens — the
        # ratio is NULL on both engines (DuckDB x/0 → NULL), not an ANSI
        # DIVIDE_BY_ZERO abort that kills the whole corpus scan
        half_up_round(
            F.try_divide(
                F.aggregate(tok, F.lit(0.0), lambda acc, t: acc + F.length(t)),
                F.size(tok),
            ),
            6,
        ).alias("avg_token_len"),
        half_up_round(
            F.try_divide(F.size(F.array_distinct(tok)), F.size(tok)), 6
        ).alias("type_token_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality score in [0,1]: length band + lexical diversity +
    alpha ratio. Mirrors C4/Gopher-style length & repetition filters in a
    deterministic, oracle-expressible form."""
    staged = tokenize_once(df, text_col, [F.col(id_col), F.col(text_col).alias("__t")])
    tok = F.col("toks")
    n_tok = F.size(tok)
    # try_divide: 0 tokens → NULL ttr (engine-aligned), not DIVIDE_BY_ZERO
    ttr = F.try_divide(F.size(F.array_distinct(tok)), n_tok)
    alpha_ratio = (
        F.length(F.regexp_replace("__t", r"[^a-zA-Z]", ""))
        / F.greatest(F.length("__t"), F.lit(1))
    )
    len_ok = F.when((n_tok >= 20) & (n_tok <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    score = half_up_round((len_ok + ttr + alpha_ratio) / F.lit(3.0), 6)
    return staged.select(
        F.col(id_col),
        n_tok.cast("bigint").alias("n_tokens"),
        half_up_round(ttr, 6).alias("ttr"),
        half_up_round(alpha_ratio, 6).alias("alpha_ratio"),
        score.alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-overlap language ID over STOPWORDS languages.

    Score per language = #tokens that are stopwords of that language.
    Winner = max score, ties broken by language code order; 'und'
    (undetermined) when all scores are 0. A real deployment would swap in
    fastText — the operator shape (projection, no shuffle) is identical.
    """
    staged = tokenize_once(df, text_col, [F.col(id_col)], lower=True)
    tok = F.col("toks")
    scores = {
        lang: F.size(F.filter(tok, lambda t: t.isin(*words)))
        for lang, words in STOPWORDS.items()
    }
    langs = sorted(STOPWORDS)  # deterministic tie order
    best = F.greatest(*[scores[l] for l in langs])
    pred = F.lit("und")
    for l in reversed(langs):  # earlier langs win ties → apply in reverse
        pred = F.when((best > 0) & (scores[l] == best), F.lit(l)).otherwise(pred)
    return staged.select(
        F.col(id_col),
        *[scores[l].cast("bigint").alias(f"score_{l}") for l in langs],
        pred.alias("lang_pred"),
    )


def token_count_regex(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """BPE-ish token counting: words, numbers, and punctuation counted
    separately with a regex lexer (approximates tokenizer cost models)."""
    word_pat, num_pat, punct_pat = r"[A-Za-z]+", r"[0-9]+", r"[^A-Za-z0-9\s]"
    t = F.col(text_col)
    n_words = F.size(F.regexp_extract_all(t, F.lit(word_pat), F.lit(0)))
    n_nums = F.size(F.regexp_extract_all(t, F.lit(num_pat), F.lit(0)))
    n_punct = F.size(F.regexp_extract_all(t, F.lit(punct_pat), F.lit(0)))
    return df.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_word_tokens"),
        n_nums.cast("bigint").alias("n_num_tokens"),
        n_punct.cast("bigint").alias("n_punct_tokens"),
        (n_words + n_nums + n_punct).cast("bigint").alias("n_tokens_total"),
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive document fingerprint: md5 over the md5s of
    positional word 4-gram windows (winnowing-lite). Two docs share a
    fingerprint iff their token sequences are identical."""
    staged = tokenize_once(df, text_col, [F.col(id_col)])
    tok = F.col("toks")
    idx = F.when(F.size(tok) >= 4, F.sequence(F.lit(0), F.size(tok) - 4)).otherwise(
        F.array().cast("array<int>")
    )
    windows = F.transform(idx, lambda i: F.md5(F.concat_ws(" ", tok[i], tok[i + 1], tok[i + 2], tok[i + 3])))
    return staged.select(
        F.col(id_col),
        F.md5(F.concat_ws("", windows)).alias("fingerprint"),
        F.size(tok).cast("bigint").alias("n_tokens"),
    )


def chunk_tokens(
    df: DataFrame,
    size: int = 50,
    stride: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping token-window chunks (the
    context-window packing step of a training-data pipeline): chunk ``i``
    covers tokens ``[i*stride, i*stride + size)``; the final chunk may be
    short. ``stride < size`` gives overlap.

    Pure narrow explode — ``sequence(starts) → transform(slice) →
    posexplode`` pipelines with the scan, no shuffle; chunk identity is
    carried by (doc_id, chunk_idx), never row order.
    """
    staged = tokenize_once(df, text_col, [F.col(id_col)])
    tok = F.col("toks")
    # 0-token (empty/whitespace/NULL) docs produce NO chunks — without the
    # filter the greatest(…, 0) start clamp emits one empty chunk per
    # empty doc, which the SQL generate_series formulation never does
    staged = staged.filter(F.size(tok) > 0)
    starts = F.sequence(F.lit(0), F.greatest(F.size(tok) - 1, F.lit(0)), F.lit(stride))
    chunks = F.transform(starts, lambda s: F.slice(tok, s + 1, size))
    return staged.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).select(
        id_col,
        F.col("chunk_idx").cast("int"),
        F.size("chunk").cast("bigint").alias("n_chunk_tokens"),
        F.concat_ws(" ", F.col("chunk")).alias("chunk_text"),
    )


def repetition_ratio(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signal: the fraction of word ``n``-grams
    that are duplicates of an earlier one in the same document
    (``1 − distinct/total``; 0.0 for docs shorter than ``n`` tokens).

    Complements ``text_stats``'s type-token ratio (1-gram): boilerplate
    and looping generations repeat PHRASES, which unigram diversity
    misses. Narrow per-row projection, no shuffle, no UDF.
    """
    staged = tokenize_once(df, text_col, [F.col(id_col)])
    tok = F.col("toks")
    total = F.greatest(F.size(tok) - (n - 1), F.lit(0))
    idx = F.when(F.size(tok) >= n, F.sequence(F.lit(0), F.size(tok) - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", *[tok[i + j] for j in range(n)]))
    distinct = F.size(F.array_distinct(grams))
    dup_frac = F.when(
        total > 0, (total - distinct).cast("double") / total.cast("double")
    ).otherwise(F.lit(0.0))
    return staged.select(
        F.col(id_col),
        total.cast("bigint").alias("n_ngrams"),
        distinct.cast("bigint").alias("n_distinct_ngrams"),
        half_up_round(dup_frac, 6).alias("dup_ngram_frac"),
    )


# PII patterns shared by scan/redact and embedded verbatim in the oracle
# SQL. Deliberately restricted to syntax Java regex and RE2 (DuckDB)
# interpret identically: no lookaround, no backreferences.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}
# redaction must apply in this fixed order (email first so later patterns
# can't partially match digits inside an already-redacted marker)
PII_ORDER = ("email", "ssn", "phone", "ipv4")


def pii_scan(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document PII hit counts (email/ssn/phone/ipv4) + total.

    The pre-training compliance scan: runs as a narrow per-row projection
    (regexp_extract_all + size, whole-stage codegen, no shuffle, no UDF),
    so at 100 TB it is a single pass bounded by scan throughput. Detection
    only — see ``pii_redact`` for removal.
    """
    cols = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
        .cast("bigint")
        .alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    out = df.select(F.col(id_col), *cols)
    total = None
    for name in PII_PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return out.withColumn("n_pii_total", total.cast("bigint"))


def pii_redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact PII in place: each match replaced by ``<TYPE>`` markers, in
    the fixed ``PII_ORDER`` so overlapping patterns resolve identically on
    every engine. Same narrow no-shuffle projection shape as ``pii_scan``.
    """
    redacted: Column = F.col(text_col)
    for name in PII_ORDER:
        redacted = F.regexp_replace(
            redacted, PII_PATTERNS[name], f"<{name.upper()}>"
        )
    return df.select(F.col(id_col), redacted.alias("redacted_text"))


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 25,
    min_ttr: float = 0.35,
    max_dup_frac: float = 0.05,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style composite quality gate: combine length, lexical
    diversity (type-token ratio) and 3-gram repetition into one
    keep/drop verdict with machine-readable reasons.

    This is the shape a real corpus-cleaning pass takes — one narrow
    projection computing every signal from a single tokenize, a boolean
    per rule, ``keep`` = all rules pass, and ``reasons`` naming the failed
    rules (comma-joined, fixed order) so downstream triage can group by
    failure mode. No shuffle, no UDF; at 100 TB this runs at scan speed —
    and being stateless it drops into a Structured Streaming stage
    unchanged (streaming/pipelines.clean_documents_stream).

    ``passthrough`` columns are carried into the output unchanged (e.g.
    the text itself, so a downstream redaction stage composes without a
    join).
    """
    staged = tokenize_once(
        df, text_col, [F.col(id_col), *(F.col(c) for c in passthrough)]
    )
    tok = F.col("toks")
    n = F.size(tok)
    ttr = F.when(
        n > 0, F.size(F.array_distinct(tok)).cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))
    total3 = F.greatest(n - 2, F.lit(0))
    idx = F.when(n >= 3, F.sequence(F.lit(0), n - 3)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", tok[i], tok[i + 1], tok[i + 2]))
    dup_frac = F.when(
        total3 > 0,
        (total3 - F.size(F.array_distinct(grams))).cast("double")
        / total3.cast("double"),
    ).otherwise(F.lit(0.0))
    too_short = n < min_tokens
    low_diversity = ttr < min_ttr
    repetitive = dup_frac > max_dup_frac
    return staged.select(
        F.col(id_col),
        *(F.col(c) for c in passthrough),
        n.cast("bigint").alias("n_tokens"),
        half_up_round(ttr, 6).alias("ttr"),
        half_up_round(dup_frac, 6).alias("dup_ngram_frac"),
        too_short.alias("too_short"),
        low_diversity.alias("low_diversity"),
        repetitive.alias("repetitive"),
        (~(too_short | low_diversity | repetitive)).alias("keep"),
        F.concat_ws(
            ",",
            F.when(too_short, F.lit("too_short")),
            F.when(low_diversity, F.lit("low_diversity")),
            F.when(repetitive, F.lit("repetitive")),
        ).alias("reasons"),
    )


def boilerplate_strip(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    max_line_df: int = 50,
) -> DataFrame:
    """C4/CCNet-style boilerplate removal: drop every line that appears in
    more than ``max_line_df`` distinct documents (nav bars, cookie
    banners, copyright footers), preserving the order of surviving lines.

    Output: (id, clean_text, n_lines_kept, n_lines_total); a document
    whose lines are all boilerplate survives with an empty clean_text.

    Plan: one explode + one line-keyed distinct-count shuffle + one doc
    regroup — the line df is exactly an inverted-index document frequency,
    so cost scales like the dedup postings pass, never doc².
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("pos", "line"),
    )
    freq = lines.groupBy("line").agg(F.countDistinct(id_col).alias("df_"))
    ln = lines.join(freq, "line")
    keep = F.col("df_") <= max_line_df
    assembled = F.concat_ws(
        line_sep,
        F.transform(
            F.filter(
                F.array_sort(
                    F.collect_list(F.struct("pos", "line", keep.alias("keep")))
                ),
                lambda s: s.keep,
            ),
            lambda s: s.line,
        ),
    )
    return ln.groupBy(id_col).agg(
        assembled.alias("clean_text"),
        F.sum(keep.cast("long")).cast("bigint").alias("n_lines_kept"),
        F.count("*").cast("bigint").alias("n_lines_total"),
    )


def quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Hashing-trick linear quality classifier (fastText-style shape).

    score(doc) = mean over tokens of w[bucket(token)] where bucket =
    hash(token) mod n_buckets and w is a fixed weight table — the exact
    inference shape of a trained linear text classifier with feature
    hashing, the standard model-based quality gate in web-corpus
    pipelines (CCNet/FineWeb). Weights here are a deterministic
    pseudo-table w[b] = ((b·2654435761) mod 1024 − 512)/1024 (Knuth
    multiplicative hash) so the oracle can replay them; swapping in
    trained weights is a broadcast-join or expression change, not a new
    plan.

    Determinism: the per-doc sum accumulates INTEGER numerators (exact in
    any order) and divides once — a double sum would be
    accumulation-order-dependent across engines. Pure Catalyst: explode →
    groupBy, one shuffle of (id, int) pairs; the text never shuffles.
    """
    from dbt_glue_spark.extensions.sketches import hash_fraction

    staged = tokenize_once(df, text_col, [F.col(id_col)])
    tok = staged.select(id_col, F.explode("toks").alias("t"))
    bucket = F.floor(
        hash_fraction(F.concat(F.lit("q:"), F.col("t"))) * F.lit(n_buckets)
    ).cast("bigint")
    w_num = (bucket * F.lit(2654435761)) % F.lit(1024) - F.lit(512)
    return (
        tok.select(id_col, w_num.alias("w"))
        .groupBy(id_col)
        .agg(
            F.sum("w").alias("__num"),
            F.count("*").alias("__n"),
        )
        .select(
            id_col,
            half_up_round(
                F.col("__num") / (F.lit(1024) * F.col("__n")), 6
            ).alias("quality_margin"),
            (F.col("__num") > 0).alias("keep"),
        )
    )


def bigram_lm_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Language-model quality scoring: each document's mean next-word
    probability under an add-one-smoothed bigram model trained on the
    corpus itself — the CCNet/KenLM perplexity-filter stage of a training
    pipeline, in a deterministic closed form. Higher = more in-distribution
    (fluent) text; boilerplate/gibberish scores low.

    Model: p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V) with c(·) corpus-wide
    occurrence counts and V the corpus vocabulary size; score(d) = mean of
    p over d's bigram instances. ln-free (the mean of probabilities ranks
    like negative perplexity) and INTEGER-QUANTIZED: each model
    probability is stored as p9 = (c12+1)·10⁹ div (c1+V) — exact int64
    floor division, the standard fixed-point quantization of a shipped
    model table — so per-doc accumulation is an integer sum (exact in any
    order on any engine; a double→decimal cast here measurably flips last
    digits between engines at corpus scale) and only the final mean
    divides and half-up rounds. Bounds: exact while c12 < 9.2e9
    occurrences of a single bigram and per-doc Σtf·p9 < 9.2e18 — far
    beyond a 100 TB text corpus's hottest bigram per shard.

    100 TB plan: one lexer pass (regexp_extract_all, whole-stage codegen)
    feeds unigram counts, bigram counts and per-doc bigram tfs — three
    partial-aggregated groupBys shuffling short word(-pair) keys, never
    documents. The model joins back on the bigram key; V broadcasts as a
    one-row scalar. Docs with <2 alpha tokens have no bigrams and are
    absent from the output (same as the oracle's GROUP BY).
    """
    # one lexer pass feeds unigrams AND bigrams (the regex is the
    # expensive per-row work — the tfidf/bm25 persisted-lexer lesson)
    # NOT persisted (r12 A/B, 7 reps: 2.09 s with neither lexer nor
    # doc_big cached vs 3.32 s with both): re-running the regexp lexer
    # in each consumer's codegen pipeline beats caching the token
    # arrays (cache serialization of array<string> dominates)
    ws_stage = df.select(F.col(id_col), words(F.col(text_col)).alias("ws"))
    uni = ws_stage.select(F.explode("ws").alias("w"))
    big = (
        ws_stage.filter(F.size("ws") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.zip_with(
                    F.slice("ws", 1, F.size("ws") - 1),
                    F.slice("ws", 2, F.size("ws") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg"),
        )
        .select(F.col(id_col), F.col("bg.w1"), F.col("bg.w2"))
    )
    # NOT persisted: c1's two consumers share its identical groupBy
    # exchange (AQE stage reuse); caching it was measured slower
    # (r12 A/B: 2.71 s vs 2.08 s)
    c1 = uni.groupBy("w").agg(F.count("*").alias("c1"))
    vocab = c1.agg(F.count("*").alias("v"))
    doc_big = big.groupBy(id_col, "w1", "w2").agg(F.count("*").alias("tf"))
    # corpus bigram counts fold the already-aggregated per-doc tfs —
    # smaller shuffle input than re-aggregating the raw bigram explode
    c12 = doc_big.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    terms = (
        doc_big.join(c12, ["w1", "w2"])
        .join(c1.withColumnRenamed("w", "w1"), "w1")
        .join(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.col("tf"),
            F.expr("CAST(c12 + 1 AS DECIMAL(38,0)) * 1000000000 div (c1 + v)").alias("p9"),
        )
    )
    return terms.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("n_bigrams"),
        half_up_round(
            F.sum(F.col("tf") * F.col("p9")) / (F.sum("tf") * F.lit(1e9)), 6
        ).alias("avg_next_word_p"),
    )


# Fixed subword vocabulary for the WordPiece-style tokenizer: every ASCII
# letter (so any [a-z]+ word segments without an UNK) plus common English
# subword units up to 4 chars. A trained BPE/WordPiece vocab drops in as
# data without changing the algorithm; the oracle SQL embeds the same
# literals (the LSH hyperplane pattern).
WORDPIECE_VOCAB: tuple[str, ...] = (
    "tion", "ment", "able", "ight", "ound",
    "ing", "ion", "ent", "ter", "est", "ers", "the", "and", "her", "ver",
    "er", "in", "on", "at", "en", "ed", "es", "re", "ti", "st",
    "ar", "an", "or", "al", "le", "th", "he", "nd", "it", "is",
) + tuple("abcdefghijklmnopqrstuvwxyz")


def _wordpiece_step_sql(vocab: tuple[str, ...]) -> str:
    """The greedy longest-match step as portable SQL (Spark ∩ DuckDB):
    advance by the longest vocab piece matching at ``pos`` (4→3→2→1;
    single letters always match for [a-z]+ words)."""
    by_len = {
        ln: sorted({p for p in vocab if len(p) == ln}) for ln in (4, 3, 2)
    }

    def inlist(pieces: list[str]) -> str:
        return ", ".join(f"'{p}'" for p in pieces)

    return (
        f"CASE WHEN substr(word, pos, 4) IN ({inlist(by_len[4])}) THEN 4 "
        f"WHEN substr(word, pos, 3) IN ({inlist(by_len[3])}) THEN 3 "
        f"WHEN substr(word, pos, 2) IN ({inlist(by_len[2])}) THEN 2 "
        "ELSE 1 END"
    )


def wordpiece_tokenize(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: tuple[str, ...] = WORDPIECE_VOCAB,
) -> DataFrame:
    """Greedy longest-match subword tokenization (WordPiece/BERT-style):
    each word is segmented left-to-right by always taking the longest
    vocabulary piece that matches at the cursor; continuation pieces are
    rendered with the conventional ``##`` prefix. Returns one row per
    word INSTANCE: (id, word, n_pieces, pieces).

    100 TB plan — tokenize the VOCABULARY, not the corpus: segmentation
    runs as a recursive CTE (Spark 4 WITH RECURSIVE) over the DISTINCT
    words only (Zipf: corpus vocabulary ≪ token instances; recursion
    depth = longest word, each level one codegen'd projection), and token
    instances then equi-join the tiny word→segmentation map — typically a
    broadcast. A per-instance UDF would re-segment "the" a billion times.
    The identical CTE text runs on DuckDB, so segmentation is
    value-checked cross-engine, not just counted.
    """
    import uuid as _uuid

    spark = df.sparkSession
    inst = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("word")
    )
    view = f"__wp_words_{_uuid.uuid4().hex[:8]}"
    inst.select("word").distinct().createOrReplaceTempView(view)
    step = _wordpiece_step_sql(vocab)
    seg = spark.sql(
        f"""
        WITH RECURSIVE steps AS (
          SELECT word, 1 AS pos, 0 AS n_pieces, '' AS pieces
          FROM {view}
          UNION ALL
          SELECT word, pos + {step}, n_pieces + 1,
                 pieces || CASE WHEN pos = 1 THEN '' ELSE ' ##' END
                        || substr(word, pos, {step})
          FROM steps WHERE pos <= length(word)
        )
        SELECT word, n_pieces, pieces FROM steps WHERE pos > length(word)
        """
    )
    return inst.join(seg, "word").select(
        F.col(id_col), "word", F.col("n_pieces").cast("bigint").alias("n_pieces"), "pieces"
    )


def quality_top_fraction(
    df: DataFrame,
    fraction: float = 0.3,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group quality percentile filter: keep the top ``fraction`` of
    documents BY QUALITY WITHIN EACH ``by`` GROUP — the FineWeb-style
    per-dump/per-domain threshold. A single global cutoff lets one clean
    domain crowd out every other source; per-group ranking preserves the
    corpus mix while still dropping each source's worst tail.

    Keeps ``row_number ≤ ceil(n_group · fraction)`` ranked by
    (quality_score desc, id) — deterministic under the half-up-rounded
    score with the id tie-break. Returns kept rows:
    (id, group, quality_score, src_rank, n_source).

    100 TB shape: the quality score is a shuffle-free projection; the
    rank is one window PARTITIONED BY the group column (keyed — a global
    quality sort would funnel the corpus through one task). Skewed group
    sizes are real (one crawl dump ≫ others) — the window sorts within
    each group only, and AQE splits oversized partitions.
    """
    scored = quality_score(df, text_col, id_col).select(
        id_col, "quality_score"
    )
    src = df.select(F.col(id_col), F.col(by))
    joined = src.join(scored, id_col)
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy(
        F.desc("quality_score"), F.asc(id_col)
    )
    ranked = joined.select(
        F.col(id_col),
        F.col(by),
        "quality_score",
        F.row_number().over(w).alias("src_rank"),
        F.count("*").over(Window.partitionBy(by)).alias("n_source"),
    )
    return ranked.filter(
        F.col("src_rank") <= F.ceil(F.col("n_source") * F.lit(fraction))
    ).select(
        id_col,
        by,
        "quality_score",
        F.col("src_rank").cast("bigint").alias("src_rank"),
        F.col("n_source").cast("bigint").alias("n_source"),
    )


def dsir_weights(
    df: DataFrame,
    target_predicate: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Data Selection via
    Importance Resampling, Xie et al. 2023): score every RAW document by
    how target-like its hashed-bigram distribution is, so the raw corpus
    can be resampled toward a high-quality target domain (the standard
    pretraining-data selection step: target = Wikipedia/books, raw = web
    crawl). ``target_predicate`` is a SQL boolean over the input columns
    selecting the in-domain exemplar docs (e.g. ``lang = 'en'``).

    Model: word bigrams hash into ``n_buckets`` buckets (md5 fraction ·
    buckets — engine-portable, power-of-two ⇒ exact double math); the
    add-one-smoothed bucket probability ratio factorizes as
    p_t(b)/p_r(b) = ((ct+1)/(cr+1)) · C with C = (Tr+B)/(Tt+B) CONSTANT
    across buckets. Per-bucket ratios are integer-quantized once —
    q6 = (ct+1)·10⁶ div (cr+1), exact int64 floor division (the shipped
    fixed-point model table, same discipline as bigram_lm_score) — so the
    per-doc accumulation Σ tf·q6 is an integer sum, exact in any order on
    any engine, and the single C·x/10⁶ float step happens once at the
    end under half-up rounding. ln-free: DSIR's log-importance ranks
    documents; the mean per-instance likelihood ratio ranks the same way
    bigram_lm_score's mean probability ranks like negative perplexity,
    without a transcendental on the oracle boundary. Overflow bounds:
    q6 < 9.2e18 needs ct < 9.2e12 occurrences in ONE bucket of the
    target corpus; per-doc Σ tf·q6 < 9.2e18 holds for any document under
    ~10⁶ bigrams even at the q6 ceiling.

    100 TB shape: one lexer pass; every shuffle after it carries
    (int bucket, count) or (id, int bucket, count) pairs with map-side
    partial aggregation — never text. The model is ≤ n_buckets rows and
    broadcasts; totals are a 1-row broadcast (codebook contract). Cost ∝
    corpus tokens, skew-free by md5-uniform bucketing.

    Returns raw-side docs only: (id, n_bigrams, dsir_weight). Raw docs
    with <2 alpha tokens have no features and are absent (same as the
    oracle's GROUP BY); target docs are the model, not the population
    being resampled.
    """
    from dbt_glue_spark.extensions.sketches import hash_fraction

    if n_buckets < 1 or n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two: {n_buckets}")
    ws_stage = df.select(
        F.col(id_col),
        F.expr(target_predicate).alias("is_target"),
        words(F.col(text_col)).alias("ws"),
    )
    # NOT persisted (r12 A/B with model: 1.25 s vs 1.54 s cached):
    # the bigram explode is map-only codegen, cheap to recompute
    inst = (
        ws_stage.filter(F.size("ws") >= 2)
        .select(
            F.col(id_col),
            F.col("is_target"),
            F.explode(
                F.zip_with(
                    F.slice("ws", 1, F.size("ws") - 1),
                    F.slice("ws", 2, F.size("ws") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("bg"),
        )
        .select(
            F.col(id_col),
            F.col("is_target"),
            F.floor(hash_fraction(F.col("bg")) * F.lit(n_buckets))
            .cast("int")
            .alias("bucket"),
        )
    )
    ct = inst.filter("is_target").groupBy("bucket").agg(F.count("*").alias("ct"))
    cr = inst.filter("NOT is_target").groupBy("bucket").agg(F.count("*").alias("cr"))
    model = (
        ct.join(cr, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
        .withColumn("q6", F.expr("CAST(ct + 1 AS DECIMAL(38,0)) * 1000000 div (cr + 1)"))
    )
    totals = model.agg(
        F.sum("ct").cast("bigint").alias("tt"), F.sum("cr").cast("bigint").alias("tr")
    )
    doc_tf = (
        inst.filter("NOT is_target")
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("tf"))
    )
    scored = (
        doc_tf.join(F.broadcast(model.select("bucket", "q6")), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("tf") * F.col("q6")).cast("bigint").alias("s"),
            F.sum("tf").cast("bigint").alias("n"),
        )
    )
    b = F.lit(n_buckets)
    c_const = (F.col("tr") + b).cast("double") / (F.col("tt") + b).cast("double")
    return scored.join(F.broadcast(totals)).select(
        F.col(id_col),
        F.col("n").alias("n_bigrams"),
        half_up_round(
            F.col("s") * c_const / (F.col("n") * F.lit(1000000.0)), 6
        ).alias("dsir_weight"),
    )


def lm_quality_buckets(
    df: DataFrame,
    by: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing: rank every document by
    its LM quality score WITHIN its ``by`` group (CCNet buckets per
    language — a global cut would call every non-English doc "tail") and
    label the top third ``head``, middle third ``middle``, rest ``tail``.
    Downstream pipelines keep head+middle, or mix buckets with explicit
    weights (curriculum/quality mixing).

    Deterministic thresholds: rank ≤ ceil(n/3) → head, ≤ ceil(2n/3) →
    middle — explicit rank arithmetic rather than NTILE so both engines
    agree on every boundary; ordering (score desc, id) is total.

    100 TB shape: the score is bigram_lm_score (shuffles carry word keys
    with partial aggregation); bucketing is ONE window keyed by the group
    column, same discipline as quality_top_fraction. Docs with no bigrams
    (absent from the score) are absent here too.
    """
    from pyspark.sql import Window

    scored = bigram_lm_score(df, id_col=id_col, text_col=text_col).select(
        id_col, "avg_next_word_p"
    )
    joined = df.select(F.col(id_col), F.col(by)).join(scored, id_col)
    w = Window.partitionBy(by).orderBy(F.desc("avg_next_word_p"), F.asc(id_col))
    ranked = joined.select(
        F.col(id_col),
        F.col(by),
        "avg_next_word_p",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy(by)).alias("n_grp"),
    )
    bucket = (
        F.when(F.col("rk") <= F.ceil(F.col("n_grp") / 3.0), F.lit("head"))
        .when(F.col("rk") <= F.ceil(F.col("n_grp") * 2.0 / 3.0), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.select(
        F.col(id_col),
        F.col(by),
        "avg_next_word_p",
        bucket.alias("ppl_bucket"),
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 512,
    by: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-style training-sequence packing WITH document splitting: within
    each ``by`` group, documents (ordered by id) are conceptually
    concatenated into one token stream and cut into fixed ``seq_len``
    sequences; a document may span two or more sequences. Returns the
    segment manifest — one row per (sequence, document) intersection:
    (group, seq_id, id, pos_in_seq, n_seg_tokens) — exactly what a
    training loader needs to assemble batches (and place attention-mask /
    loss-mask boundaries) without re-tokenizing.

    This is the exact-boundary complement to the whole-doc shard packer
    (ext_shard_packing): shard packing never splits a document and
    tolerates ragged shards; sequence packing guarantees every sequence
    but the group's last holds exactly ``seq_len`` tokens — zero padding
    waste, the packing used for pretraining batches.

    All integer arithmetic (cumsum offsets, floor-div sequence ids,
    greatest/least segment clamps) — exact on any engine. 100 TB shape:
    one window keyed by the group column (packing parallelizes across
    groups; a global stream would serialize the corpus), then a narrow
    per-row sequence explode whose fan-out is 1 + crossings — no extra
    shuffle after the window.
    """
    from pyspark.sql import Window

    from dbt_glue_spark.functions.text import tokens

    tok = df.select(
        F.col(id_col),
        F.col(by),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy(by)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = tok.select(
        F.col(by),
        F.col(id_col),
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_off"),
    )
    segs = off.select(
        F.col(by),
        F.col(id_col),
        "n_tokens",
        "start_off",
        F.explode(
            F.sequence(
                F.expr(f"start_off div {seq_len}"),
                F.expr(f"(start_off + n_tokens - 1) div {seq_len}"),
            )
        ).alias("seq_id"),
    )
    seg_start = F.greatest(F.col("start_off"), F.col("seq_id") * seq_len)
    seg_end = F.least(
        F.col("start_off") + F.col("n_tokens"), (F.col("seq_id") + 1) * seq_len
    )
    return segs.select(
        F.col(by),
        F.col("seq_id").cast("bigint").alias("seq_id"),
        F.col(id_col),
        (seg_start - F.col("seq_id") * seq_len).cast("bigint").alias("pos_in_seq"),
        (seg_end - seg_start).cast("bigint").alias("n_seg_tokens"),
    )


def span_corruption_manifest(
    df: DataFrame,
    span_len: int = 3,
    corruption_rate: float = 0.15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """T5-style span-corruption example manifest: deterministically mask
    ~``corruption_rate`` of each document's tokens in spans of
    ``span_len``, and report the example geometry a seq2seq loader needs
    — (id, n_tokens, n_masked, n_spans, input_len, target_len), where
    input_len = n_tokens − n_masked + n_spans (each maximal masked run
    collapses to one sentinel) and target_len = n_masked + n_spans
    (sentinel + original tokens per span).

    Deterministic noise (reproducible example construction — re-running
    the pipeline regenerates byte-identical training examples): position
    i STARTS a span iff md5-fraction(id:i) < rate/span_len; a position is
    masked iff any of the previous span_len positions started a span
    (maximal runs merge overlapping spans, exactly T5's behavior).

    100 TB shape: one tokenize + posexplode pass; the mask and run-start
    flags are two windows KEYED BY document (bounded frames: span_len−1
    preceding, and lag 1); the output aggregate is one per-doc groupBy.
    No RNG state, no UDF — the mask is a pure function of (id, pos).
    """
    from pyspark.sql import Window

    from dbt_glue_spark.extensions.sketches import hash_fraction
    from dbt_glue_spark.functions.text import tokenize_once

    p = corruption_rate / span_len
    staged = tokenize_once(df, text_col, [F.col(id_col)])
    pos = staged.select(
        F.col(id_col), F.posexplode("toks").alias("pos", "tok")
    ).select(
        F.col(id_col),
        "pos",
        (
            hash_fraction(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col("pos").cast("string")))
            < F.lit(p)
        ).cast("int").alias("starts"),
    )
    w_mask = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(span_len - 1), Window.currentRow)
    )
    w_lag = Window.partitionBy(id_col).orderBy("pos")
    flagged = pos.select(
        F.col(id_col),
        "pos",
        F.max("starts").over(w_mask).alias("masked"),
    ).select(
        F.col(id_col),
        "masked",
        (
            (F.col("masked") == 1)
            & (F.coalesce(F.lag("masked").over(w_lag), F.lit(0)) == 0)
        ).cast("int").alias("span_start"),
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("masked").cast("bigint").alias("n_masked"),
        F.sum("span_start").cast("bigint").alias("n_spans"),
        (F.count("*") - F.sum("masked") + F.sum("span_start"))
        .cast("bigint")
        .alias("input_len"),
        (F.sum("masked") + F.sum("span_start")).cast("bigint").alias("target_len"),
    )


def vocab_coverage(
    df: DataFrame,
    ks: tuple[int, ...] = (100, 1000, 10000),
    text_col: str = "text",
) -> DataFrame:
    """Zipf vocabulary-coverage audit: for each candidate vocabulary size
    k, the fraction of corpus TOKEN INSTANCES covered by the k most
    frequent words — the curve that sizes a tokenizer vocabulary (where
    does coverage flatten?) and quantifies how head-heavy a crawl is.
    Returns (k, n_vocab, coverage) with coverage = 1 when k ≥ |vocab|.

    100 TB shape: one word-count aggregate (vocabulary-bounded,
    partial-aggregated); the top-max(k) selection compiles to
    TakeOrderedAndProject (never a global window over the vocabulary);
    the running-sum window then runs over ≤ max(k) surviving rows.
    """
    from pyspark.sql import Window

    kmax = max(ks)
    counts = (
        df.select(F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    totals = counts.agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_vocab"),
    )
    top = counts.orderBy(F.desc("c"), F.asc("w")).limit(kmax)
    w_rank = Window.orderBy(F.desc("c"), F.asc("w"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = top.select(
        F.row_number().over(w_rank).alias("rk"),
        F.sum("c").over(w_cum).alias("cum"),
    )
    ks_df = local_frame(ranked.sparkSession, [(k,) for k in ks], "k int")
    # per k: cumulative count at rank min(k, n_vocab)
    at_k = (
        ks_df.join(F.broadcast(totals))
        .join(
            F.broadcast(ranked),
            F.col("rk") == F.least(F.col("k"), F.col("n_vocab")),
        )
    )
    return at_k.select(
        F.col("k").cast("int"),
        "n_vocab",
        half_up_round(F.col("cum") / F.col("total"), 6).alias("coverage"),
    )


#: encoding-anomaly patterns, Java-regex ∩ RE2 dialect (same discipline as
#: PII_PATTERNS): hex escapes and literal chars only — no lookarounds, no
#: \p classes (DuckDB RE2 and Java agree on these exactly).
ENCODING_PATTERNS = {
    "nonascii": "[^\\x00-\\x7f]",
    "control": "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]",
    "replacement": "�",
}


def encoding_audit(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source encoding-health report: counts of non-ASCII bytes,
    C0 control characters, U+FFFD replacement characters (the mojibake
    tell), and whitespace anomalies (runs of 2+ spaces, tabs) — the
    ftfy-style triage pass that decides which crawl sources need
    re-decoding before training. One row per ``by`` group with document
    and character totals plus the count of affected documents.

    100 TB shape: a narrow per-row projection (regexp_extract_all + size,
    whole-stage codegen, no UDF) collapsing into a groupBy on the source
    key with map-side partial aggregation — bounded by scan throughput,
    like pii_scan.
    """
    counts = {
        name: F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        ).cast("bigint")
        for name, pat in ENCODING_PATTERNS.items()
    }
    counts["multispace"] = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit("  +"), F.lit(0))
    ).cast("bigint")
    counts["tab"] = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit("\\t"), F.lit(0))
    ).cast("bigint")
    staged = df.select(
        F.col(by), *[c.alias(f"n_{n}") for n, c in counts.items()]
    )
    aggs = [F.count("*").cast("bigint").alias("n_docs")]
    for n in counts:
        aggs.append(F.sum(f"n_{n}").cast("bigint").alias(f"total_{n}"))
        aggs.append(
            F.sum(F.when(F.col(f"n_{n}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"docs_with_{n}")
        )
    return staged.groupBy(by).agg(*aggs)


def pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    window: int = 3,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Windowed token co-occurrence with a log-free PMI association score:
    the collocation-mining step (phrase detection, tokenizer-merge
    candidates, embedding eval word pairs) over a raw corpus.

    Pairs are unordered (least/greatest) alpha-token pairs within
    ``window`` positions, equal-token pairs excluded. Association uses the
    pair-space PMI ratio p(a,b)/(p(a)p(b)) with marginals taken over the
    retained pair population: ratio = c_ab·P/(m_a·m_b), P = Σc_ab and
    m_t = Σ_{pairs containing t} c_ab. log(ratio) is monotone in ratio, so
    ranking on the ratio ranks exactly like textbook PMI without a
    transcendental on the oracle boundary. Quantized exact:
    ``pmi_q6 = ((c_ab·10^6 div m_a)·P) div m_b`` — staged int64 floor
    divisions, identical in any engine (both engines lose the identical
    floor remainders). Overflow: c_ab ≤ 2·window·m_a ⇒ first quotient
    ≤ 2·window·10^6; safe while P ≤ 9.2e18/(2·window·10^6) ≈ 1.5e12 pair
    instances (~half a trillion tokens at window 3 — shrink the 10^6
    scale beyond that).

    100 TB shape: NO self-join — pairs are generated inside one codegen'd
    projection from the token array (per-gap slice zips), exploded once,
    then a single map-side-combining groupBy on the pair key. Marginals
    and totals are vocabulary²-bounded frames; the marginal joins carry NO
    broadcast hint (vocabulary-proportional — AQE decides from runtime
    size), the 1-row total is the only forced broadcast. Top-k via
    orderBy+limit → TakeOrderedAndProject, no global sort.

    Output: tok_a, tok_b, c_ab, m_a, m_b, pmi_q6 — top ``k`` by
    (pmi_q6 desc, tok_a, tok_b), c_ab ≥ min_count.
    """
    # The array is referenced 2·window times by the gap zips below.
    # CollapseProject's non-cheap-expression guard keeps this projection
    # separate (regexp_extract_all is not on the cheap list and is
    # multiply-referenced), so the regexp runs once per row — pinned by
    # tests/test_plan_quality.py::test_pmi_tokenize_evaluated_once.
    staged = df.select(words(F.col(text_col)).alias("__ws"))
    tok = F.col("__ws")
    empty = F.array().cast("array<int>")

    def gap_structs(g: int):
        idx = F.when(
            F.size(tok) > g, F.sequence(F.lit(1), F.size(tok) - g)
        ).otherwise(empty)
        return F.transform(
            idx,
            lambda i: F.struct(
                F.least(F.element_at(tok, i), F.element_at(tok, i + g)).alias("a"),
                F.greatest(F.element_at(tok, i), F.element_at(tok, i + g)).alias("b"),
            ),
        )

    allp = F.flatten(F.array(*[gap_structs(g) for g in range(1, window + 1)]))
    inst = (
        staged.select(F.explode(allp).alias("p"))
        .filter(F.col("p.a") != F.col("p.b"))
        .select(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
    )
    # NOT persisted (r12 A/B: 1.48 s vs 1.82 s cached): the three
    # consumers (marginals, totals, scored) share the identical pair
    # groupBy exchange, which AQE stage reuse executes once
    pairs = (
        inst.groupBy("tok_a", "tok_b").agg(F.count("*").cast("bigint").alias("c_ab"))
    )
    marg = (
        pairs.select(F.explode(F.array("tok_a", "tok_b")).alias("tok"), "c_ab")
        .groupBy("tok")
        .agg(F.sum("c_ab").cast("bigint").alias("m"))
    )
    totals = pairs.agg(F.sum("c_ab").cast("bigint").alias("__p"))
    scored = (
        pairs.filter(F.col("c_ab") >= min_count)
        .join(marg.select(F.col("tok").alias("tok_a"), F.col("m").alias("m_a")), "tok_a")
        .join(marg.select(F.col("tok").alias("tok_b"), F.col("m").alias("m_b")), "tok_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            "m_a",
            "m_b",
            F.expr("((CAST(c_ab AS DECIMAL(38,0)) * 1000000 div m_a)"
                   " * CAST(__p AS DECIMAL(38,0))) div m_b")
            .cast("bigint")
            .alias("pmi_q6"),
        )
    )
    return scored.orderBy(F.desc("pmi_q6"), "tok_a", "tok_b").limit(k)


def zipf_rank_buckets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Zipf/Heaps-style corpus-shape audit: the token frequency spectrum
    bucketed by rank DECADE (rank 1-9, 10-99, …) — per decade the type
    count, occurrence mass, frequency range, and hapax count. A healthy
    natural-language corpus puts steadily-decaying mass in each decade; a
    template-heavy or deduplication-damaged corpus shows up immediately as
    a distorted spectrum (hapax collapse, flat head). All-integer output —
    no log on the oracle boundary; the decade IS floor(log10(rank))+1,
    computed as the digit count of the rank.

    100 TB shape: NO per-token ranking at all. All tokens in one
    frequency class occupy a contiguous rank interval
    [offset+1, offset+n_f], so each class's contribution to a decade is a
    pure interval-overlap count — the only window runs over the DISTINCT
    FREQUENCY histogram (≤ thousands of rows even at corpus scale; a
    naive per-token rank window would funnel the hapax class — half the
    vocabulary — through one partition). Each class explodes into the
    ≤ log₁₀(V) decades it spans; decade bounds come from digit counts
    (no log, no float). The oracle's plain
    ``row_number() OVER (ORDER BY freq DESC, tok)`` is rank-equivalent
    by construction (intra-class order never crosses a decade boundary
    in aggregate).
    """
    counts = (
        df.select(F.explode(words(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    from pyspark.sql import Window as _W

    freq_hist = counts.groupBy("freq").agg(F.count("*").cast("bigint").alias("__nf"))
    wf = _W.orderBy(F.desc("freq")).rowsBetween(_W.unboundedPreceding, _W.currentRow)
    offs = freq_hist.select(
        "freq", "__nf", (F.sum("__nf").over(wf) - F.col("__nf")).alias("__off")
    )
    digits = lambda c: F.length(c.cast("string")).cast("int")  # noqa: E731
    spans = offs.select(
        "freq",
        "__nf",
        "__off",
        F.explode(
            F.sequence(
                digits(F.col("__off") + 1), digits(F.col("__off") + F.col("__nf"))
            )
        ).alias("rank_decade"),
    )
    # decade d covers ranks [10^(d-1), 10^d - 1]; overlap with the
    # class's rank interval is exact integer arithmetic (pow on ≤ 19
    # digit counts is float-exact well past any vocabulary)
    d_lo = F.pow(F.lit(10.0), F.col("rank_decade") - 1).cast("bigint")
    d_hi = F.pow(F.lit(10.0), F.col("rank_decade")).cast("bigint") - 1
    cnt = F.least(F.col("__off") + F.col("__nf"), d_hi) - F.greatest(
        F.col("__off") + 1, d_lo
    ) + 1
    return (
        spans.select("rank_decade", "freq", cnt.alias("__cnt"))
        .groupBy("rank_decade")
        .agg(
            F.sum("__cnt").cast("bigint").alias("n_types"),
            F.sum(F.col("__cnt") * F.col("freq")).cast("bigint").alias("n_occurrences"),
            F.max("freq").cast("bigint").alias("max_freq"),
            F.min("freq").cast("bigint").alias("min_freq"),
            F.sum(F.when(F.col("freq") == 1, F.col("__cnt")).otherwise(0))
            .cast("bigint")
            .alias("hapax_types"),
        )
    )


def token_gini(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token-distribution diversity via the Gini–Simpson
    index 1 − Σ p_i² — the log-free cousin of token entropy: 0 for a
    one-token loop, → 1 for a flat distribution. Low values flag the
    degenerate repetition (keyword stuffing, template loops) that
    repetition_ratio's fixed n-gram window can miss when the loop period
    is long.

    Exactness: Σ p_i² = Σ c_i²/n² is rational — the score ships as
    ``gini_q6 = 10^6 − (Σc_i²·10^6) div n²``, one exact int64 floor
    division (engine-identical). Overflow bound: Σc_i²·10^6 < 2^63 ⇔
    n ≤ 3·10⁶ tokens per document — far past any training document.

    100 TB shape: explode → ONE map-side-combining groupBy on
    (doc, token) → one groupBy on doc; both shuffles carry counting rows,
    never text. The left join keeps token-free documents (n_tokens = 0,
    gini_q6 NULL — undefined, not 0).

    Output: id, n_tokens, n_types (bigint), gini_q6 (bigint, NULL when
    the document has no tokens).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(words(F.col(text_col))).alias("__tok"),
    )
    per_doc = (
        toks.groupBy(id_col, "__tok")
        .agg(F.count("*").cast("bigint").alias("__c"))
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            F.sum(F.col("__c") * F.col("__c")).cast("bigint").alias("__ss"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).cast("bigint").alias("n_types"),
            F.expr("1000000 - (__ss * 1000000) DIV (n_tokens * n_tokens)")
            .cast("bigint")
            .alias("gini_q6"),
        )
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 20,
) -> DataFrame:
    """Heaps-law vocabulary-growth curve: documents are laid out in
    corpus order (``id_col`` ascending — the crawl/ingest order), split
    into ``n_buckets`` equi-width id ranges, and per bucket the audit
    reports token occurrences, NEW types (tokens whose first-occurrence
    doc falls in the bucket), and the cumulative vocabulary. Heaps'
    V(N) ≈ K·N^β says cum_types should grow sublinearly in cum_tokens;
    a corpus whose curve goes flat is template-saturated (dedup it), one
    that grows linearly is noise/encoding junk (the vocabulary never
    converges). Complements :func:`zipf_rank_buckets` (the static
    spectrum) with the GROWTH view an ingest pipeline monitors per
    crawl. All-integer output — no log/float on the oracle boundary;
    downstream fits the log-log slope.

    100 TB shape: one tokenize pass; each token type collapses to its
    min(id) via a map-side-combining groupBy (the exact-dedup shape);
    bucket ids are the shared equi-width formula from a 1-row min/max
    frame; the only windows (cumulative types/tokens) ride the
    ≤ n_buckets-row bucket frame. Nothing after the two groupBys scales
    with the corpus.

    NULL contract: NULL ids are dropped (no position in corpus order);
    token-free docs contribute n_docs only.
    """
    from dbt_glue_spark.extensions.skyline import equi_width_bucket

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1: {n_buckets}")
    base = df.select(
        F.col(id_col).cast("bigint").alias("__id"),
        words(F.col(text_col)).alias("__toks"),
    ).filter(F.col("__id").isNotNull())
    st = base.agg(
        F.min("__id").alias("__mn"), F.max("__id").alias("__mx")
    )
    bk = equi_width_bucket(
        F.col("__id").cast("double"),
        F.col("__mn").cast("double"),
        F.col("__mx").cast("double"),
        n_buckets,
    )
    staged = base.join(F.broadcast(st)).select(
        "__id", "__toks", bk.alias("bucket")
    )
    per_bucket = staged.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        # coalesce: a bucket whose docs ALL have NULL text sums to NULL,
        # but the oracle's COALESCE(SUM(len(toks)),0) emits 0 — match it
        # (r8 ADVICE: divergence empirically verified on all-NULL-text
        # bucket slices of the dirty profile)
        F.coalesce(F.sum(F.size("__toks")), F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
    )
    # token type -> first-occurrence bucket (min id wins, then its bucket)
    firsts = (
        staged.select("bucket", F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_new_types"))
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_bucket.join(firsts, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            F.coalesce("n_new_types", F.lit(0)).cast("bigint").alias(
                "n_new_types"
            ),
        )
        # the cumulative windows run over the <= n_buckets-row frame
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            "n_new_types",
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
            F.sum("n_new_types").over(w).cast("bigint").alias("cum_types"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_buckets: int = 20,
) -> DataFrame:
    """Redundancy-growth audit: in corpus order (equi-width ``id_col``
    buckets, as :func:`vocab_growth`), per bucket — distinct word
    n-gram occurrences, and how many of them are REPEATS of an n-gram
    first seen in an EARLIER bucket. A rising repeat fraction is the
    direct measurement of how much a growing crawl re-crawls itself —
    the number that decides whether another dedup pass pays for itself
    before training. Occurrences count each (doc, distinct shingle)
    once (the contamination/Jaccard convention); within-bucket repeats
    count as novel — the bucket is the dedup-decision granularity.

    100 TB shape: postings collapse to (shingle-md5, bucket) with a
    map-side-combining min-bucket groupBy; the per-bucket join is
    hash-keyed; repeat_q6 is one exact integer division; the only
    window is the cumulative over the ≤ n_buckets-row frame.
    """
    from dbt_glue_spark.extensions.skyline import equi_width_bucket
    from dbt_glue_spark.functions.text import shingle_postings

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1: {n_buckets}")
    ids = df.select(F.col(id_col).cast("bigint").alias("__id")).filter(
        F.col("__id").isNotNull()
    )
    st = ids.agg(F.min("__id").alias("__mn"), F.max("__id").alias("__mx"))
    sh = shingle_postings(
        df.filter(F.col(id_col).isNotNull()),
        text_col,
        [F.col(id_col).cast("bigint").alias("__id")],
        n,
    ).join(F.broadcast(st))
    bk = equi_width_bucket(
        F.col("__id").cast("double"),
        F.col("__mn").cast("double"),
        F.col("__mx").cast("double"),
        n_buckets,
    )
    occ = sh.select(bk.alias("bucket"), "h")
    per_bucket = occ.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )
    first = occ.groupBy("h").agg(F.min("bucket").alias("first_bucket"))
    repeats = (
        occ.join(first, "h")
        .filter(F.col("bucket") > F.col("first_bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_repeats"))
    )
    return (
        per_bucket.join(repeats, "bucket", "left")
        .select(
            "bucket",
            "n_occurrences",
            F.coalesce("n_repeats", F.lit(0)).cast("bigint").alias("n_repeats"),
        )
        .select(
            "bucket",
            "n_occurrences",
            "n_repeats",
            # exact integer ppm — no float on the oracle boundary
            F.expr("(CAST(n_repeats AS DECIMAL(38,0)) * 1000000) div n_occurrences")
            .cast("bigint")
            .alias("repeat_q6"),
        )
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher/FineWeb-style repetition + well-formedness quality rules
    as one MAP-ONLY projection (Rae et al. 2021 "Scaling Language
    Models" appendix A1.1; the FineWeb reimplementation keeps the same
    thresholds) — per document the integer metrics and one boolean per
    rule, so a curation pipeline can both filter and AUDIT which rule
    fired (VERDICT r8 staged-tier brief item 5c):

    - ``min_words_ok`` / ``max_words_ok``: 50 ≤ n_words ≤ 100 000;
    - ``mean_word_len_ok``: mean word length in [3, 10] — integer
      cross-multiplication (3·n ≤ chars ≤ 10·n), no float division;
    - ``symbol_ratio_ok``: (# + ellipsis occurrences) ≤ 0.1·n_words;
    - ``ellipsis_lines_ok``: lines ending in …/... ≤ 30 %;
    - ``dup_lines_ok``: duplicate lines ≤ 30 % of lines;
    - ``dup_line_chars_ok``: characters inside duplicate lines ≤ 20 %
      of line characters;
    - ``alpha_words_ok``: ≥ 80 % of words contain a letter;
    - ``pass_gopher``: conjunction of all of the above.

    Every count is a higher-order array op on the split arrays
    (filter/size/array_distinct/aggregate) — NO explode, NO shuffle,
    NO Python UDF: the whole operator is a single whole-stage-codegen
    projection that runs at parquet-scan speed on any corpus size.
    NULL text ⇒ zero counts, all rules fail (a NULL doc is not a
    trainable doc).

    Rule set and thresholds are the public Gopher numbers; the
    fraction thresholds are exact integer cross-multiplications so the
    DuckDB oracle replays them bit-for-bit.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(txt, "\\s+"), lambda w: w != F.lit(""))
    lines = F.filter(F.split(txt, "\n"), lambda l: l != F.lit(""))
    n_words = F.size(words).cast("bigint")
    word_chars = F.aggregate(
        words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    n_alpha = F.size(
        F.filter(words, lambda w: w.rlike("[a-zA-Z]"))
    ).cast("bigint")
    n_sym = F.size(
        F.expr(
            f"regexp_extract_all(coalesce(`{text_col}`, ''), '#|\\\\.\\\\.\\\\.|…', 0)"
        )
    ).cast("bigint")
    n_lines = F.size(lines).cast("bigint")
    n_ell = F.size(
        F.filter(lines, lambda l: l.rlike("(\\.\\.\\.|…)\\s*$"))
    ).cast("bigint")
    n_dist = F.size(F.array_distinct(lines)).cast("bigint")
    line_chars = F.aggregate(
        lines, F.lit(0).cast("bigint"), lambda acc, l: acc + F.length(l)
    )
    dist_chars = F.aggregate(
        F.array_distinct(lines),
        F.lit(0).cast("bigint"),
        lambda acc, l: acc + F.length(l),
    )
    staged = df.select(
        F.col(id_col).cast("bigint").alias(id_col),
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_alpha.alias("n_alpha_words"),
        n_sym.alias("n_symbols"),
        n_lines.alias("n_lines"),
        n_ell.alias("n_ellipsis_lines"),
        (n_lines - n_dist).alias("n_dup_lines"),
        (line_chars - dist_chars).alias("dup_line_chars"),
        line_chars.alias("line_chars"),
    )
    f_min = F.col("n_words") >= 50
    f_max = F.col("n_words") <= 100000
    f_mwl = (F.lit(3) * F.col("n_words") <= F.col("word_chars")) & (
        F.col("word_chars") <= F.lit(10) * F.col("n_words")
    )
    f_sym = F.lit(10) * F.col("n_symbols") <= F.col("n_words")
    f_ell = F.lit(10) * F.col("n_ellipsis_lines") <= F.lit(3) * F.col("n_lines")
    f_dl = F.lit(10) * F.col("n_dup_lines") <= F.lit(3) * F.col("n_lines")
    f_dlc = F.lit(5) * F.col("dup_line_chars") <= F.col("line_chars")
    f_aw = F.lit(5) * F.col("n_alpha_words") >= F.lit(4) * F.col("n_words")
    nonempty = F.col("n_words") > 0
    flags = {
        "min_words_ok": f_min,
        "max_words_ok": f_max,
        "mean_word_len_ok": f_mwl & nonempty,
        "symbol_ratio_ok": f_sym & nonempty,
        "ellipsis_lines_ok": f_ell & nonempty,
        "dup_lines_ok": f_dl & nonempty,
        "dup_line_chars_ok": f_dlc & nonempty,
        "alpha_words_ok": f_aw & nonempty,
    }
    out = staged.select(
        "*", *[v.alias(k) for k, v in flags.items()]
    )
    allpass = None
    for k in flags:
        allpass = F.col(k) if allpass is None else (allpass & F.col(k))
    return out.select("*", allpass.alias("pass_gopher"))


def tokenizer_fertility(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source tokenizer fertility audit: how many (BPE-ish regex)
    tokens the lexer spends per whitespace word and per UTF-8 byte — the
    standard multilingual-tokenizer efficiency report (fertility =
    tokens/word, Ács 2019; compression = bytes/token). A source whose
    fertility spikes (CJK with no spaces → one giant "word", fullwidth
    digits invisible to ``[0-9]``) is exactly the text the byte-budget
    planner misprices, so this audit runs before any token-budget
    allocation that assumes chars ≈ tokens.

    Counting rules match the repo's two tokenizers bit-for-bit:
    words = whitespace split (functions.text.tokens), tokens = the
    token_count_regex lexer ([A-Za-z]+ | [0-9]+ | single non-alnum);
    chars = codepoints (both engines' length()), bytes = UTF-8 octets
    (Spark octet_length == DuckDB strlen). All ratios are exact bigint
    micro-units (x·10⁶ DIV y) — never a float division.

    NULL contract: NULL groups are excluded (stratified-family rule);
    NULL text counts as the empty string (a doc with no text is still a
    doc — n_docs counts it, every token metric contributes 0).

    100 TB shape: ONE whole-stage-codegen projection (regexp counts +
    lengths — no explode, no UDF) into ONE map-side-combining groupBy;
    output bounded by |sources|.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_words = F.size(F.filter(F.split(t, r"\s+"), lambda x: x != ""))
    n_tok = (
        F.size(F.regexp_extract_all(t, F.lit(r"[A-Za-z]+"), F.lit(0)))
        + F.size(F.regexp_extract_all(t, F.lit(r"[0-9]+"), F.lit(0)))
        + F.size(F.regexp_extract_all(t, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0)))
    )
    per = (
        df.filter(F.col(group_col).isNotNull())
        .select(
            F.col(group_col),
            n_words.cast("bigint").alias("__w"),
            n_tok.cast("bigint").alias("__t"),
            F.length(t).cast("bigint").alias("__c"),
            F.octet_length(t).cast("bigint").alias("__b"),
        )
        .groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("__w").cast("bigint").alias("n_words"),
            F.sum("__t").cast("bigint").alias("n_tokens"),
            F.sum("__c").cast("bigint").alias("n_chars"),
            F.sum("__b").cast("bigint").alias("n_bytes"),
        )
    )
    return per.select(
        group_col,
        "n_docs",
        "n_words",
        "n_tokens",
        "n_chars",
        "n_bytes",
        F.when(
            F.col("n_words") > 0,
            F.expr("(CAST(n_tokens AS DECIMAL(38,0)) * 1000000) div n_words"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("fertility_micro"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr("(CAST(n_bytes AS DECIMAL(38,0)) * 1000000) div n_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("bytes_per_token_micro"),
        F.when(
            F.col("n_chars") > 0,
            F.expr("(CAST(n_bytes AS DECIMAL(38,0)) * 1000000) div n_chars"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("bytes_per_char_micro"),
    )
