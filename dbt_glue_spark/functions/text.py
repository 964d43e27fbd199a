"""Text primitives for the dedup / text-analysis extension operators.

All expressions are built-in Catalyst functions (split/transform/sequence/
md5) — no Python UDFs — so tokenization and shingling of a 100 TB documents
table runs inside whole-stage codegen and scales linearly with input size.

:func:`shingle_postings` is the one hashed n-gram posting frame: every
shingle overlap in the engine (Jaccard, containment, contamination,
novelty, source overlap, hard negatives) joins its 16-byte ``h`` key,
never shingle text. Only MinHash signatures hash shingle text
themselves, because their hash family is defined over it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokenize_once(df, text_col: str, keep: list[str], lower: bool = False):
    """Project ``keep`` columns plus a ``toks`` token array, with a
    projection barrier so the array is computed exactly once per row.

    Catalyst's CollapseProject inlines a projected expression into every
    downstream reference site; for an interpreted higher-order pipeline
    (filter ∘ split) referenced 5-7× per row that's a 5-7× slowdown
    (measured 8.6s → 1.5s on the sf0.1 documents shingle explode). A
    nondeterministic column in the projection blocks the collapse —
    CollapseProject refuses to merge through nondeterministic expressions —
    so ``toks`` materializes once. The marker column is dropped by
    downstream selects (column pruning removes it from the scan).
    """
    from pyspark.sql import functions as _F

    c = _F.lower(_F.col(text_col)) if lower else _F.col(text_col)
    return df.select(
        *keep, tokens(c).alias("toks"), _F.rand().alias("__once")
    )


# Cross-engine case-fold repair: JVM lower() follows Unicode
# SpecialCasing — lower('İ' U+0130) = 'i' + COMBINING DOT ABOVE (U+0307)
# and final sigma is context-sensitive (ΣΟΦΟΣ → σοφος) — while DuckDB's
# utf8proc lowercases per-codepoint (İ → 'i', Σ → 'σ' everywhere). These
# are the ONLY two divergence classes between the engines (measured,
# SCALE.md round-9 unicode axis), and both poison downstream
# tokenization: the stray U+0307 splits 'istanbul' into 'i'+'stanbul'
# under [a-z]+ extraction and turns one normalized token into two.
# Folding AFTER lower — delete U+0307, map ς → σ — is symmetric (both
# engines apply the same translate), so lower∘fold is engine-identical.
# The identical fragment is valid SQL in BOTH engines; oracles embed it
# via fold_lower_sql so the two sides cannot drift. Spark-side word
# lexing goes through :func:`words`, the one place this fold meets the
# [a-z]+ extraction.
_FOLD_FROM = "ς̇"  # ς + combining dot above
_FOLD_TO = "σ"          # σ (U+0307 maps to nothing = deleted)


def fold_lower(col: Column) -> Column:
    """Engine-stable lowercase: lower() then fold the two JVM/utf8proc
    divergence classes (İ's stray U+0307, final sigma)."""
    return F.translate(F.lower(col), _FOLD_FROM, _FOLD_TO)


def fold_lower_sql(expr: str) -> str:
    """The same fold as :func:`fold_lower`, as a SQL fragment valid in
    both Spark SQL and DuckDB — use in F.expr sites and oracles alike."""
    return f"translate(lower({expr}), 'ς̇', 'σ')"


def words(col: Column) -> Column:
    """Word lexer → array<string>: lowercase alpha runs (``[a-z]+``) of
    the engine-stable fold. The oracles' DuckDB form is
    :func:`words_sql`."""
    return F.regexp_extract_all(fold_lower(col), F.lit("[a-z]+"), F.lit(0))


def words_sql(expr: str) -> str:
    """:func:`words` as a DuckDB SQL fragment, for oracles (Spark SQL's
    ``regexp_extract_all`` defaults to group 1, so this form is
    DuckDB-only)."""
    return f"regexp_extract_all({fold_lower_sql(expr)}, '[a-z]+')"


def normalize_text(col: Column) -> Column:
    """Lowercase (engine-stable fold), strip non-alphanumerics to
    spaces, collapse whitespace."""
    c = fold_lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def tokens(col: Column) -> Column:
    """Whitespace tokenization → array<string> (empty tokens removed)."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def word_shingles(tok: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array.

    ``transform(sequence(0, size-n), i -> concat_ws(' ', tok[i..i+n-1]))``;
    docs shorter than ``n`` tokens yield an empty array (not NULL) so that
    downstream set arithmetic (Jaccard) is well-defined.
    """
    idx = F.when(F.size(tok) >= n, F.sequence(F.lit(0), F.size(tok) - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", *[tok[i + j] for j in range(n)]))
    return F.array_distinct(grams)


def shingle_postings(
    df, text_col: str, keep: list, n: int = 3, df_freq_cutoff: int | None = None
):
    """Hashed word n-gram postings ``(*keep, h)``: one row per distinct
    whitespace-token ``n``-gram of each row's ``text_col``, keyed by
    ``h = unhex(md5(shingle))`` — 16 bytes, so every join and shuffle
    over postings carries a fixed-width key instead of ~50 bytes of
    shingle text. Overlap counts are those of the text (md5 collisions
    over a corpus's shingles are negligible).

    Rows with NULL text or fewer than ``n`` tokens have no postings.
    ``df_freq_cutoff`` drops stop-shingles: postings whose document
    frequency (rows holding the shingle) exceeds it — the skew defense
    for self-joins, where a shingle of frequency f costs f² pairs.
    """
    staged = tokenize_once(df, text_col, keep)
    cols = staged.columns[:-2]  # keep's names, without toks / __once
    sh = staged.select(
        *cols, F.explode(word_shingles(F.col("toks"), n)).alias("shingle")
    ).select(*cols, F.unhex(F.md5("shingle")).alias("h"))
    if df_freq_cutoff is not None:
        freq = sh.groupBy("h").agg(F.count("*").alias("df_"))
        sh = sh.join(freq.filter(F.col("df_") <= df_freq_cutoff), "h", "left_semi")
    return sh
