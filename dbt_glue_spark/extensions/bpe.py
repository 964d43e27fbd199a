"""BPE vocabulary induction: learn byte-pair-encoding merge rules from
the corpus — the TRAINING side of subword tokenization (the inference
side is ``text_analysis.wordpiece_tokenize``).

Each round counts adjacent symbol pairs (weighted by word frequency),
merges the most frequent pair corpus-wide, and repeats; the output is the
ordered merge table, which IS the tokenizer vocabulary artifact a
training pipeline ships.

The merge-application trick that keeps this in pure Catalyst (and in the
SQL oracle): a word's symbol sequence is encoded as a single string with
a \\x1e sentinel PREFIXING every symbol (``[ab, c]`` → ``"␞ab␞c"``).
Merging pair (a, b) is then the plain string replacement
``"␞a␞b" → "␞ab"`` — the prefix sentinel makes a symbol-boundary match
impossible (``"␞b␞c"`` cannot match inside ``"␞ab␞c"``), and engines'
replace-all scans left-to-right non-overlapping, which is exactly BPE's
merge order ([a,a,a] + (a,a) → [aa, a]). No per-row fold/UDF needed.

100 TB shape: training runs over DISTINCT words + frequencies (Zipf:
vocabulary ≪ corpus; the same lever as wordpiece_tokenize), each round is
one explode + partial-aggregated groupBy over (symbol, symbol) pairs, and
only the 1-row argmax rule reaches the driver per round — the merge
table is a k-row codebook, the IVF-centroid precedent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_glue_spark.functions.text import words
from dbt_glue_spark.session import local_frame

SENT = "\x1e"


def _word_freqs(df: DataFrame, text_col: str):
    return (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _train(df: DataFrame, n_merges: int, text_col: str):
    """Shared training loop → (merge list, final encoded-words frame)."""
    spark = df.sparkSession
    words = _word_freqs(df, text_col).select(
        F.regexp_replace("word", "(.)", SENT + "$1").alias("enc"), "cnt"
    )
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, n_merges + 1):
        syms = F.filter(F.split("enc", SENT), lambda s: s != "")
        pairs = words.select(
            F.col("cnt"),
            F.explode(
                F.zip_with(
                    F.slice(syms, 1, F.size(syms) - 1),
                    F.slice(syms, 2, F.size(syms) - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
        ).filter(F.size(syms) >= 2)
        best = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.desc("pc"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, pc = best[0]["a"], best[0]["b"], int(best[0]["pc"])
        merges.append((r, a, b, pc))
        words = words.select(
            F.replace(
                F.col("enc"), F.lit(SENT + a + SENT + b), F.lit(SENT + a + b)
            ).alias("enc"),
            "cnt",
        ).localCheckpoint()
    return merges, words


def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules from the corpus. Returns the
    merge table (round, sym_a, sym_b, pair_count) — argmax ties broken
    lexicographically on (sym_a, sym_b) so training is deterministic on
    any engine/partitioning."""
    merges, _ = _train(df, n_merges, text_col)
    return local_frame(
        df.sparkSession, merges, "round int, sym_a string, sym_b string, pair_count long"
    )


def bpe_segment_words(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Train ``n_merges`` merges AND apply them: per distinct word, the
    post-merge piece count — the fertility statistic that tells a
    pipeline how the learned vocabulary compresses its own corpus
    (piece counts fall as merges absorb frequent pairs). Returns
    (word, n_occurrences, n_pieces)."""
    _, words = _train(df, n_merges, text_col)
    syms = F.filter(F.split("enc", SENT), lambda s: s != "")
    return words.select(
        F.replace(F.col("enc"), F.lit(SENT), F.lit("")).alias("word"),
        F.col("cnt").cast("bigint").alias("n_occurrences"),
        F.size(syms).cast("bigint").alias("n_pieces"),
    )
