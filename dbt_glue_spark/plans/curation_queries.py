"""Crawl, mixture, quality and chat/SFT curation queries.

Same :class:`QuerySpec` contract and exact-DuckDB gates as every catalog
module (tests/test_curation_queries.py, every pathological data
profile).

The crawl-side / mixture-side operators a production training-data
pipeline runs before and after document dedup:

- ``ext_url_dedup`` — URL canonicalization + exact URL-level dedup
  (web.url_dedup): tracking params, case, default ports, fragments and
  trailing slashes collapse; min-id survivor per canonical URL;
- ``ext_domain_caps`` — registered-domain frontier caps
  (web.domain_caps): public-suffix-lite domain extraction, at most
  ``cap`` docs per domain in crawl order;
- ``ext_token_budget_alloc`` — the per-source token-budget allocator
  (sampling.token_budget_allocation): quality × size proportional
  shares with caps and an exact crumb fill, Σ alloc == min(B, Σ n)
  in exact bigint arithmetic;
- ``ext_gopher_quality_flags`` — the Gopher/FineWeb repetition +
  well-formedness rules (text_analysis.gopher_quality_flags) as one
  map-only projection, integer cross-multiplied thresholds.

Oracle style for the URL pair: the Spark side synthesizes a MESSY url
per document (case-shifted host/scheme, default ports, utm params,
unsorted params, fragments, trailing slashes — every canonicalization
step exercised) and runs the real operator pipeline; the DuckDB oracle
computes the expected output in CLOSED FORM from the variant
construction — an independent derivation, not a replay of the regex
steps, so a canonicalization bug cannot cancel out of both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_glue_spark.plans import streams
from dbt_glue_spark.plans.catalog import register
from dbt_glue_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Synthetic messy-URL construction (shared by the two web queries).
#
# Identity parts derive from g = doc_id % 40 (docs sharing g collapse to
# one canonical URL); variant noise derives from doc_id (scheme/host
# case, default port, tracking params + param order, fragment, trailing
# slash). doc_id % 19 == 0 → NULL url (the NULL-contract axis).
# ---------------------------------------------------------------------------


def _synth_url_spark(doc_id: F.Column) -> F.Column:
    g = doc_id % 40
    suffix = F.when(g % 5 == 0, F.lit("co.uk")).otherwise(F.lit("com"))
    hostlo = F.concat(
        F.lit("www.sub"),
        (g % 3).cast("string"),
        F.lit(".src"),
        (g % 7).cast("string"),
        F.lit("ex."),
        suffix,
    )
    host = F.when(doc_id % 3 == 0, F.upper(hostlo)).otherwise(hostlo)
    scheme = F.when(doc_id % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https"))
    port = F.when(doc_id % 7 == 0, F.lit(":443")).otherwise(F.lit(""))
    slash = F.when(doc_id % 2 == 0, F.lit("/")).otherwise(F.lit(""))
    query = F.when(
        doc_id % 3 == 0, F.lit("?utm_source=feed&b=2&a=1")
    ).otherwise(F.lit("?a=1&b=2"))
    frag = F.when(doc_id % 11 == 0, F.lit("#sec")).otherwise(F.lit(""))
    url = F.concat(
        scheme,
        F.lit("://"),
        host,
        port,
        F.lit("/docs/"),
        g.cast("string"),
        slash,
        query,
        frag,
    )
    return F.when(doc_id % 19 == 0, F.lit(None).cast("string")).otherwise(url)


# Closed-form canonical URL / registered domain per g (what the operator
# MUST produce) — the oracle derives these directly from the construction.
_SQL_G = "(doc_id % 40)"
_SQL_SUFFIX = f"CASE WHEN {_SQL_G} % 5 = 0 THEN 'co.uk' ELSE 'com' END"
_SQL_CANON = (
    f"'https://www.sub' || CAST({_SQL_G} % 3 AS VARCHAR)"
    f" || '.src' || CAST({_SQL_G} % 7 AS VARCHAR) || 'ex.' || {_SQL_SUFFIX}"
    f" || '/docs/' || CAST({_SQL_G} AS VARCHAR) || '?a=1&b=2'"
)
_SQL_DOMAIN = f"'src' || CAST({_SQL_G} % 7 AS VARCHAR) || 'ex.' || {_SQL_SUFFIX}"


@register(
    "ext_url_dedup",
    f"""
    SELECT {_SQL_CANON} AS canon_url,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_variants
    FROM documents
    WHERE doc_id % 19 <> 0
    GROUP BY 1
    """,
    doc="URL-level exact dedup (web.url_dedup): canonicalize — lowercase "
    "scheme/host, strip fragment + default port + tracking params "
    "(utm_*/fbclid/gclid/ref), sort surviving query params, strip "
    "trailing slashes — then keep the min-id document per canonical "
    "URL. The Spark side builds a MESSY variant per doc (case-shifted, "
    "ported, utm-decorated, fragment-suffixed) and runs the real regex "
    "pipeline; the oracle derives the expected canonical form CLOSED-"
    "FORM from the variant construction, so the two sides are "
    "independent. Canonicalization is map-only whole-stage codegen; the "
    "one shuffle is the canonical-URL groupBy with map-side combine "
    "(the exact-dedup shape). NULL urls excluded.",
)
def ext_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.web import url_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_spark(F.col("doc_id")).alias("url")
    )
    return url_dedup(docs, "url", "doc_id")


@register(
    "ext_domain_caps",
    f"""
    WITH d AS (
      SELECT {_SQL_DOMAIN} AS domain, doc_id
      FROM documents WHERE doc_id % 19 <> 0
    ),
    r AS (
      SELECT domain, doc_id,
             CAST(row_number() OVER (PARTITION BY domain ORDER BY doc_id)
                  AS INT) AS rank
      FROM d
    )
    SELECT domain, CAST(doc_id AS BIGINT) AS doc_id, rank
    FROM r WHERE rank <= 8
    """,
    doc="Registered-domain frontier cap (web.domain_caps): canonical URL "
    "→ host → registered domain via public-suffix-lite label slicing "
    "(example.co.uk keeps 3 labels, example.com keeps 2), then at most "
    "8 docs per domain in crawl (doc_id) order — the quota that stops "
    "template farms/mirrors from dominating a corpus. Spark runs the "
    "real extraction on the messy synthetic URLs; the oracle derives "
    "the domain closed-form. The only wide op is one rank window "
    "partitioned by domain; everything downstream is bounded by "
    "|domains| x cap.",
)
def ext_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.web import domain_caps

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_spark(F.col("doc_id")).alias("url")
    )
    return domain_caps(docs, "url", "doc_id", cap=8)


# ---------------------------------------------------------------------------
# ext_token_budget_alloc — quality scores + global budget → exact mixture
# ---------------------------------------------------------------------------

_TBA_BUDGET = 30_000


@register(
    "ext_token_budget_alloc",
    f"""
    WITH per AS (
      SELECT source,
             CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS n_tokens,
             CAST(COALESCE(MAX(n_chars % 1000), 0) AS BIGINT) AS weight
      FROM documents
      WHERE source IS NOT NULL
      GROUP BY source
    ),
    d AS (
      SELECT *, CAST(weight AS HUGEINT) * n_tokens AS dd FROM per
    ),
    t1 AS (SELECT CAST(SUM(dd) AS HUGEINT) AS dsum FROM d),
    r1 AS (
      SELECT d.*,
             CASE WHEN t1.dsum > 0
                  THEN LEAST(n_tokens,
                             (CAST({_TBA_BUDGET} AS HUGEINT) * dd) // t1.dsum)
                  ELSE 0 END AS a1
      FROM d CROSS JOIN t1
    ),
    h AS (SELECT *, n_tokens - a1 AS hh FROM r1),
    t2 AS (
      SELECT CAST({_TBA_BUDGET} AS BIGINT)
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
               ORDER BY rem DESC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS cum,
             t3.rfin
      FROM r2 CROSS JOIN t3
    )
    SELECT source, n_tokens, weight,
           CAST(a1 + b + LEAST(h2, GREATEST(rfin - cum, 0)) AS BIGINT)
             AS alloc_tokens,
           CAST(CASE WHEN n_tokens > 0
                THEN (CAST(a1 + b + LEAST(h2, GREATEST(rfin - cum, 0))
                           AS HUGEINT) * 1000000) // n_tokens
                ELSE 0 END AS BIGINT) AS rate_ppm
    FROM crumb
    """,
    doc="Per-source token-budget allocator "
    "(sampling.token_budget_allocation): per-source quality scores + a "
    "global token budget → per-source allocations and sampling rates "
    "with EXACT integer accounting (Σ alloc == min(B, Σ n) in bigint "
    "arithmetic — proportional quality×size shares with caps, one "
    "proportional redistribution, then an exact greedy crumb fill over "
    "a clamped exclusive cumsum). The operator that turns DSIR/quality "
    "scores into an actual training mixture; composes with "
    "ext_ppswor_sample to draw each source's allocation. One map-side-"
    "combining groupBy collapses the corpus to |sources| rows; "
    "everything after is bounded by the source count.",
)
def ext_token_budget_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.sampling import token_budget_allocation

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", (F.col("n_chars") % 1000).alias("q")
    )
    return token_budget_allocation(docs, "source", "n_chars", "q", _TBA_BUDGET)


# ---------------------------------------------------------------------------
# ext_gopher_quality_flags — Gopher/FineWeb repetition + wellformedness
# ---------------------------------------------------------------------------


@register(
    "ext_gopher_quality_flags",
    r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(COALESCE(text, ''), '\s+'),
                         w -> w <> '') AS words,
             list_filter(string_split(COALESCE(text, ''), chr(10)),
                         l -> l <> '') AS lines,
             len(regexp_extract_all(COALESCE(text, ''), '#|\.\.\.|…', 0))
               AS n_symbols
      FROM documents
    ),
    m AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(words, w -> length(w))),
                           0) AS BIGINT) AS word_chars,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
               AS BIGINT) AS n_alpha_words,
             CAST(n_symbols AS BIGINT) AS n_symbols,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines,
                  l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS BIGINT)
               AS n_ellipsis_lines,
             CAST(len(lines) - len(list_distinct(lines)) AS BIGINT)
               AS n_dup_lines,
             CAST(COALESCE(list_sum(list_transform(lines, l -> length(l))), 0)
                  - COALESCE(list_sum(list_transform(list_distinct(lines),
                                                     l -> length(l))), 0)
               AS BIGINT) AS dup_line_chars,
             CAST(COALESCE(list_sum(list_transform(lines, l -> length(l))),
                           0) AS BIGINT) AS line_chars
      FROM base
    )
    SELECT *,
           n_words >= 50 AS min_words_ok,
           n_words <= 100000 AS max_words_ok,
           (3 * n_words <= word_chars AND word_chars <= 10 * n_words
            AND n_words > 0) AS mean_word_len_ok,
           (10 * n_symbols <= n_words AND n_words > 0) AS symbol_ratio_ok,
           (10 * n_ellipsis_lines <= 3 * n_lines AND n_words > 0)
             AS ellipsis_lines_ok,
           (10 * n_dup_lines <= 3 * n_lines AND n_words > 0) AS dup_lines_ok,
           (5 * dup_line_chars <= line_chars AND n_words > 0)
             AS dup_line_chars_ok,
           (5 * n_alpha_words >= 4 * n_words AND n_words > 0)
             AS alpha_words_ok,
           (n_words >= 50 AND n_words <= 100000
            AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
            AND 10 * n_symbols <= n_words
            AND 10 * n_ellipsis_lines <= 3 * n_lines
            AND 10 * n_dup_lines <= 3 * n_lines
            AND 5 * dup_line_chars <= line_chars
            AND 5 * n_alpha_words >= 4 * n_words
            AND n_words > 0) AS pass_gopher
    FROM m
    """,
    doc="Gopher/FineWeb quality rules per document "
    "(text_analysis.gopher_quality_flags, Rae et al. 2021 A1.1): word-"
    "count bounds, mean word length, symbol ratio, ellipsis-line / "
    "duplicate-line / duplicate-line-char fractions, alpha-word "
    "fraction — integer metrics plus one boolean per rule plus the "
    "conjunction, so curation can both filter and audit which rule "
    "fired. Every count is a higher-order array op on the split arrays "
    "(filter/size/array_distinct/aggregate): NO explode, NO shuffle, NO "
    "Python UDF — one whole-stage-codegen projection at scan speed. "
    "Thresholds are exact integer cross-multiplications.",
)
def ext_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.text_analysis import gopher_quality_flags

    return gopher_quality_flags(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Second staged tranche (added mid-round-9): line-level dedup, temperature
# mixture, threshold retention sweep, URL frontier ledger, domain quality
# blocklist — the remaining pre-tokenization stages of a crawl pipeline.
# ---------------------------------------------------------------------------


@register(
    "ext_line_dedup",
    r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(COALESCE(text, ''), '\s+'),
                         x -> x <> '') AS words
      FROM documents
    ),
    l AS (
      SELECT doc_id,
             unnest(list_transform(range(0, CAST((len(words)+7)//8 AS INT)),
                    i -> array_to_string(list_slice(words, i*8+1, i*8+8),
                                         ' '))) AS line
      FROM w WHERE len(words) > 0
    ),
    f AS (SELECT line, COUNT(DISTINCT doc_id) AS nd FROM l GROUP BY line),
    j AS (SELECT l.doc_id, length(l.line) AS chars, f.nd > 2 AS dup
          FROM l JOIN f USING (line))
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
           CAST(SUM(CASE WHEN dup THEN 0 ELSE chars END) AS BIGINT)
             AS kept_chars,
           CAST(SUM(CASE WHEN dup THEN chars ELSE 0 END) AS BIGINT)
             AS dropped_chars,
           CAST((1000000 * SUM(CASE WHEN dup THEN 1 ELSE 0 END)) // COUNT(*)
             AS BIGINT) AS dup_line_ppm
    FROM j GROUP BY doc_id
    """,
    doc="Cross-document line-level dedup stats (dedup.line_dedup — the "
    "CCNet/RefinedWeb boilerplate pre-filter, Wenzek et al. 2020 §4.1): "
    "a line appearing in more than 2 distinct documents is boilerplate; "
    "per-doc survival stats (n_lines, n_dup_lines, kept/dropped chars, "
    "dup_line_ppm) drive the downstream whole-doc drop rule. The "
    "synthetic corpus is single-line, so the catalog entry word-chunks "
    "each doc into 8-word lines with pure array ops (split → transform "
    "over an index sequence → slice/join → explode) and the oracle "
    "replays the chunking with list_transform/list_slice — the gopher-"
    "flags tokenization discipline. Lines collapse to md5+length "
    "immediately so every exchange carries 16-byte keys, never text; "
    "doc frequency is one groupBy(md5)/countDistinct; the verdict "
    "rejoins on md5 and rolls up per doc — three key-bounded shuffles, "
    "no window, no all-pairs.",
)
def ext_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.dedup import line_dedup

    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda x: x != F.lit(""),
    )
    with_words = docs.select("doc_id", words.alias("__words")).filter(
        F.size("__words") > 0
    )
    n_lines = (F.size("__words") + F.lit(7)).cast("int") - (
        (F.size("__words") + F.lit(7)) % 8
    ).cast("int")
    lines = with_words.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), (n_lines / 8).cast("int") - F.lit(1)
                ),
                lambda i: F.array_join(
                    F.slice(F.col("__words"), i * 8 + 1, 8), " "
                ),
            )
        ).alias("line"),
    )
    return line_dedup(lines, "doc_id", "line", max_doc_freq=2)


_TM_BUDGET = 50_000


@register(
    "ext_temperature_mixture",
    f"""
    WITH per AS (
      SELECT source, CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS n_tokens
      FROM documents WHERE source IS NOT NULL GROUP BY source
    ),
    w AS (
      SELECT *,
             CAST(floor(sqrt(CAST(GREATEST(n_tokens, 0) AS DOUBLE)) * 1000)
               AS BIGINT) AS weight
      FROM per
    ),
    t AS (SELECT CAST(COALESCE(SUM(weight), 0) AS BIGINT) AS tw FROM w),
    a AS (
      SELECT w.*,
             CAST(CASE WHEN t.tw > 0 THEN (CAST(weight AS HUGEINT) * 1000000) // t.tw
                  ELSE 0 END AS BIGINT) AS p_ppm,
             CAST(CASE WHEN t.tw > 0 THEN ({_TM_BUDGET} * weight) // t.tw
                  ELSE 0 END AS BIGINT) AS alloc_tokens
      FROM w CROSS JOIN t
    )
    SELECT source, n_tokens, weight, p_ppm, alloc_tokens,
           CAST(CASE WHEN n_tokens > 0
                THEN (CAST(alloc_tokens AS HUGEINT) * 1000000) // n_tokens
                ELSE 0 END AS BIGINT) AS epochs_ppm
    FROM a
    """,
    doc="Temperature-scaled multinomial source mixture "
    "(sampling.temperature_mixture — the XLM-R/T5 sampling law, "
    "p_i ∝ n_i^α): flattens the natural size distribution so low-"
    "resource sources are up-sampled. α is pinned at 0.5 because IEEE "
    "sqrt is EXACTLY rounded (bit-identical across Spark's JVM and the "
    "oracle's libm), and the weight freezes to ⌊sqrt(n)·1000⌋ bigint so "
    "every share downstream is exact integer arithmetic — pow(α≠0.5) is "
    "not exactly rounded and would flake the last ulp across engines. "
    "epochs_ppm > 10⁶ flags a source the mixture repeats. ONE map-side-"
    "combining groupBy collapses the corpus to |sources| rows; the "
    "scalar total W joins back via a broadcast 1-row cross join.",
)
def ext_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.sampling import temperature_mixture

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    return temperature_mixture(docs, "source", "n_chars", _TM_BUDGET)


@register(
    "ext_quality_threshold_sweep",
    """
    WITH d AS (
      SELECT CAST(n_chars % 1000 AS BIGINT) AS q,
             CAST(n_chars AS BIGINT) AS sz
      FROM documents WHERE n_chars IS NOT NULL
    ),
    b AS (
      SELECT (q - ((q % 100) + 100) % 100) // 100 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(sz) AS BIGINT) AS toks
      FROM d GROUP BY 1
    ),
    c AS (
      SELECT bucket * 100 AS threshold,
             SUM(docs) OVER (ORDER BY bucket DESC) AS docs_kept,
             SUM(toks) OVER (ORDER BY bucket DESC) AS tokens_kept,
             SUM(docs) OVER () AS tot_docs,
             SUM(toks) OVER () AS tot_toks
      FROM b
    )
    SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST(docs_kept AS BIGINT) AS docs_kept,
           CAST(tokens_kept AS BIGINT) AS tokens_kept,
           CAST((CAST(docs_kept AS HUGEINT) * 1000000) // tot_docs AS BIGINT) AS docs_ppm,
           CAST(CASE WHEN tot_toks > 0
                THEN (CAST(tokens_kept AS HUGEINT) * 1000000) // tot_toks
                ELSE 0 END AS BIGINT) AS tokens_ppm
    FROM c ORDER BY threshold
    """,
    doc="Quality-threshold retention sweep "
    "(sampling.threshold_retention — the FineWeb-Edu threshold-ablation "
    "curve): for every score cutoff on a fixed grid, the documents and "
    "tokens surviving score >= cutoff, as exact counts and ppm shares. "
    "ONE corpus scan: docs collapse into ⌊score/width⌋ buckets (exact "
    "floor division via pmod, any sign), then the retention curve is a "
    "reverse cumulative window over the |buckets|-row frame — never a "
    "scan per candidate threshold. The curve picks the cutoff that hits "
    "a token budget before anything is re-scanned.",
)
def ext_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.sampling import threshold_retention

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") % 1000).alias("q"), "n_chars"
    )
    return threshold_retention(docs, "q", "n_chars", 100)


@register(
    "ext_url_frontier_ledger",
    f"""
    WITH seen AS (
      SELECT DISTINCT (doc_id % 40) AS g FROM documents
      WHERE doc_id < 100 AND doc_id % 3 = 0 AND doc_id % 19 <> 0
    )
    SELECT {_SQL_CANON} AS canon_url,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_variants
    FROM documents
    WHERE doc_id >= 100 AND doc_id % 19 <> 0
      AND (doc_id % 40) NOT IN (SELECT g FROM seen)
    GROUP BY 1
    """,
    doc="Incremental crawl-frontier dedup (web.url_frontier_new): which "
    "canonical URLs in this batch has the pipeline never crawled "
    "before? Ledger = the canonical URLs of docs {id < 100, id % 3 = 0} "
    "(the prior run); batch = docs {id >= 100}; the operator "
    "canonicalizes both sides, LEFT ANTI joins batch against ledger, "
    "and collapses surviving variants min-id-first exactly like "
    "url_dedup. The cross-run twin of url_dedup in the "
    "exact_dedup_incremental / contamination_ledger pattern. The oracle "
    "derives both the seen-set and the expected canonical form CLOSED-"
    "FORM from the variant construction (independent of the regex "
    "pipeline). Map-only canonicalization; the anti-join and the final "
    "groupBy share the canonical-URL key — the standard incremental-"
    "dedup shuffle shape.",
)
def ext_url_frontier_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.web import url_frontier_new

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_spark(F.col("doc_id")).alias("url")
    )
    ledger = docs.filter((F.col("doc_id") < 100) & (F.col("doc_id") % 3 == 0))
    batch = docs.filter(F.col("doc_id") >= 100)
    return url_frontier_new(batch, ledger)


@register(
    "ext_domain_quality_agg",
    f"""
    SELECT {_SQL_DOMAIN} AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars % 1000) AS BIGINT) AS sum_quality,
           CAST((CAST(SUM(n_chars % 1000) AS HUGEINT) * 1000000) // COUNT(*) AS BIGINT)
             AS mean_q_micro,
           (COUNT(*) >= 5 AND
            (CAST(SUM(n_chars % 1000) AS HUGEINT) * 1000000) // COUNT(*) < 480000000)
             AS blocked
    FROM documents
    WHERE doc_id % 19 <> 0 AND n_chars IS NOT NULL
    GROUP BY 1
    """,
    doc="Per-registered-domain quality aggregation + blocklist "
    "derivation (web.domain_quality): mean document quality per domain "
    "in exact micro-units (⌊10⁶·Σq/n⌋ bigint), flagging domains below "
    "480000000 micro with >= 5 docs of support — the operator that "
    "turns document-level classifier scores into the domain blocklists "
    "a crawler enforces at fetch time. Spark runs the real "
    "canonicalize→host→registered-domain extraction on the messy "
    "synthetic URLs; the oracle derives the domain closed-form. "
    "Map-only extraction + ONE groupBy(domain) with map-side combine; "
    "output bounded by |domains|.",
)
def ext_domain_quality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.web import domain_quality

    docs = load_table(spark, sf_dir, "documents").select(
        _synth_url_spark(F.col("doc_id")).alias("url"),
        (F.col("n_chars") % 1000).alias("q"),
    )
    return domain_quality(
        docs, "url", "q", min_docs=5, threshold_micro=480_000_000
    )


@register(
    "streaming_url_frontier",
    f"""
    SELECT DISTINCT {_SQL_CANON} AS canon_url
    FROM documents
    WHERE doc_id >= 100 AND doc_id % 19 <> 0
      AND (doc_id % 40) NOT IN (
        SELECT DISTINCT (doc_id % 40) FROM documents
        WHERE doc_id < 100 AND doc_id % 3 = 0 AND doc_id % 19 <> 0
      )
    """,
    doc="Streaming crawl-frontier dedup end-to-end "
    "(streaming/pipelines.url_frontier_stream — the Kappa twin of "
    "web.url_frontier_new): the batch docs staged as a 4-file URL "
    "stream, canonicalized per micro-batch, stream-static LEFT ANTI "
    "joined against the seen-URL ledger (static side re-read each "
    "batch), deduped on the canonical URL within the stream, append-"
    "mode memory sink. The emitted set must equal the batch frontier's "
    "canon_url set exactly regardless of file arrival order (set "
    "semantics — no order-dependent keep_id in the streaming contract). "
    "Oracle derives ledger membership and the canonical form closed-"
    "form from the variant construction.",
)
def streaming_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.streaming.pipelines import url_frontier_stream

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_spark(F.col("doc_id")).alias("url")
    )
    ledger = docs.filter((F.col("doc_id") < 100) & (F.col("doc_id") % 3 == 0))
    batch = docs.filter(F.col("doc_id") >= 100).select("url")
    with streams.staged(batch, 4) as stream:
        return streams.to_memory(
            url_frontier_stream(stream, ledger), "append", "streaming_url_frontier"
        )


# ---------------------------------------------------------------------------
# Third staged tranche (added mid-round-9): quality-argmax dedup survivor,
# data-constrained epoch repeats, tokenizer fertility audit, curriculum
# stages — the training-side ops between curation and the data loader.
# ---------------------------------------------------------------------------


@register(
    "ext_dedup_keep_best",
    """
    WITH d AS (
      SELECT doc_id, COALESCE(n_chars % 1000, -1) AS q, md5(text) AS h
      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY h ORDER BY q DESC, doc_id ASC)
               AS rn,
             COUNT(*) OVER (PARTITION BY h) AS n,
             MAX(q) OVER (PARTITION BY h) AS bq
      FROM d
    )
    SELECT CAST(doc_id AS BIGINT) AS keep_id,
           CAST(n AS BIGINT) AS n_copies,
           CAST(bq AS BIGINT) AS best_score
    FROM r WHERE rn = 1
    """,
    doc="Exact dedup with QUALITY-ARGMAX survivor selection "
    "(dedup.exact_dedup_keep_best — the FineWeb/RefinedWeb keep-best "
    "curation rule): among rows sharing a text hash, the highest-scored "
    "copy survives (ties: lowest id), vs exact_dedup's min-id crawl "
    "rule — dropping a high-score syndicated copy for an earlier "
    "low-score one silently degrades the corpus quality distribution. "
    "Output is the cluster manifest (keep_id, n_copies, best_score). "
    "ONE map-side-combining groupBy on md5(text) — 16-byte shuffle keys "
    "regardless of document size; the argmax rides a min(struct(-q,id)) "
    "aggregate, so no window and no join-back. NULL text/id excluded; "
    "NULL score loses to any real score via a -1 coalesce.",
)
def ext_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.dedup import exact_dedup_keep_best

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("n_chars") % 1000).alias("q")
    )
    return exact_dedup_keep_best(docs, "text", "doc_id", "q")


_ERP_BUDGET = 1_000_000
_ERP_E = 4


@register(
    "ext_epoch_repeat_plan",
    f"""
    WITH per AS (
      SELECT source,
             CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS n_tokens,
             CAST(COALESCE(MAX(n_chars % 1000), 0) AS BIGINT) AS weight
      FROM documents
      WHERE source IS NOT NULL
      GROUP BY source
    ),
    d AS (
      SELECT *, CAST(weight AS HUGEINT) * n_tokens AS dd,
             CAST({_ERP_E} * n_tokens AS BIGINT) AS cap
      FROM per
    ),
    t1 AS (SELECT CAST(SUM(dd) AS HUGEINT) AS dsum FROM d),
    r1 AS (
      SELECT d.*,
             CASE WHEN t1.dsum > 0
                  THEN LEAST(cap,
                             (CAST({_ERP_BUDGET} AS HUGEINT) * dd) // t1.dsum)
                  ELSE 0 END AS a1
      FROM d CROSS JOIN t1
    ),
    h AS (SELECT *, cap - a1 AS hh FROM r1),
    t2 AS (
      SELECT CAST({_ERP_BUDGET} AS BIGINT)
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
               ORDER BY rem DESC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS cum,
             t3.rfin
      FROM r2 CROSS JOIN t3
    )
    SELECT source, n_tokens, weight,
           CAST(a1 + b + LEAST(h2, GREATEST(rfin - cum, 0)) AS BIGINT)
             AS alloc_tokens,
           CAST(CASE WHEN n_tokens > 0
                THEN (CAST(a1 + b + LEAST(h2, GREATEST(rfin - cum, 0))
                           AS HUGEINT) * 1000000) // n_tokens
                ELSE 0 END AS BIGINT) AS rate_ppm
    FROM crumb
    """,
    doc="Data-constrained epoch-repeat plan "
    "(sampling.token_budget_allocation with max_epochs=4 — Muennighoff "
    "et al. 2023, Scaling Data-Constrained Language Models): when the "
    "budget exceeds what unique data supplies, each source may repeat "
    "up to E epochs before the allocator spills budget onward — the "
    "per-source cap becomes E·n_i instead of n_i, Σ alloc == "
    "min(B, E·Σn) EXACTLY in bigint arithmetic, and rate_ppm > 10⁶ "
    "reads directly as repeat epochs (2.5e6 = 2.5 epochs). Same "
    "proportional-with-caps law, round-2 redistribution and exact "
    "crumb fill as ext_token_budget_alloc; one map-side-combining "
    "groupBy collapses the corpus to |sources| rows.",
)
def ext_epoch_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.sampling import token_budget_allocation

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", (F.col("n_chars") % 1000).alias("q")
    )
    return token_budget_allocation(
        docs, "source", "n_chars", "q", _ERP_BUDGET, max_epochs=_ERP_E
    )


@register(
    "ext_tokenizer_fertility",
    r"""
    WITH d AS (
      SELECT source, COALESCE(text, '') AS t
      FROM documents WHERE source IS NOT NULL
    ),
    m AS (
      SELECT source,
             CAST(len(list_filter(string_split_regex(t, '\s+'),
                                  x -> x <> '')) AS BIGINT) AS w,
             CAST(len(regexp_extract_all(t, '[A-Za-z]+', 0))
                + len(regexp_extract_all(t, '[0-9]+', 0))
                + len(regexp_extract_all(t, '[^A-Za-z0-9\s]', 0))
               AS BIGINT) AS tk,
             CAST(length(t) AS BIGINT) AS c,
             CAST(strlen(t) AS BIGINT) AS b
      FROM d
    ),
    g AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(w) AS BIGINT) AS n_words,
             CAST(SUM(tk) AS BIGINT) AS n_tokens,
             CAST(SUM(c) AS BIGINT) AS n_chars,
             CAST(SUM(b) AS BIGINT) AS n_bytes
      FROM m GROUP BY source
    )
    SELECT *,
           CAST(CASE WHEN n_words > 0
                THEN (CAST(n_tokens AS HUGEINT) * 1000000) // n_words ELSE 0 END AS BIGINT)
             AS fertility_micro,
           CAST(CASE WHEN n_tokens > 0
                THEN (CAST(n_bytes AS HUGEINT) * 1000000) // n_tokens ELSE 0 END AS BIGINT)
             AS bytes_per_token_micro,
           CAST(CASE WHEN n_chars > 0
                THEN (CAST(n_bytes AS HUGEINT) * 1000000) // n_chars ELSE 0 END AS BIGINT)
             AS bytes_per_char_micro
    FROM g
    """,
    doc="Per-source tokenizer fertility audit "
    "(text_analysis.tokenizer_fertility — fertility = tokens/word, "
    "Ács 2019; compression = bytes/token): how many BPE-ish lexer "
    "tokens per whitespace word and UTF-8 bytes per token each source "
    "costs — the multilingual-efficiency report that catches CJK "
    "no-space text and fullwidth digits mispricing a byte-budget plan. "
    "Counting rules match the repo tokenizers bit-for-bit (whitespace "
    "words, [A-Za-z]+|[0-9]+|single-non-alnum lexer); chars are "
    "codepoints in BOTH engines, bytes are UTF-8 octets (Spark "
    "octet_length == DuckDB strlen) — the cross-engine byte/char/"
    "codepoint contract the unicode parity axis exercises. All ratios "
    "exact bigint micro-units. ONE codegen projection (no explode, no "
    "UDF) into ONE map-side-combining groupBy; output |sources|.",
)
def ext_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.text_analysis import tokenizer_fertility

    return tokenizer_fertility(
        load_table(spark, sf_dir, "documents"), "source", "text"
    )


@register(
    "ext_curriculum_stages",
    """
    WITH d AS (
      SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
             CAST(n_chars % 1000 AS BIGINT) AS q
      FROM documents
      WHERE source IS NOT NULL AND n_chars IS NOT NULL
        AND doc_id IS NOT NULL
    ),
    r AS (
      SELECT *,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY q DESC, doc_id ASC) AS BIGINT)
               AS rank,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM d
    )
    SELECT source, doc_id, q AS score, rank,
           CAST(((rank - 1) * 4) // n AS BIGINT) AS stage
    FROM r
    """,
    doc="Curriculum-learning stage assignment "
    "(sampling.curriculum_stages — Bengio et al. 2009; quality-ordered "
    "FineWeb-Edu ablations): within each source, documents rank by "
    "(quality DESC, id ASC) and the ranking cuts into 4 near-equal "
    "stages — feed stage 0 (cleanest) first, anneal toward the tail. "
    "stage = ((rank-1)·4) DIV n in exact bigint arithmetic. The rank "
    "needs NO monolithic per-source window (hot profile: one source = "
    "90 % of the corpus): rows bucket by (source, ⌊score/width⌋) — "
    "order-consistent with score DESC — per-bucket counts roll into "
    "exclusive prefix offsets on the tiny source×bucket frame, rank = "
    "offset + row_number within bucket (the sorted-neighborhood "
    "distributed-rank discipline applied to curriculum ordering). "
    "NULL source/score/id rows carry no curriculum position and are "
    "excluded.",
)
def ext_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.sampling import curriculum_stages

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", (F.col("n_chars") % 1000).alias("q")
    )
    return curriculum_stages(docs, "source", "q", "doc_id", n_stages=4)


# ---------------------------------------------------------------------------
# Non-finite telemetry quarantine (round-9 IEEE-axis adjudication): the
# engine's float-determinism contract makes every decimal accumulator's
# domain FINITE numbers — NaN/Inf input aborts loud under ANSI (38
# catalog queries measured, SCALE.md "Round-9 IEEE axis"). These two
# operators are the production sequence: audit -> sanitize -> aggregate.
# The catalog entries synthesize a messy value column from event_id
# (the URL-oracle discipline) so the oracle derives expectations
# CLOSED-FORM from the construction.
# ---------------------------------------------------------------------------


def _messy_value_spark(m: F.Column, raw: F.Column) -> F.Column:
    return (
        F.when(m == 0, F.lit(float("nan")))
        .when(m == 1, F.lit(float("inf")))
        .when(m == 2, F.lit(float("-inf")))
        .when(m == 3, F.lit(-0.0))
        .when(m == 4, F.lit(5e-324))
        .when(m == 5, F.lit(None).cast("double"))
        .otherwise(raw)
    )


_SQL_RAW_BAD = (
    "CASE WHEN value IS NOT NULL AND (isnan(value) OR isinf(value)) "
    "THEN 1 ELSE 0 END"
)
_SQL_RAW_CLEAN = (
    "CASE WHEN value IS NOT NULL AND (isnan(value) OR isinf(value)) "
    "THEN NULL WHEN value = 0 AND signbit(value) THEN 0.0 "
    "ELSE value END"
)


@register(
    "ext_nonfinite_audit",
    f"""
    WITH e AS (SELECT event_id % 11 AS m, value FROM events),
    a AS (
      SELECT 'value_m' AS column,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN m = 5 OR (m > 5 AND value IS NULL)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        CAST(SUM(CASE WHEN m = 0 OR (m > 5 AND value IS NOT NULL
                 AND isnan(value)) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
        CAST(SUM(CASE WHEN m = 1 OR (m > 5 AND value IS NOT NULL
                 AND value = 'infinity'::DOUBLE) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pos_inf,
        CAST(SUM(CASE WHEN m = 2 OR (m > 5 AND value IS NOT NULL
                 AND value = '-infinity'::DOUBLE) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_neg_inf,
        CAST(SUM(CASE WHEN m = 3 OR (m > 5 AND value IS NOT NULL
                 AND value = 0 AND signbit(value)) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_neg_zero,
        CAST(SUM(CASE WHEN m = 4 OR (m > 5 AND value IS NOT NULL
                 AND NOT isnan(value) AND abs(value) > 0
                 AND abs(value) < 2.2250738585072014e-308)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_denormal
      FROM e
    ),
    b AS (
      SELECT 'value' AS column,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_null,
        CAST(SUM(CASE WHEN value IS NOT NULL AND isnan(value)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
        CAST(SUM(CASE WHEN value = 'infinity'::DOUBLE THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pos_inf,
        CAST(SUM(CASE WHEN value = '-infinity'::DOUBLE THEN 1 ELSE 0 END)
             AS BIGINT) AS n_neg_inf,
        CAST(SUM(CASE WHEN value = 0 AND signbit(value) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_neg_zero,
        CAST(SUM(CASE WHEN value IS NOT NULL AND NOT isnan(value)
                 AND abs(value) > 0
                 AND abs(value) < 2.2250738585072014e-308
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_denormal
      FROM e
    )
    SELECT * FROM a UNION ALL SELECT * FROM b
    """,
    doc="Per-column census of IEEE trouble values "
    "(audit.nonfinite_audit): NULL/NaN/±Inf/-0.0/denormal counts — the "
    "ingestion report that decides whether a telemetry feed is safe to "
    "aggregate under the engine's decimal determinism contract (NaN/Inf "
    "reaching any decimal accumulator aborts loud under ANSI — round-9 "
    "IEEE-axis finding, 38 queries measured). The entry audits a messy "
    "synthetic column (NaN/±Inf/-0.0/denormal/NULL derived from "
    "event_id) ALONGSIDE the raw value column, so the oracle derives "
    "the synthetic counts closed-form and mirrors the raw predicates "
    "(isnan/isinf/signbit). -0.0 detection is sign-exact cross-engine: "
    "Spark CAST(-0.0 AS STRING)='-0.0' vs DuckDB signbit(). ONE "
    "codegen aggregate pass; output bounded by |columns|.",
)
def ext_nonfinite_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import nonfinite_audit

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        _messy_value_spark(F.col("event_id") % 11, F.col("value")).alias(
            "value_m"
        ),
        "value",
    )
    return nonfinite_audit(ev, ["value_m", "value"])


@register(
    "ext_nonfinite_sanitize",
    f"""
    WITH e AS (
      SELECT event_id, event_id % 11 AS m, value,
             {_SQL_RAW_BAD} AS raw_bad,
             {_SQL_RAW_CLEAN} AS value_clean
      FROM events
    )
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CASE WHEN m IN (0, 1, 2) THEN NULL
                WHEN m = 3 THEN 0.0
                WHEN m = 4 THEN 5e-324
                WHEN m = 5 THEN NULL
                ELSE value_clean END AS value_m,
           value_clean AS value,
           CAST((CASE WHEN m IN (0, 1, 2) THEN 1
                      WHEN m IN (3, 4, 5) THEN 0
                      ELSE raw_bad END) + raw_bad AS BIGINT) AS n_sanitized
    FROM e
    """,
    doc="Non-finite quarantine before aggregation "
    "(audit.sanitize_nonfinite): NaN/±Inf become NULL (aggregates then "
    "skip them — the missing-data contract), -0.0 normalizes to 0.0, "
    "finite values pass bit-exact; n_sanitized counts how many of the "
    "row's audited fields were damaged so downstream can drop or "
    "down-weight the row instead of silently averaging survivors. The "
    "production step between ext_nonfinite_audit and any decimal-"
    "contract aggregate. Map-only projection, no shuffle; oracle "
    "replays the messy-column construction closed-form and mirrors the "
    "raw-column predicates.",
)
def ext_nonfinite_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import sanitize_nonfinite

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        _messy_value_spark(F.col("event_id") % 11, F.col("value")).alias(
            "value_m"
        ),
        "value",
    )
    return sanitize_nonfinite(ev, ["value_m", "value"])


# ---------------------------------------------------------------------------
# Fourth tranche: the SFT / alignment tier (extensions/chat.py) — turn
# validation, assistant-response dedup, suffix truncation planning,
# preference-pair conflict dedup, preference length-bias audit.
#
# Synthetic conversation construction (shared): each document is a TURN.
#   conv_id  = doc_id div 6           turn_idx = doc_id % 6
#   role     = CASE doc_id % 29 = 0 → NULL        (damaged role)
#                   doc_id % 23 = 0 → 'system'    (leading OR misplaced)
#                   doc_id % 17 = 0 → 'user'      (alternation breaker)
#                   turn parity     → user/assistant
# NULL doc_id rows fall out via the NULL-conversation contract; NULL /
# blank text (dirty axis) exercises the empty-turn census. The oracle
# re-derives the construction and re-implements the census in DuckDB SQL
# (windows + null-safe lag), so the two engines must agree on every
# semantic corner: NULL roles under IS NOT DISTINCT FROM, system-
# transparent alternation, codepoint substr, whitespace tokenization.
# ---------------------------------------------------------------------------


def _synth_role_spark(doc_id: F.Column) -> F.Column:
    return (
        F.when(doc_id % 29 == 0, F.lit(None).cast("string"))
        .when(doc_id % 23 == 0, F.lit("system"))
        .when(doc_id % 17 == 0, F.lit("user"))
        .when((doc_id % 6) % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )


_SQL_TURNS = """
      SELECT doc_id // 6 AS conv_id, doc_id % 6 AS turn_idx,
             CASE WHEN doc_id % 29 = 0 THEN NULL
                  WHEN doc_id % 23 = 0 THEN 'system'
                  WHEN doc_id % 17 = 0 THEN 'user'
                  WHEN (doc_id % 6) % 2 = 0 THEN 'user'
                  ELSE 'assistant' END AS role,
             text
      FROM documents WHERE doc_id IS NOT NULL
"""

_SQL_NTOK = (
    "len(list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),"
    " x -> x <> ''))"
)


def _synth_turns_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    d = F.col("doc_id")
    return docs.select(
        F.expr("doc_id div 6").alias("conv_id"),
        (d % 6).alias("turn_idx"),
        _synth_role_spark(d).alias("role"),
        "text",
    )


@register(
    "ext_chat_turn_validation",
    f"""
    WITH t AS ({_SQL_TURNS}),
    r AS (
      SELECT conv_id, turn_idx, role, text,
             COALESCE(role = 'system', FALSE) AS is_sys,
             {_SQL_NTOK} AS nt,
             (text IS NULL OR trim(text) = '') AS is_empty,
             MIN(turn_idx) OVER (PARTITION BY conv_id) AS first_turn,
             MAX(turn_idx) OVER (PARTITION BY conv_id) AS last_turn,
             MIN(CASE WHEN NOT COALESCE(role = 'system', FALSE)
                      THEN turn_idx END)
               OVER (PARTITION BY conv_id) AS first_nonsys_turn,
             lag(role) OVER (
               PARTITION BY conv_id, COALESCE(role = 'system', FALSE)
               ORDER BY turn_idx) AS prev_role,
             lag(1) OVER (
               PARTITION BY conv_id, COALESCE(role = 'system', FALSE)
               ORDER BY turn_idx) AS prev_exists
      FROM t
    ),
    g AS (
      SELECT conv_id,
        CAST(COUNT(*) AS BIGINT) AS n_turns,
        CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_user,
        CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_assistant,
        CAST(SUM(CASE WHEN is_sys THEN 1 ELSE 0 END) AS BIGINT) AS n_system,
        CAST(SUM(CASE WHEN NOT COALESCE(
               role IN ('user','assistant','system'), FALSE)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_other,
        MAX(CASE WHEN turn_idx = last_turn THEN role END) AS last_role,
        MAX(CASE WHEN turn_idx = first_nonsys_turn AND NOT is_sys
                 THEN role END) AS first_nonsys_role,
        CAST(SUM(CASE WHEN NOT is_sys AND COALESCE(prev_exists, 0) = 1
                 AND role IS NOT DISTINCT FROM prev_role
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_alternation_breaks,
        CAST(SUM(CASE WHEN is_empty THEN 1 ELSE 0 END) AS BIGINT)
          AS n_empty_turns,
        CAST(SUM(CASE WHEN is_sys AND turn_idx <> first_turn
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_misplaced_system,
        CAST(SUM(nt) AS BIGINT) AS n_tokens
      FROM r GROUP BY conv_id
    )
    SELECT CAST(conv_id AS BIGINT) AS conv_id,
           n_turns, n_user, n_assistant, n_system, n_other,
           CAST(COALESCE(first_nonsys_role = 'user', FALSE) AS INT)
             AS starts_user,
           CAST(COALESCE(last_role = 'assistant', FALSE) AS INT)
             AS ends_assistant,
           n_alternation_breaks, n_empty_turns, n_misplaced_system, n_tokens,
           CAST(COALESCE(first_nonsys_role = 'user', FALSE)
                AND COALESCE(last_role = 'assistant', FALSE)
                AND n_alternation_breaks = 0 AND n_empty_turns = 0
                AND n_misplaced_system = 0 AND n_other = 0 AS INT)
             AS well_formed
    FROM g
    """,
    doc="Per-conversation structural census for chat/SFT corpora "
    "(chat.validate_turns): role inventory, starts-with-user / ends-"
    "with-assistant flags (leading system prompt legal), alternation "
    "breaks over the system-transparent subsequence (null-safe — two "
    "adjacent NULL-role turns break too), empty-turn and misplaced-"
    "system counts, and a composed well_formed verdict — the gate an "
    "SFT pipeline runs before rendering chat templates. Synthetic "
    "turns derive deterministically from doc_id (role corruptions on "
    "the %17/%23/%29 lattices); the oracle re-derives them and re-"
    "implements the census independently in DuckDB windows. One lag "
    "window + per-group scalars + one groupBy, all on conv_id: a "
    "single shuffle, |conversations| rows out.",
)
def ext_chat_turn_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.chat import validate_turns

    return validate_turns(_synth_turns_spark(spark, sf_dir))


@register(
    "ext_chat_response_dedup",
    f"""
    WITH t AS ({_SQL_TURNS}),
    a AS (
      SELECT md5(text) AS resp_hash, conv_id, turn_idx
      FROM t WHERE role = 'assistant' AND text IS NOT NULL
        AND conv_id IS NOT NULL
    ),
    k AS (
      SELECT resp_hash, conv_id, turn_idx,
             row_number() OVER (PARTITION BY resp_hash
                                ORDER BY conv_id, turn_idx) AS rn
      FROM a
    ),
    c AS (
      SELECT resp_hash, CAST(COUNT(*) AS BIGINT) AS n_copies,
             CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs
      FROM a GROUP BY resp_hash
    )
    SELECT k.resp_hash,
           CAST(k.conv_id AS BIGINT) AS keep_conv,
           CAST(k.turn_idx AS BIGINT) AS keep_turn,
           c.n_copies, c.n_convs
    FROM k JOIN c ON k.resp_hash = c.resp_hash
    WHERE k.rn = 1 AND c.n_copies > 1
    """,
    doc="Assistant-response exact dedup ACROSS conversations "
    "(chat.response_dedup): verbatim-repeated completions (template "
    "answers, canned refusals) over-weight exactly like document dups "
    "— Lee et al. 2022 at turn granularity. Returns the duplicate "
    "manifest (hash, first (conv,turn) keeper, copy and conversation "
    "counts). ONE map-side-combining groupBy on the 16-byte md5; the "
    "argmin rides min(struct(conv,turn)) so no window, no join-back "
    "(the oracle uses row_number+join — an independent formulation of "
    "the same keeper rule). Output bounded by distinct duplicated "
    "responses.",
)
def ext_chat_response_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.chat import response_dedup

    return response_dedup(_synth_turns_spark(spark, sf_dir))


_TRUNC_L = 64


@register(
    "ext_chat_truncation_plan",
    f"""
    WITH t AS ({_SQL_TURNS}),
    r AS (
      SELECT conv_id, turn_idx, role, {_SQL_NTOK} AS nt
      FROM t WHERE conv_id IS NOT NULL
    ),
    s AS (
      SELECT *,
             SUM(nt) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS suffix_tokens
      FROM r
    ),
    f AS (
      SELECT *,
             MIN(CASE WHEN suffix_tokens <= {_TRUNC_L} AND role = 'user'
                      THEN turn_idx END)
               OVER (PARTITION BY conv_id) AS fk
      FROM s
    )
    SELECT CAST(conv_id AS BIGINT) AS conv_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns_total,
           CAST(SUM(nt) AS BIGINT) AS tokens_total,
           CAST(COALESCE(MAX(fk), -1) AS BIGINT) AS first_kept_turn,
           CAST(SUM(CASE WHEN turn_idx >= fk THEN 1 ELSE 0 END) AS BIGINT)
             AS n_turns_kept,
           CAST(COALESCE(SUM(CASE WHEN turn_idx >= fk THEN nt END), 0)
             AS BIGINT) AS tokens_kept,
           CAST(COALESCE(SUM(CASE WHEN turn_idx >= fk
                AND role = 'assistant' THEN nt END), 0) AS BIGINT)
             AS loss_tokens,
           CAST(SUM(CASE WHEN turn_idx >= fk THEN 1 ELSE 0 END)
                < COUNT(*) AS INT) AS truncated,
           CAST(SUM(CASE WHEN turn_idx >= fk THEN 1 ELSE 0 END) = 0 AS INT)
             AS dropped
    FROM f GROUP BY conv_id
    """,
    doc="Chat suffix-truncation plan (chat.truncation_plan, max_tokens="
    f"{_TRUNC_L}): the longest conversation suffix fitting the context "
    "budget AND opening on a user turn — the standard chat-template "
    "truncation rule (latest turns carry the label; the first kept "
    "assistant turn needs its prompt). Reports kept turn/token counts, "
    "loss_tokens (assistant tokens in-window — the rows that receive "
    "loss), truncated/dropped flags. Reverse-cumulative window + per-"
    "group scalar + groupBy all share the conv_id key: Spark plans ONE "
    "exchange and reuses it. Exact bigint token math.",
)
def ext_chat_truncation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.chat import truncation_plan

    return truncation_plan(_synth_turns_spark(spark, sf_dir), max_tokens=_TRUNC_L)


# ---------------------------------------------------------------------------
# Preference pairs: docs (2k, 2k+1) form pair k; a deterministic pseudo-
# quality q = ((doc_id % 9973) * 31) % 1000 picks the chosen side (tie →
# even side). The AUDIT entry hashes 24-codepoint text prefixes so the
# corpus's repeated phrasing yields real duplicate and conflicting pairs
# at every sf; the BIAS entry keeps full texts for honest length deltas.
# ---------------------------------------------------------------------------

_SQL_PAIRS = """
      SELECT e.pair_id, e.src AS source,
             CASE WHEN e.q >= o.q THEN e.text ELSE o.text END AS chosen_text,
             CASE WHEN e.q >= o.q THEN o.text ELSE e.text END AS rejected_text
      FROM (SELECT doc_id // 2 AS pair_id, source AS src, text,
                   ((doc_id % 9973) * 31) % 1000 AS q
            FROM documents WHERE doc_id IS NOT NULL AND doc_id % 2 = 0) e
      JOIN (SELECT doc_id // 2 AS pair_id, text,
                   ((doc_id % 9973) * 31) % 1000 AS q
            FROM documents WHERE doc_id IS NOT NULL AND doc_id % 2 = 1) o
      ON e.pair_id = o.pair_id
"""


def _synth_pairs_spark(
    spark: SparkSession, sf_dir: str, prefix: int | None = None
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    d = F.col("doc_id")
    base = docs.select(
        F.expr("doc_id div 2").alias("pair_id"),
        (d % 2).alias("side"),
        "source",
        (((d % 9973) * 31) % 1000).alias("q"),
        (
            F.substring(F.col("text"), 1, prefix) if prefix else F.col("text")
        ).alias("text"),
    )
    e = base.filter(F.col("side") == 0).select(
        "pair_id", "source", F.col("text").alias("__t0"), F.col("q").alias("__q0")
    )
    o = base.filter(F.col("side") == 1).select(
        "pair_id", F.col("text").alias("__t1"), F.col("q").alias("__q1")
    )
    return e.join(o, "pair_id").select(
        "pair_id",
        "source",
        F.when(F.col("__q0") >= F.col("__q1"), F.col("__t0"))
        .otherwise(F.col("__t1"))
        .alias("chosen_text"),
        F.when(F.col("__q0") >= F.col("__q1"), F.col("__t1"))
        .otherwise(F.col("__t0"))
        .alias("rejected_text"),
    )


_SQL_PAIRS_PFX = _SQL_PAIRS.replace("e.text", "substr(e.text, 1, 24)").replace(
    "o.text", "substr(o.text, 1, 24)"
)


@register(
    "ext_preference_pair_audit",
    f"""
    WITH p AS ({_SQL_PAIRS_PFX}),
    h AS (
      SELECT pair_id, md5(chosen_text) AS hc, md5(rejected_text) AS hr
      FROM p
      WHERE pair_id IS NOT NULL AND chosen_text IS NOT NULL
        AND rejected_text IS NOT NULL
    ),
    k AS (
      SELECT pair_id,
             least(hc, hr) || greatest(hc, hr) AS pair_key,
             CASE WHEN hc <= hr THEN 1 ELSE 0 END AS fwd,
             CASE WHEN hc = hr THEN 1 ELSE 0 END AS self
      FROM h
    ),
    g AS (
      SELECT pair_key,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(fwd) AS BIGINT) AS n_fwd,
             CAST(SUM(1 - fwd) AS BIGINT) AS n_rev,
             CAST(MIN(pair_id) AS BIGINT) AS keep_pair,
             CAST(MAX(self) AS INT) AS self_pair
      FROM k GROUP BY pair_key
    )
    SELECT pair_key, n_pairs, n_fwd, n_rev,
           CAST(n_fwd > 0 AND n_rev > 0 AS INT) AS conflict,
           keep_pair, self_pair
    FROM g WHERE n_pairs > 1 OR self_pair = 1
    """,
    doc="Preference-pair duplicate + conflict census "
    "(chat.preference_pair_audit): groups pairs on the UNORDERED "
    "(md5(chosen), md5(rejected)) key to catch verbatim repeats AND "
    "orientation conflicts (A≻B and B≻A — contradictory labels, the "
    "reward-model label noise InstructGPT-style curation removes), "
    "plus degenerate self-pairs (chosen == rejected). Pairs "
    "synthesized from adjacent documents with a deterministic pseudo-"
    "quality; 24-codepoint prefixes make duplicate content pairs "
    "plentiful at every sf. ONE groupBy on a 32-byte key, map-side "
    "combine; output bounded by duplicated/conflicted pairs.",
)
def ext_preference_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.chat import preference_pair_audit

    return preference_pair_audit(_synth_pairs_spark(spark, sf_dir, prefix=24))


@register(
    "ext_preference_length_bias",
    f"""
    WITH p AS ({_SQL_PAIRS}),
    m AS (
      SELECT source,
             len(list_filter(string_split_regex(
               COALESCE(chosen_text, ''), '\\s+'), x -> x <> '')) AS lc,
             len(list_filter(string_split_regex(
               COALESCE(rejected_text, ''), '\\s+'), x -> x <> '')) AS lr
      FROM p WHERE source IS NOT NULL
    ),
    g AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(lc) AS BIGINT) AS chosen_tokens,
             CAST(SUM(lr) AS BIGINT) AS rejected_tokens,
             CAST(SUM(CASE WHEN lc > lr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_longer,
             CAST(SUM(CASE WHEN lc = lr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tie
      FROM m GROUP BY source
    )
    SELECT source, n_pairs, chosen_tokens, rejected_tokens,
           CAST((CAST(n_longer AS HUGEINT) * 1000000) // n_pairs AS BIGINT)
             AS chosen_longer_ppm,
           CAST((CAST(n_tie AS HUGEINT) * 1000000) // n_pairs AS BIGINT)
             AS tie_ppm,
           CAST((CASE WHEN chosen_tokens - rejected_tokens < 0
                      THEN -1 ELSE 1 END)
                * ((CAST(abs(chosen_tokens - rejected_tokens) AS HUGEINT)
                    * 1000000) // n_pairs) AS BIGINT) AS mean_delta_micro
    FROM g
    """,
    doc="Per-source preference length-bias audit "
    "(chat.preference_length_bias): ppm of pairs whose chosen side is "
    "longer, tie ppm, and the mean chosen−rejected token delta in "
    "exact micro units — the Singhal et al. 2023 check that a reward "
    "model is about to learn length instead of quality. Sign-separated "
    "integer division (sign·(|Σδ|·10⁶ div n)) keeps the two engines' "
    "negative-division semantics out of play; products ride "
    "decimal(38,0)/HUGEINT (bigmag contract). One codegen projection "
    "into one map-side-combining groupBy; output |sources|.",
)
def ext_preference_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.chat import preference_length_bias

    return preference_length_bias(_synth_pairs_spark(spark, sf_dir))


@register(
    "streaming_chat_response_dedup",
    """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 29 = 0 THEN NULL
                  WHEN doc_id % 23 = 0 THEN 'system'
                  WHEN doc_id % 17 = 0 THEN 'user'
                  WHEN (doc_id % 6) % 2 = 0 THEN 'user'
                  ELSE 'assistant' END AS role,
             text
      FROM documents WHERE doc_id IS NOT NULL
    ),
    led AS (
      SELECT DISTINCT md5(text) AS h FROM t
      WHERE doc_id < 100 AND role = 'assistant' AND text IS NOT NULL
    )
    SELECT DISTINCT md5(text) AS resp_hash FROM t
    WHERE doc_id >= 100 AND role = 'assistant' AND text IS NOT NULL
      AND md5(text) NOT IN (SELECT h FROM led)
    """,
    doc="Streaming assistant-response dedup at ingestion "
    "(streaming/pipelines.response_frontier_stream — the Kappa twin of "
    "chat.response_dedup): synthetic SFT turns staged as a 4-file "
    "stream, each assistant turn's md5 emitted exactly once and never "
    "when the static seen-response ledger (turns with doc_id < 100) "
    "already covers it — stream-static LEFT ANTI join + in-stream "
    "dropDuplicates on the 16-byte hash, append-mode memory sink. The "
    "emitted set must equal the batch frontier exactly regardless of "
    "file arrival order (set semantics). Oracle derives roles and "
    "ledger membership closed-form from the turn construction.",
)
def streaming_chat_response_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.streaming.pipelines import response_frontier_stream

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    turns = docs.select(
        "doc_id", _synth_role_spark(F.col("doc_id")).alias("role"), "text"
    )
    ledger = turns.filter(F.col("doc_id") < 100).select("role", "text")
    batch = turns.filter(F.col("doc_id") >= 100).select("role", "text")
    with streams.staged(batch, 4) as stream:
        return streams.to_memory(
            response_frontier_stream(stream, ledger),
            "append",
            "streaming_chat_response_dedup",
        )


def _cluster_keep_best_oracle() -> str:
    from dbt_glue_spark.plans.extension_queries import _CLUSTERS_SQL

    return (
        "WITH RECURSIVE "
        + _CLUSTERS_SQL
        + """,
    scored AS (
      SELECT c.cluster_id, c.doc_id,
             COALESCE(d.n_chars % 1000, -1) AS q
      FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY q DESC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n,
             MAX(q) OVER (PARTITION BY cluster_id) AS bq
      FROM scored
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(doc_id AS BIGINT) AS keep_id,
           CAST(n AS BIGINT) AS n_members,
           CAST(bq AS BIGINT) AS best_score
    FROM r WHERE rn = 1
    """
    )


@register(
    "ext_cluster_keep_best",
    _cluster_keep_best_oracle(),
    doc="Quality-argmax survivor per NEAR-DUP CLUSTER "
    "(dedup.cluster_keep_best): connected components over 3-gram-"
    "Jaccard>=0.5 pairs, then keep the highest-scored member of each "
    "transitive family (ties -> lowest id; NULL score loses via -1 "
    "coalesce) — the FineWeb curation rule applied at cluster "
    "granularity, where dedup_apply's greedy pairwise keep-lowest-id "
    "can silently discard the best copy. Oracle replays the recursive-"
    "CTE transitive closure + an argmax window; the Spark side is the "
    "label-propagation loop + ONE cluster-keyed groupBy with the "
    "min(struct(-q, id)) argmax — no window, no join-back.",
)
def ext_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    scored = docs.select("doc_id", (F.col("n_chars") % 1000).alias("q"))
    return dedup.cluster_keep_best(scored, pairs, "doc_id", "q")


@register(
    "ext_chat_render",
    f"""
    WITH t AS ({_SQL_TURNS}),
    r AS (
      SELECT conv_id,
             CAST(COUNT(*) AS BIGINT) AS n_turns,
             string_agg('<|' || COALESCE(role, '') || '|>' || chr(10)
                        || COALESCE(text, '') || chr(10),
                        '' ORDER BY turn_idx) AS rend
      FROM t WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
      GROUP BY conv_id
    )
    SELECT CAST(conv_id AS BIGINT) AS conv_id, n_turns,
           md5(rend) AS render_hash,
           CAST(length(rend) AS BIGINT) AS n_chars,
           CAST(len(list_filter(string_split_regex(rend, '\\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens
    FROM r
    """,
    doc="Chat-template rendering manifest (chat.render_conversations): "
    "per conversation, turns concatenate in turn order into the "
    "<|role|>-tagged training string every SFT pipeline feeds the "
    "tokenizer; the manifest carries md5 + char/token sizes, not the "
    "string. Spark renders via array_sort(collect_list(struct)) — a "
    "pure function of the data, partitioning-independent — inside ONE "
    "map-side-combining conv-keyed groupBy; the oracle renders "
    "independently via string_agg(ORDER BY turn_idx). Exercises the "
    "cross-engine string-identity surface end-to-end (md5 of a "
    "multi-KB constructed string must agree byte-for-byte, incl. the "
    "unicode axis).",
)
def ext_chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.chat import render_conversations

    return render_conversations(_synth_turns_spark(spark, sf_dir))
