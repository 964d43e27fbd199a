"""Sampling, statistics, time-series, graph and set-similarity queries.

Weighted and per-group priority sampling, PMI and Zipf token statistics,
OHLC bars and gap-filled hourly series, token Gini, basket lift,
triangle counts, the Pareto frontier, the prefix-filtered Jaccard
self-join, session n-grams, the KS distance, MAD outliers and interval
islands. Each spec is proven by its exact DuckDB oracle
(``tools/check_parity.py``; direct tests in
tests/test_analytics_queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_glue_spark.extensions import (
    associations,
    graph,
    sampling,
    skyline,
    text_analysis,
    timeseries,
)
from dbt_glue_spark.extensions.sampling import _PRIORITY_SPACE
from dbt_glue_spark.extensions.sketches import _duck_hash_int
from dbt_glue_spark.plans import streams
from dbt_glue_spark.plans.catalog import register
from dbt_glue_spark.plans.extension_queries import _SH as _ext_SH
from dbt_glue_spark.sources.registry import load_table


_WS_K = 256
_WS_W = "GREATEST(COALESCE(CAST(n_chars AS BIGINT), 1), 1)"


@register(
    "ext_weighted_sample",
    f"""
    WITH pri AS (
      SELECT doc_id,
             {_WS_W} AS weight,
             (({_duck_hash_int("'7:' || CAST(doc_id AS VARCHAR)")} + 1) * 1000)
               // {_WS_W} AS priority
      FROM documents
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY priority, doc_id) AS rn FROM pri
    ),
    tau AS (
      SELECT MAX(CASE WHEN rn = {_WS_K + 1} THEN priority END) AS tq FROM ranked
    )
    SELECT doc_id, weight, priority,
           FLOOR((CASE WHEN tq IS NULL THEN CAST(weight AS DOUBLE)
                       ELSE GREATEST(CAST(weight AS DOUBLE),
                                     {float(_PRIORITY_SPACE)!r} / CAST(tq AS DOUBLE))
                  END) * 10000.0 + 0.5) / 10000.0 AS est_weight
    FROM ranked, tau
    WHERE rn <= {_WS_K}
    """,
    doc="Priority sampling (Duffield–Lund–Thorup 2007): 256-row "
    "weight-sensitive sample of documents by n_chars with the unbiased "
    "subset-sum estimator weight max(w, tau). Integer floor-division "
    "priorities (no pow/log on the oracle boundary); "
    "TakeOrderedAndProject top-k, no corpus shuffle.",
)
def ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sampling.weighted_sample(docs, "doc_id", "n_chars", k=_WS_K, seed="7")


@register(
    "ext_pmi_pairs",
    r"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+') AS toks
      FROM documents
    ),
    pos AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS tok
      FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g
    ),
    pr AS (
      SELECT least(a.tok, b.tok) AS tok_a, greatest(a.tok, b.tok) AS tok_b
      FROM pos a JOIN pos b
        ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 3
      WHERE a.tok <> b.tok
    ),
    pairs AS (
      SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM pr GROUP BY tok_a, tok_b
    ),
    marg AS (
      SELECT tok, CAST(SUM(c_ab) AS BIGINT) AS m FROM (
        SELECT tok_a AS tok, c_ab FROM pairs
        UNION ALL
        SELECT tok_b AS tok, c_ab FROM pairs
      ) GROUP BY tok
    ),
    p AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS pt FROM pairs)
    SELECT tok_a, tok_b, c_ab, ma.m AS m_a, mb.m AS m_b,
           ((CAST(c_ab AS HUGEINT) * 1000000 // ma.m) * CAST(pt AS HUGEINT)) // mb.m AS pmi_q6
    FROM pairs
    JOIN marg ma ON ma.tok = tok_a
    JOIN marg mb ON mb.tok = tok_b, p
    WHERE c_ab >= 5
    ORDER BY pmi_q6 DESC, tok_a, tok_b LIMIT 50
    """,
    doc="Collocation mining: top-50 token pairs within a 3-token window by "
    "log-free pair-space PMI ratio (exact staged int64 floor divisions). "
    "Spark side generates pairs from the token array inside one codegen'd "
    "projection — no positional self-join, one map-side-combining groupBy.",
)
def ext_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    return text_analysis.pmi_pairs(docs, "text", window=3, min_count=5, k=50)


@register(
    "ext_zipf_buckets",
    r"""
    WITH tk AS (
      SELECT unnest(regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+')) AS tok
      FROM documents
    ),
    counts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM tk GROUP BY tok
    ),
    ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank
      FROM counts
    )
    SELECT CAST(LENGTH(CAST(rank AS VARCHAR)) AS INT) AS rank_decade,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(freq) AS BIGINT) AS n_occurrences,
           CAST(MAX(freq) AS BIGINT) AS max_freq,
           CAST(MIN(freq) AS BIGINT) AS min_freq,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hapax_types
    FROM ranked GROUP BY rank_decade
    """,
    doc="Zipf corpus-shape audit: frequency spectrum by rank decade "
    "(types, mass, freq range, hapax count per decade) — all-integer, "
    "log-free. Spark's only global window runs over distinct frequency "
    "values, never the vocabulary.",
)
def ext_zipf_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    return text_analysis.zipf_rank_buckets(docs, "text")


_OHLC_R = """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bar_hour,
             value AS v, ts, event_id
      FROM events
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, bar_hour
                                ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY event_type, bar_hour
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM b
    )
"""


@register(
    "ext_ohlc_hourly",
    _OHLC_R
    + """
    SELECT event_type, bar_hour,
           MAX(CASE WHEN ra = 1 THEN v END) AS open,
           MAX(v) AS high,
           MIN(v) AS low,
           MAX(CASE WHEN rd = 1 THEN v END) AS close,
           MAX(v) - MIN(v) AS hl_range,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r GROUP BY event_type, bar_hour
    """,
    doc="Per-series hourly OHLC bars over events.value: open/close by the "
    "(ts, event_id) total order, high/low/range/count. Sum-free (order "
    "statistics only) so parity is float-exact; Spark side is ONE "
    "map-side-combining groupBy via min_by/max_by — no window, no sort.",
)
def ext_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return timeseries.ohlc_bars(ev, "ts", "event_type", "value", "event_id")


@register(
    "ext_gap_fill_hourly",
    _OHLC_R
    + """,
    c AS (
      SELECT event_type, bar_hour, MAX(CASE WHEN rd = 1 THEN v END) AS close
      FROM r GROUP BY event_type, bar_hour
    ),
    bounds AS (
      SELECT GREATEST(date_trunc('hour', min(ts)),
                      date_trunc('hour', max(ts)) - INTERVAL 999 HOUR) AS mn,
             date_trunc('hour', max(ts)) AS mx
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bar_hour
      FROM bounds
    ),
    grid AS (
      SELECT event_type, bar_hour
      FROM (SELECT DISTINCT event_type FROM events), spine
    )
    SELECT g.event_type, g.bar_hour, c.close,
           last_value(c.close IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.bar_hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
           CAST(c.close IS NULL AS INT) AS is_gap
    FROM grid g
    LEFT JOIN c ON c.event_type = g.event_type AND c.bar_hour = g.bar_hour
    """,
    doc="Dense hourly resample with forward fill over the trailing 1000 "
    "hours: every (event_type, hour) cell carries the last in-window "
    "close across gap hours, with an is_gap marker. Carried values are "
    "copied bits (no arithmetic); the fill window is partitioned per "
    "series, the spine is a 1-row-bounds sequence — no global window. "
    "The trailing bound keeps outlier timestamps from densifying "
    "centuries (pathological-ts axis).",
)
def ext_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return timeseries.gap_fill_hourly(
        ev, "ts", "event_type", "value", "event_id", trailing_hours=1000
    )


@register(
    "ext_token_gini",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(translate(lower(text), 'ς̇', 'σ'), '[a-z]+')) AS tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, tok
    ),
    pd AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(c * c) AS BIGINT) AS ss
      FROM c GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(pd.n_tokens, 0) AS n_tokens,
           COALESCE(pd.n_types, 0) AS n_types,
           CAST(1000000 - (ss * 1000000) // (pd.n_tokens * pd.n_tokens)
                AS BIGINT) AS gini_q6
    FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
    """,
    doc="Per-document Gini-Simpson token diversity 1 - sum(p_i^2), "
    "quantized to one exact int64 floor division (log-free entropy "
    "cousin; catches long-period repetition loops). Two counting "
    "shuffles, token-free docs kept with NULL score.",
)
def ext_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text_analysis.token_gini(docs, "doc_id", "text")


_BASKET_D = """
    WITH d AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem
    )
"""


@register(
    "ext_basket_lift",
    _BASKET_D
    + """,
    pairs AS (
      SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT) AS c_ab
      FROM d a JOIN d b ON a.o = b.o AND a.i < b.i
      GROUP BY 1, 2
    ),
    m AS (SELECT i, CAST(count(*) AS BIGINT) AS m FROM d GROUP BY i),
    n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets FROM d)
    SELECT item_a, item_b, c_ab, ma.m AS m_a, mb.m AS m_b, n.n_baskets,
           ((CAST(c_ab AS HUGEINT) * 1000000 // ma.m) * CAST(n.n_baskets AS HUGEINT)) // mb.m AS lift_q6
    FROM pairs
    JOIN m ma ON ma.i = item_a
    JOIN m mb ON mb.i = item_b, n
    WHERE c_ab >= 2
    ORDER BY lift_q6 DESC, item_a, item_b LIMIT 100
    """,
    doc="Market-basket association: top-100 part pairs by quantized lift "
    "c_ab*N/(m_a*m_b) (staged int64 floor divisions, log/float-free). "
    "Spark generates pairs basket-bounded from per-order sorted item "
    "arrays — never a corpus self-join; the oracle's self-join is the "
    "independent formulation.",
)
def ext_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return associations.basket_lift_pairs(li, "l_orderkey", "l_partkey", 2, 100)


@register(
    "ext_triangle_parts",
    _BASKET_D
    + """,
    e AS (
      SELECT a.i AS u, b.i AS v
      FROM d a JOIN d b ON a.o = b.o AND a.i < b.i
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    t AS (
      SELECT ab.u AS a, ab.v AS b, bc.v AS c
      FROM e ab
      JOIN e bc ON ab.v = bc.u
      JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
      SELECT a AS node FROM t
      UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t
    ) GROUP BY node
    ORDER BY n_triangles DESC, node LIMIT 20
    """,
    doc="Degree-oriented triangle counting (Suri-Vassilvitskii ordering) "
    "on the co-purchase graph (parts sharing >=2 orders): top-20 parts by "
    "triangle participation. Orientation bounds wedge fan-out by "
    "O(sqrt(E)) per node; the oracle's naive a<b<c triple join is the "
    "independent small-scale formulation.",
)
def ext_triangle_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = associations.copurchase_edges(li, "l_orderkey", "l_partkey", 2)
    return graph.triangle_counts(edges, k=20)


@register(
    "ext_pareto_orders",
    r"""
    WITH xg AS (
      SELECT o_totalprice AS x, max(o_orderdate) AS ymax
      FROM orders GROUP BY o_totalprice
    ),
    s AS (
      SELECT x, ymax,
             max(ymax) OVER (ORDER BY x DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
      FROM xg
    ),
    f AS (SELECT x, ymax FROM s WHERE prev IS NULL OR prev < ymax)
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
    FROM orders o JOIN f ON o.o_totalprice = f.x AND o.o_orderdate = f.ymax
    ORDER BY o_totalprice DESC, o_orderkey
    """,
    doc="2-D Pareto frontier of orders (maximize totalprice AND recency): "
    "rows no other order beats on both dimensions. Spark distributes the "
    "prefix-max scan via 64 equi-width x-buckets (the only global window "
    "runs over the 64-row bucket frame); pure comparisons, float-exact.",
)
def ext_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        skyline.pareto_frontier_2d(orders, "o_totalprice", "o_orderdate")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


@register(
    "ext_prefix_jaccard_join",
    "WITH "
    + _ext_SH
    + """,
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           FLOOR(CAST(n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_common) * 1000000 + 0.5) / 1000000
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common * 2 >= (sa.n_sh + sb.n_sh - n_common)
    """,
    doc="EXACT all-pairs 3-gram Jaccard >= 1/2 via prefix filtering "
    "(SSJoin/PPJoin family): candidates come from rare-first shingle "
    "PREFIXES only (lossless by the prefix-filter lemma), verification is "
    "candidate-bounded, the threshold is the cross-multiplied integer "
    "c*q >= p*(n_a+n_b-c). The oracle is the naive full inverted-index "
    "join — prefix filtering must reproduce it exactly.",
)
def ext_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import dedup

    docs = load_table(spark, sf_dir, "documents")
    return dedup.prefix_jaccard_pairs(docs, "text", "doc_id", 3, (1, 2))


@register(
    "ext_session_trigrams",
    r"""
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
    ),
    seq AS (
      SELECT user_id, list(event_type ORDER BY ts, event_id) AS s
      FROM ev GROUP BY user_id
    ),
    grams AS (
      SELECT user_id, s[i] || ' ' || s[i+1] || ' ' || s[i+2] AS ngram
      FROM seq, LATERAL (SELECT unnest(generate_series(1, len(s) - 2)) AS i) g
    )
    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
    FROM grams GROUP BY ngram
    ORDER BY n_occurrences DESC, ngram LIMIT 25
    """,
    doc="User-journey mining: top-25 event-type trigrams over each user's "
    "time-ordered stream. Spark orders INSIDE the row via "
    "sort_array(collect_list(struct)) — no window, no global sort; "
    "n-grams from a codegen'd transform, one map-side-combining groupBy.",
)
def ext_session_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return associations.sequence_ngrams(
        ev, "user_id", ["ts", "event_id"], "event_type", n=3, k=25
    )


@register(
    "streaming_ohlc",
    _OHLC_R
    + """
    SELECT event_type, bar_hour,
           MAX(CASE WHEN ra = 1 THEN v END) AS open,
           MAX(v) AS high,
           MIN(v) AS low,
           MAX(CASE WHEN rd = 1 THEN v END) AS close,
           MAX(v) - MIN(v) AS hl_range,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r GROUP BY event_type, bar_hour
    """,
    doc="Streaming twin of ext_ohlc_hourly: events staged to a file "
    "stream, watermarked tumbling-window min_by/max_by aggregation, "
    "complete-mode memory sink — the final state must equal the batch "
    "OHLC oracle exactly (Kappa equivalence; sum-free so float-exact).",
)
def streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.streaming.pipelines import ohlc_stream

    events = load_table(spark, sf_dir, "events")
    # 2 staged files → 2 micro-batches; state = |series × open windows|
    # partials, tiny (streams.STATE_PARTITIONS)
    with streams.staged(events, 2) as stream:
        out = streams.to_memory(ohlc_stream(stream), "complete", "streaming_ohlc")
    return out.select(
        "event_type", "bar_hour", "open", "high", "low", "close",
        "hl_range", "n_events",
    )


_WSG_K = 64


@register(
    "ext_weighted_sample_by_source",
    f"""
    WITH pri AS (
      SELECT source, doc_id,
             {_WS_W} AS weight,
             (({_duck_hash_int("'7:' || CAST(doc_id AS VARCHAR)")} + 1) * 1000)
               // {_WS_W} AS priority
      FROM documents
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY priority, doc_id) AS rn
      FROM pri
    ),
    tau AS (
      SELECT source, MAX(CASE WHEN rn = {_WSG_K + 1} THEN priority END) AS tq
      FROM ranked GROUP BY source
    )
    SELECT r.source, r.doc_id, r.weight, r.priority,
           FLOOR((CASE WHEN t.tq IS NULL THEN CAST(r.weight AS DOUBLE)
                       ELSE GREATEST(CAST(r.weight AS DOUBLE),
                                     {float(_PRIORITY_SPACE)!r} / CAST(t.tq AS DOUBLE))
                  END) * 10000.0 + 0.5) / 10000.0 AS est_weight
    FROM ranked r JOIN tau t ON r.source IS NOT DISTINCT FROM t.source
    WHERE r.rn <= {_WSG_K}
    """,
    doc="Stratified priority sampling: an independent 64-row "
    "Duffield-Lund-Thorup sample per source with per-group tau and "
    "unbiased estimator weights. Spark side is one rank window "
    "PARTITIONED BY GROUP (parallel across strata, nothing broadcast); "
    "the NULL-source group is a real stratum (NULL-safe oracle join).",
)
def ext_weighted_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return sampling.weighted_sample_by_group(
        docs, "source", "doc_id", "n_chars", k=_WSG_K, seed="7"
    )


@register(
    "ext_ks_distance",
    r"""
    WITH v AS (
      SELECT n_chars AS val,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a,
             CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS b
      FROM documents
      WHERE n_chars IS NOT NULL AND doc_id % 2 IN (0, 1)
    ),
    pv AS (
      SELECT val, CAST(SUM(a) AS BIGINT) AS ca, CAST(SUM(b) AS BIGINT) AS cb
      FROM v GROUP BY val
    ),
    cum AS (
      SELECT SUM(ca) OVER (ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cA,
             SUM(cb) OVER (ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cB
      FROM pv
    ),
    n AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
          FROM pv)
    SELECT n_a, n_b,
           CAST(MAX(ABS(cA * n_b - cB * n_a)) AS BIGINT) AS ks_num,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             FLOOR(CAST(MAX(ABS(cA * n_b - cB * n_a)) AS DOUBLE)
                   / (n_a * n_b) * 1000000 + 0.5) / 1000000
           END AS ks
    FROM cum, n GROUP BY n_a, n_b
    """,
    doc="Exact two-sample Kolmogorov-Smirnov distance between even- and "
    "odd-doc_id n_chars distributions: integer supremum numerator "
    "max|cumA*n_b - cumB*n_a|, one rounded IEEE division. Spark "
    "distributes the CDF prefix sums over 64 value buckets (no global "
    "window on the distinct-value frame); the oracle's plain cumulative "
    "window is the independent small-scale formulation.",
)
def ext_ks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import ks_distance

    docs = load_table(spark, sf_dir, "documents")
    return ks_distance(
        docs,
        "n_chars",
        F.col("doc_id") % 2 == 0,
        F.col("doc_id") % 2 == 1,
    )


@register(
    "ext_mad_outliers",
    r"""
    WITH med AS (
      SELECT o_orderpriority,
             quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS med,
             CAST(COUNT(o_totalprice) AS BIGINT) AS n
      FROM orders GROUP BY o_orderpriority
    ),
    dev AS (
      SELECT o.o_orderpriority, m.med, m.n,
             ABS(CAST(o.o_totalprice AS DOUBLE) - m.med) AS d
      FROM orders o JOIN med m USING (o_orderpriority)
    ),
    mad AS (
      SELECT o_orderpriority, med, n, quantile_cont(d, 0.5) AS mad
      FROM dev GROUP BY o_orderpriority, med, n
    ),
    fl AS (
      SELECT d.o_orderpriority,
             CAST(SUM(CASE WHEN d.d > 3.0 * 1.4826 * m.mad
                           THEN 1 ELSE 0 END) AS BIGINT) AS outs
      FROM dev d JOIN mad m USING (o_orderpriority) GROUP BY d.o_orderpriority
    )
    SELECT m.o_orderpriority, m.n,
           FLOOR(m.med * 10000 + 0.5) / 10000 AS median,
           FLOOR(m.mad * 10000 + 0.5) / 10000 AS mad,
           CASE WHEN m.mad > 0 THEN fl.outs END AS n_outliers
    FROM mad m JOIN fl USING (o_orderpriority)
    """,
    doc="Robust per-priority outlier audit on order totals: exact median "
    "and median-absolute-deviation (Spark percentile() = DuckDB "
    "quantile_cont, the repo's exact-interpolation pair) with the count "
    "beyond 3 robust sigmas (MAD*1.4826). Zero-MAD groups report NULL "
    "rather than flagging everything; rows with a NULL group key drop "
    "out via equality-join semantics in both engines.",
)
def ext_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import mad_outliers

    orders = load_table(spark, sf_dir, "orders")
    return mad_outliers(orders, "o_orderpriority", "o_totalprice", 3.0)


@register(
    "ext_interval_islands",
    r"""
    WITH iv AS (
      SELECT o.o_custkey AS k, o.o_orderdate AS s,
             GREATEST(o.o_orderdate, MAX(l.l_shipdate)) AS e
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey IS NOT NULL AND o.o_orderdate IS NOT NULL
      GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate
    ),
    op AS (
      SELECT k, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY k ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR s > MAX(e) OVER (PARTITION BY k ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS nw
      FROM iv
    ),
    isl AS (
      SELECT k, s, e,
             SUM(nw) OVER (PARTITION BY k ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM op
    ),
    g AS (
      SELECT k, island, MIN(s) AS island_start, MAX(e) AS island_end,
             CAST(COUNT(*) AS BIGINT) AS n_intervals
      FROM isl GROUP BY k, island
    )
    SELECT k AS o_custkey,
           CAST(SUM(n_intervals) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(datediff('day', island_start, island_end) + 1) AS BIGINT)
             AS covered_days
    FROM g GROUP BY k
    """,
    doc="Gaps-and-islands interval union: each order spans "
    "[orderdate, last shipdate]; overlapping spans per customer merge "
    "into maximal busy islands (prefix-max open detection, windows "
    "partitioned per key). Output: per-customer order count, island "
    "count, and covered calendar days — pure comparisons, engine-exact.",
)
def ext_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.operators.temporal import interval_islands

    orders = load_table(spark, sf_dir, "orders")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("__ship"))
    )
    iv = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            F.col("o_orderdate").alias("__s"),
            F.greatest("o_orderdate", "__ship").alias("__e"),
        )
    )
    islands = interval_islands(iv, "o_custkey", "__s", "__e")
    return islands.groupBy("o_custkey").agg(
        F.sum("n_intervals").cast("bigint").alias("n_orders"),
        F.count("*").cast("bigint").alias("n_islands"),
        F.sum(F.datediff("island_end", "island_start") + 1)
        .cast("bigint")
        .alias("covered_days"),
    )
