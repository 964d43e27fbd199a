"""Span, ledger, change-point and interval queries.

Same :class:`QuerySpec` contract and exact-DuckDB gates as every catalog
module (tests/test_span_interval_queries.py, ×7 data profiles).

Three of the operators:

- ``ext_exact_substring_spans`` — stride-1 Lee-et-al. ExactSubstr
  coverage (dedup.exact_substring_spans);
- ``ext_ledger_compaction`` — cross-run near-dup ledger compaction
  (dedup.compact_band_ledger), the expire-snapshots twin for the
  incremental minhash ledger;
- ``streaming_priority_sample`` — streaming twin of the batch
  Duffield–Lund–Thorup priority sampler
  (streaming/pipelines.priority_sample_stream_sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_glue_spark.extensions import dedup
from dbt_glue_spark.functions.text import fold_lower_sql
from dbt_glue_spark.plans import streams
from dbt_glue_spark.plans.catalog import register
from dbt_glue_spark.plans.extension_queries import _MINHASH_SIG_COLS, _minhash_bands
from dbt_glue_spark.sources.registry import load_table


_ESS_L = 16

@register(
    "ext_exact_substring_spans",
    rf"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    base AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks
      FROM tok WHERE len(toks) >= 1
    ),
    pos_l AS (
      SELECT doc_id, n_tokens, toks,
             unnest([i for i in
                     generate_series(1, GREATEST(len(toks) - {_ESS_L - 1}, 0))])
               AS pos
      FROM base
    ),
    seeds AS (
      SELECT doc_id, n_tokens, pos,
             MD5(array_to_string(toks[pos:pos+{_ESS_L - 1}], ' ')) AS h
      FROM pos_l
    ),
    w AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM seeds
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_seeds,
             CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_seeds
      FROM w GROUP BY doc_id
    ),
    d AS (SELECT doc_id, pos FROM w WHERE rn > 1),
    b AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {_ESS_L} THEN 0 ELSE 1 END AS brk
      FROM d
    ),
    i2 AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM b
    ),
    cov AS (
      SELECT doc_id, isl, MAX(pos) - MIN(pos) + {_ESS_L} AS c
      FROM i2 GROUP BY doc_id, isl
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
             CAST(SUM(c) AS BIGINT) AS dup_tokens
      FROM cov GROUP BY doc_id
    )
    SELECT bb.doc_id, bb.n_tokens,
           COALESCE(p.n_seeds, 0) AS n_seeds,
           COALESCE(p.n_dup_seeds, 0) AS n_dup_seeds,
           COALESCE(a.n_islands, 0) AS n_islands,
           COALESCE(a.dup_tokens, 0) AS dup_tokens,
           FLOOR(COALESCE(a.dup_tokens, 0) / CAST(bb.n_tokens AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS dup_token_ratio
    FROM base bb
    LEFT JOIN per_doc p USING (doc_id)
    LEFT JOIN agg a USING (doc_id)
    """,
    doc="Stride-1 exact-substring duplication coverage "
    "(dedup.exact_substring_spans — the full Lee et al. 2022 ExactSubstr "
    "shape, alignment-free): every 16-token window that recurs corpus-wide "
    "marks its position; per-doc equal-length-interval union (one keyed "
    "lag + running sum, no global window) yields the exact duplicated-"
    "token set a suffix array would. Complements the boundary-aligned "
    "span_dedup screen.",
)
def ext_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_substring_spans(docs, min_len=_ESS_L)


def _compaction_oracle() -> str:
    return rf"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' zq' AS text
      FROM documents WHERE doc_id % 5 = 0
    ),
    tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      FROM aug
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in generate_series(1, len(toks) - 2)]
             )) AS shingle
      FROM tok
    ),
    sig AS (
      SELECT doc_id AS id,
    {_MINHASH_SIG_COLS}
      FROM sh GROUP BY doc_id
    ){_minhash_bands(str)},
    gmap AS (
      SELECT doc_id AS id,
             CASE WHEN doc_id >= 1000000 THEN doc_id - 1000000
                  ELSE doc_id END AS leader
      FROM aug
    ),
    lkeys AS (
      SELECT b.b, b.key, b.id FROM bands b
      JOIN (SELECT DISTINCT leader FROM gmap) s ON b.id = s.leader
    ),
    kept AS (
      SELECT b.b, b.id FROM bands b
      JOIN gmap g ON g.id = b.id
      LEFT JOIN lkeys lk ON lk.b = b.b AND lk.id = g.leader
      WHERE g.leader = b.id OR lk.key IS NULL OR b.key <> lk.key
    ),
    bef AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rows_before FROM bands GROUP BY b),
    aft AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rows_after FROM kept GROUP BY b)
    SELECT bef.b AS band_idx, rows_before, rows_after,
           rows_before - rows_after AS rows_dropped
    FROM bef JOIN aft USING (b)
    """


@register(
    "ext_ledger_compaction",
    _compaction_oracle(),
    doc="Cross-run near-dup ledger compaction (dedup.compact_band_ledger "
    "— the expire-snapshots twin of the monotone minhash_lsh_incremental "
    "ledger): docs duplicated at id%5==0 with a one-token perturbation "
    "join the corpus with a known id→leader map; a non-leader band row is "
    "dropped IFF the leader carries the identical key for that band, so "
    "leader-mapped candidate recall is provably unchanged while known-dup "
    "state shrinks. The perturbation makes some band keys differ, so the "
    "keep-rule is exercised on real partially-matching signatures. "
    "Per-band rows_before/rows_after/rows_dropped.",
)
def ext_ledger_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    aug = docs.unionByName(extra)
    ledger = dedup.minhash_band_ledger(aug)
    gmap = aug.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") >= 1000000, F.col("doc_id") - 1000000)
        .otherwise(F.col("doc_id"))
        .alias("leader"),
    )
    compacted = dedup.compact_band_ledger(ledger, gmap)
    bef = ledger.groupBy("band_idx").agg(
        F.count("*").cast("bigint").alias("rows_before")
    )
    aft = compacted.groupBy("band_idx").agg(
        F.count("*").cast("bigint").alias("rows_after")
    )
    return bef.join(aft, "band_idx").select(
        "band_idx",
        "rows_before",
        "rows_after",
        (F.col("rows_before") - F.col("rows_after"))
        .cast("bigint")
        .alias("rows_dropped"),
    )


_PS_K = 256


def _priority_sample_oracle() -> str:
    # the streamed ledger must equal the ONE-SHOT batch sample exactly —
    # reuse the promoted batch query's oracle verbatim (same k/seed/space)
    from dbt_glue_spark.plans import analytics_queries  # noqa: F401
    from dbt_glue_spark.plans.catalog import _REGISTRY

    return _REGISTRY["ext_weighted_sample"].oracle


@register(
    "streaming_priority_sample",
    _priority_sample_oracle(),
    doc="Streaming twin of ext_weighted_sample "
    "(streaming/pipelines.priority_sample_stream_sink): documents staged "
    "as a 3-file stream; each micro-batch's bottom-(k+1) rows by the "
    "exact integer DLT priority set-union into a persistent (k+1)-row "
    "ledger. Bottom-k merge is associative and the priority is a "
    "deterministic function of the key, so the merge is a set operation "
    "— order-insensitive and idempotent under at-least-once redelivery — "
    "and the streamed sample equals the one-shot batch sample exactly "
    "(the oracle IS the batch query's oracle). Constant O(k) state.",
)
def streaming_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from dbt_glue_spark.extensions.sampling import (
        priority_frame,
        priority_sample_finalize,
    )
    from dbt_glue_spark.streaming.pipelines import (
        priority_sample_stream_sink,
        read_ledger_or,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    target = streams.sink_dir()
    with streams.staged(docs, 3) as stream:
        q = priority_sample_stream_sink(
            stream,
            spark,
            target,
            os.path.join(target, "ckpt"),
            "doc_id",
            "n_chars",
            k=_PS_K,
            seed="7",
        )
        streams.drain(q, "streaming_priority_sample")
    # empty-stream contract (read_ledger_or): an empty corpus commits no
    # ledger; the sample of nothing is the empty typed priority frame
    empty_ledger = priority_frame(docs.limit(0), "doc_id", "n_chars")
    return priority_sample_finalize(
        read_ledger_or(spark, target, empty_ledger), "doc_id", _PS_K
    )


@register(
    "ext_cusum_changepoints",
    """
    WITH base AS (
      SELECT event_type AS k, epoch_us(ts) AS o, event_id AS tie,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
    ),
    st AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS tot
      FROM base GROUP BY k
    ),
    y AS (
      SELECT b.k, n, o, tie, v * n - tot AS y
      FROM base b JOIN st USING (k)
    ),
    p AS (
      SELECT k, n, o, tie,
             SUM(y) OVER (PARTITION BY k ORDER BY o, tie) AS pp
      FROM y
    ),
    s AS (
      SELECT k, n, o, tie,
             pp - LEAST(0, MIN(pp) OVER (PARTITION BY k ORDER BY o, tie)) AS ss
      FROM p
    ),
    m AS (
      SELECT k, n, MAX(ss) AS cusum_num,
             SUM(CASE WHEN ss * 1 > 500 * n * 100 THEN 1 ELSE 0 END) AS n_alarms
      FROM s GROUP BY k, n
    )
    SELECT m.k AS event_type, m.n AS n,
           CAST(m.cusum_num AS BIGINT) AS cusum_num,
           floor(CAST(m.cusum_num AS BIGINT) / (m.n * 100.0) * 1e6 + 0.5) / 1e6
             AS cusum_max,
           (SELECT MIN(o) FROM s WHERE s.k = m.k AND s.ss = m.cusum_num)
             AS changepoint_at,
           CAST(m.n_alarms AS BIGINT) AS n_alarms
    FROM m
    """,
    doc="Per-event-type CUSUM drift scan (audit.cusum_changepoints): "
    "Page's one-sided statistic via the prefix-sum identity "
    "S_i = P_i - min(0, min prefix P), all-int64 numerators, two-level "
    "bucketed prefix sums/mins so no per-key global window exists; "
    "reports drift magnitude, earliest change-point position, and "
    "alarm count at h = 500 value units.",
)
def ext_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.audit import cusum_changepoints

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ord_us"),
        "event_id",
        "value",
    )
    return cusum_changepoints(
        ev, "event_type", "ord_us", "event_id", "value",
        scale=100, thr_num=500, thr_den=1,
    )


@register(
    "ext_sorted_neighborhood",
    rf"""
    WITH base AS (
      SELECT doc_id AS id, coalesce(lang, '') AS g,
             coalesce(trim(regexp_replace(regexp_replace({fold_lower_sql('text')},
                 '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '') AS s
      FROM documents
    ),
    r AS (
      SELECT id,
             row_number() OVER (ORDER BY g, s, id NULLS FIRST) AS rnk
      FROM base
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap
    FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk < 4
    """,
    doc="Sorted-neighborhood ER candidate pairs "
    "(dedup.sorted_neighborhood_pairs): documents sorted by "
    "(lang, normalized text, id), every pair within a 4-row sliding "
    "window. Global rank built WITHOUT a global window — "
    "(group, 2-char-prefix) bucket counts roll into exclusive prefix "
    "offsets on the alphabet-bounded bucket frame; pairing is a "
    "block-local self-join on floor(rank/window).",
)
def ext_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", normalize_text(F.col("text")).alias("norm")
    )
    return dedup.sorted_neighborhood_pairs(
        docs, "doc_id", "lang", "norm", window=4, prefix_len=2
    )


@register(
    "ext_interval_overlap_join",
    """
    WITH a AS (
      SELECT o_orderkey AS oid,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s
      FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_orderdate IS NOT NULL
    ),
    b AS (
      SELECT l_orderkey * 10 + l_linenumber AS lid,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
             CAST(FLOOR(l_quantity) AS BIGINT) AS q
      FROM lineitem
      WHERE l_returnflag = 'R' AND l_quantity >= 45
        AND l_shipdate IS NOT NULL
    ),
    p AS (
      SELECT greatest(a.s, b.s) AS os, least(a.s + 7, b.s + b.q) AS oe
      FROM a JOIN b ON a.s <= b.s + b.q AND b.s <= a.s + 7
    )
    SELECT CAST(floor(os / 30.0) AS BIGINT) AS window_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(oe - os + 1) AS BIGINT) AS overlap_days
    FROM p GROUP BY 1
    """,
    doc="Keyless interval-overlap join (temporal.interval_overlap_join): "
    "urgent-order 7-day windows x heavy returned-lineitem ship spans, "
    "matched via exploded epoch-day buckets so the join is a bucket "
    "EQUI-join (hash, AQE-splittable) instead of the nested-loop band "
    "scan a plain inequality join plans; each pair survives from "
    "exactly one bucket (the later start's), no distinct pass. "
    "Aggregated to 30-day windows: pair count + total overlap days.",
)
def ext_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.operators.temporal import interval_overlap_join

    epoch = F.to_date(F.lit("1970-01-01"))
    a = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.col("o_orderkey").alias("oid"),
            F.datediff(F.col("o_orderdate").cast("date"), epoch)
            .cast("bigint")
            .alias("s"),
        )
        .withColumn("e", F.col("s") + 7)
    )
    b = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 45))
        .select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("lid"),
            F.datediff(F.col("l_shipdate").cast("date"), epoch)
            .cast("bigint")
            .alias("s"),
            F.floor(F.col("l_quantity")).cast("bigint").alias("q"),
        )
        .withColumn("e", F.col("s") + F.col("q"))
    )
    pairs = interval_overlap_join(
        a, b, ("oid", "s", "e"), ("lid", "s", "e"), bucket_width=16
    )
    return pairs.groupBy(
        F.floor(F.col("overlap_start") / 30.0).cast("bigint").alias("window_id")
    ).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.col("overlap_end") - F.col("overlap_start") + 1)
        .cast("bigint")
        .alias("overlap_days"),
    )
