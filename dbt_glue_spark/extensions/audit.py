"""Corpus auditing operators: snapshot diff for incremental pipelines.

A training-data pipeline re-crawls and re-curates continuously; the audit
question "what changed between snapshot A and snapshot B" (how many docs
added / removed / edited, and where) gates whether a retrain is warranted
and feeds dataset documentation (datasheets/data cards).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def corpus_diff(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    content_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Row-level diff of two corpus snapshots by content hash.

    Returns one row per doc id present in either snapshot with
    ``status ∈ {added, removed, changed, unchanged}`` — added/removed by
    id presence, changed/unchanged by md5 over ``content_cols``.

    100 TB shape: each side reduces to (id, 16-byte md5) BEFORE the full
    outer join, so the shuffle carries hashes, never documents — the
    exact-dedup discipline applied to snapshot comparison. Cost = two
    scans + one hash-keyed join; with both snapshots bucketed by id the
    exchange disappears entirely.
    """
    h = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in content_cols]))
    ha = a.select(F.col(id_col), h.alias("__ha"))
    hb = b.select(F.col(id_col), h.alias("__hb"))
    joined = ha.join(hb, id_col, "full_outer")
    status = (
        F.when(F.col("__ha").isNull(), F.lit("added"))
        .when(F.col("__hb").isNull(), F.lit("removed"))
        .when(F.col("__ha") == F.col("__hb"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(F.col(id_col), status.alias("status"))


def data_card(
    df: DataFrame,
    by: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source corpus datasheet row (Datasheets for Datasets / data-card
    reporting): for each ``by`` group — document count, language count and
    majority language, token totals and mean doc length, and the
    exact-duplicate rate (docs sharing a normalized-text md5 WITHIN the
    group). This is the summary table a training-data release publishes
    and the regression surface an ingest pipeline monitors per crawl.

    100 TB shape: one tokenize pass (projection barrier, codegen); the
    dup-rate aggregate shuffles (group, 16-byte md5) pairs; every other
    aggregate is a narrow partial-agg groupBy on the group key. The
    majority language is one window over the ≤ groups×langs count table —
    trivially small at any corpus size.
    """
    from pyspark.sql import Window

    from dbt_glue_spark.functions.scalars import half_up_round
    from dbt_glue_spark.functions.text import normalize_text, tokenize_once

    staged = tokenize_once(
        df,
        text_col,
        [
            F.col(id_col),
            F.col(by),
            F.col(lang_col),
            F.md5(normalize_text(F.col(text_col))).alias("__h"),
        ],
    )
    per_doc = staged.select(
        F.col(by), F.col(lang_col), "__h", F.size("toks").alias("n_toks")
    )
    base = per_doc.groupBy(by).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct(lang_col).cast("bigint").alias("n_langs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        half_up_round(F.sum("n_toks") / F.count("*"), 2).alias("avg_doc_tokens"),
    )
    dup = (
        per_doc.groupBy(by, "__h")
        .agg(F.count("*").alias("c"))
        .groupBy(by)
        .agg(
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs")
        )
    )
    # NULL lang is "unknown", not a language: it is excluded from the
    # majority vote (Spark's NULLS-FIRST asc tie-break would otherwise
    # crown NULL while the SQL twin's NULLS-LAST crowns a real language —
    # a silent cross-engine divergence). A group with only NULL langs
    # keeps a NULL top_lang via the left join.
    w = Window.partitionBy(by).orderBy(F.desc("lc"), F.asc(lang_col))
    top_lang = (
        per_doc.filter(F.col(lang_col).isNotNull())
        .groupBy(by, lang_col)
        .agg(F.count("*").alias("lc"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col(by), F.col(lang_col).alias("top_lang"))
    )
    return (
        base.join(dup, by)
        .join(top_lang, by, "left")
        .select(
            by,
            "n_docs",
            "n_langs",
            "top_lang",
            "total_tokens",
            "avg_doc_tokens",
            "n_dup_docs",
            half_up_round(F.col("n_dup_docs") / F.col("n_docs"), 6).alias(
                "dup_fraction"
            ),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Cross-source n-gram overlap matrix (What's-In-My-Big-Data corpus
    comparison): for every pair of ``by`` groups, the number of distinct
    word n-grams they share and the Jaccard overlap of their shingle
    sets. High overlap between two "independent" sources means the same
    underlying content was crawled twice — double-counted in mixture
    weights and a decontamination hazard if one source feeds evals.

    100 TB shape: shingles reduce to DISTINCT (group, 16-byte md5) pairs
    BEFORE the self-join, so each shingle contributes at most |groups|
    rows regardless of corpus size and the join fan-out is bounded by
    |groups|² per hash — never docs². Shuffles carry hashes, never
    shingle text (plan-gated). Output is ≤ |groups|² rows.
    """
    from dbt_glue_spark.extensions.dedup import _persist
    from dbt_glue_spark.functions.scalars import jaccard
    from dbt_glue_spark.functions.text import shingle_postings

    src_sh = _persist(shingle_postings(df, text_col, [F.col(by)], n).distinct())
    sizes = src_sh.groupBy(by).agg(F.count("*").alias("n_sh"))
    a = src_sh.alias("a")
    b = src_sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col(f"a.{by}") < F.col(f"b.{by}")))
        .groupBy(
            F.col(f"a.{by}").alias("source_a"), F.col(f"b.{by}").alias("source_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(sizes).withColumnRenamed(by, "source_a").withColumnRenamed(
                "n_sh", "sh_a"
            ),
            "source_a",
        )
        .join(
            F.broadcast(sizes).withColumnRenamed(by, "source_b").withColumnRenamed(
                "n_sh", "sh_b"
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            jaccard("n_shared", "sh_a", "sh_b").alias("jaccard"),
        )
    )


def distribution_drift(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    bucket_width: int = 64,
    n_buckets: int = 32,
) -> DataFrame:
    """Histogram drift between two corpus snapshots over a numeric column:
    per fixed-width bucket — counts on each side, proportions, the
    total-variation term |p_a − p_b| and the chi-square term
    (c_a − c_b)²/(c_a + c_b). The retrain-trigger monitor of an ingest
    pipeline: thresholding Σ terms is the PSI/KS decision without either
    statistic's engine-divergent logarithms.

    Determinism: buckets are exact integer floors capped at the last
    bucket; proportions and terms are single IEEE divisions of exact
    bigint counts — no distributed float accumulation anywhere, so the
    DuckDB oracle replays every row bit-for-bit.

    100 TB shape: each side collapses to ≤ n_buckets rows via map-side
    partial aggregation before the join; the two 1-row totals broadcast.
    Nothing scales with corpus size after the first scan.
    """
    return drift_from_histograms(
        value_histogram(a, value_col, bucket_width, n_buckets),
        value_histogram(b, value_col, bucket_width, n_buckets),
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    bucket_width: int,
    n_buckets: int = 32,
    by: Sequence[str] = (),
) -> DataFrame:
    """Fixed-width bucket counts of a numeric column: (*by, bucket, cnt),
    the mergeable (cell-wise +) summary drift comparisons run on — one
    histogram per ``by`` key (source, language, shard), or one global
    histogram for the default ``by=()``. Collapses to ≤ keys×n_buckets
    rows via map-side partial aggregation.

    NULL contract: NULL values are EXCLUDED before bucketing (r8 ADVICE:
    ``least()`` ignores NULLs in both engines, so a NULL value used to
    land silently in the TOP bucket — a NULL-rate change then
    masqueraded as tail drift in every consumer), and so are rows with
    a NULL ``by`` key (NULL never matches itself in the keyed joins
    downstream). NULL-rate monitoring is `profile.profile_columns`' job
    (ext_column_profile); the histogram measures the distribution of the
    values that exist."""
    bucket = F.least(
        F.floor(F.col(value_col) / F.lit(bucket_width)),
        F.lit(n_buckets - 1),
    ).cast("int")
    keep = F.col(value_col).isNotNull()
    for c in by:
        keep = F.col(c).isNotNull() & keep
    return (
        df.filter(keep)
        .select(*by, bucket.alias("bucket"))
        .groupBy(*by, "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def _joined_histograms(
    ha: DataFrame, hb: DataFrame, by: Sequence[str] = ()
) -> DataFrame:
    """(*by, bucket, ca, cb, n_a, n_b) from two (*by, bucket, cnt)
    histograms: the (key, bucket) full-outer join with a missing cell
    counted 0, plus each side's per-key total — NULL where the key has
    no rows on that side (the empty-side contract of every consumer).
    Totals are ≤ |keys|-row aggregates, broadcast; ``by=()`` makes them
    one global row."""
    by = list(by)

    def side(h: DataFrame, cnt: str) -> DataFrame:
        return h.select(*by, "bucket", F.col("cnt").alias(cnt))

    def totals(h: DataFrame, n: str) -> DataFrame:
        return h.groupBy(*by).agg(F.sum("cnt").cast("bigint").alias(n))

    return (
        side(ha, "ca")
        .join(side(hb, "cb"), [*by, "bucket"], "full_outer")
        .select(
            *by,
            "bucket",
            F.coalesce("ca", F.lit(0)).cast("bigint").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("bigint").alias("cb"),
        )
        .join(F.broadcast(totals(ha, "n_a")), by or None, "left")
        .join(F.broadcast(totals(hb, "n_b")), by or None, "left")
    )


def drift_from_histograms(ha: DataFrame, hb: DataFrame) -> DataFrame:
    """Drift rows from two (bucket, cnt) histograms (see
    :func:`distribution_drift` for the semantics and scale notes).
    Separated so a streamed histogram ledger can be compared against a
    batch reference with the identical arithmetic."""
    from dbt_glue_spark.functions.scalars import half_up_round

    pa = F.col("ca").cast("double") / F.col("n_a").cast("double")
    pb = F.col("cb").cast("double") / F.col("n_b").cast("double")
    chi = ((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))).cast(
        "double"
    ) / (F.col("ca") + F.col("cb")).cast("double")
    return _joined_histograms(ha, hb).select(
        "bucket",
        F.col("ca").alias("count_a"),
        F.col("cb").alias("count_b"),
        half_up_round(pa, 8).alias("prop_a"),
        half_up_round(pb, 8).alias("prop_b"),
        half_up_round(F.abs(pa - pb), 8).alias("abs_prop_diff"),
        half_up_round(chi, 6).alias("chi2_term"),
    )


def ks_distance(
    df: DataFrame,
    value_col: str,
    a_cond,
    b_cond,
    n_buckets: int = 64,
) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov distance between the
    ``value_col`` distributions of two row populations (boolean column
    conditions ``a_cond`` / ``b_cond``): the classic drift test,
    complementing :func:`distribution_drift`'s histogram view with the
    statistic itself. D = max over sample values of |F_A(v) − F_B(v)|.

    Exactness: the supremum is computed on INTEGER numerators —
    D_num = max |cumA·n_b − cumB·n_a| with D = D_num/(n_a·n_b) — so the
    max is engine-exact; the single reported division is one IEEE op,
    half-up 6 dp (the jaccard discipline). Overflow bound:
    cumA·n_b ≤ n_a·n_b < 2⁶³ ⇔ populations up to ~3·10⁹ rows each.

    100 TB shape: the empirical CDFs are prefix sums over DISTINCT
    VALUES, distributed via the skyline scan's shared scaffolding
    (skyline.equi_width_bucket) — equi-width value buckets from a 1-row
    stats broadcast (min/max/totals in ONE aggregate, so the per-value
    frame is aggregated once, and the frame itself is persisted for its
    two consumers), per-bucket subtotals (an ``n_buckets``-row frame
    hosting the only cross-bucket window), then within-bucket cumulative
    windows PARTITIONED BY BUCKET. No global window ever touches the
    distinct-value frame, so a high-cardinality double column cannot
    funnel into one partition.

    Output: one row — n_a, n_b, ks_num (bigint), ks (double) — for any
    populated input; an input with zero qualifying rows returns an
    EMPTY frame (there are no populations to compare), matching the
    empty-input convention of the pair operators.
    """
    from dbt_glue_spark.extensions.skyline import check_numeric, equi_width_bucket
    from dbt_glue_spark.functions.scalars import half_up_round

    check_numeric(df, value_col, "ks_distance")
    v = df.select(
        F.col(value_col).alias("__v"),
        F.when(a_cond, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("__a"),
        F.when(b_cond, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("__b"),
    ).filter(
        F.col("__v").isNotNull() & ((F.col("__a") == 1) | (F.col("__b") == 1))
    )
    # NOT persisted (r12 A/B: 0.86 s vs 1.40 s cached): both consumers
    # (stats scalar, bucketing) share the identical groupBy exchange,
    # which AQE stage reuse executes once
    per_v = v.groupBy("__v").agg(
        F.sum("__a").cast("bigint").alias("__ca"),
        F.sum("__b").cast("bigint").alias("__cb"),
    )
    # bucket bounds AND population totals in one 1-row broadcast — the
    # per-value frame is scanned once for all scalars
    stats = per_v.agg(
        F.min("__v").alias("__mn"),
        F.max("__v").alias("__mx"),
        F.sum("__ca").cast("bigint").alias("n_a"),
        F.sum("__cb").cast("bigint").alias("n_b"),
    )
    bk = equi_width_bucket(F.col("__v"), F.col("__mn"), F.col("__mx"), n_buckets)
    bucketed = per_v.crossJoin(F.broadcast(stats)).select(
        "__v", "__ca", "__cb", "n_a", "n_b", bk.alias("__bk")
    )
    wb = Window.orderBy("__bk").rowsBetween(Window.unboundedPreceding, -1)
    seeds = (
        bucketed.groupBy("__bk")
        .agg(F.sum("__ca").alias("__sa"), F.sum("__cb").alias("__sb"))
        .select(
            "__bk",
            F.coalesce(F.sum("__sa").over(wb), F.lit(0)).alias("__seed_a"),
            F.coalesce(F.sum("__sb").over(wb), F.lit(0)).alias("__seed_b"),
        )
    )
    wg = (
        Window.partitionBy("__bk")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bucketed.join(F.broadcast(seeds), "__bk").select(
        "n_a",
        "n_b",
        (F.col("__seed_a") + F.sum("__ca").over(wg)).alias("__cA"),
        (F.col("__seed_b") + F.sum("__cb").over(wg)).alias("__cB"),
    )
    return (
        cum.groupBy("n_a", "n_b")
        .agg(
            F.max(
                F.abs(F.col("__cA") * F.col("n_b") - F.col("__cB") * F.col("n_a"))
            )
            .cast("bigint")
            .alias("ks_num")
        )
        .select(
            "n_a",
            "n_b",
            "ks_num",
            # one population empty → D undefined (NULL), not a zero-div
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                half_up_round(
                    F.col("ks_num") / (F.col("n_a") * F.col("n_b")), 6
                ),
            ).alias("ks"),
        )
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k_sigma: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier audit via the median absolute deviation:
    median, MAD, and the count of rows beyond ``k_sigma`` robust sigmas
    (MAD·1.4826, the normal-consistency constant) — the outlier screen
    that, unlike z-scores, a few extreme rows cannot mask (the anomaly
    complement of anomaly_zscore's mean/stddev view).

    Exactness: both medians use Spark ``percentile()`` ≡ DuckDB
    ``quantile_cont`` (the repo's established exact-interpolation pair);
    |x − med| and the k·1.4826·MAD threshold are single IEEE ops. A
    zero-MAD group (≥ half the rows identical) reports n_outliers NULL —
    the statistic is undefined there, not "everything is an outlier".

    100 TB shape: two grouped exact percentiles (per-group sorts — the
    same documented contract as order_price_quantiles: prefer
    approx_percentile at extreme scale unless exactness is required) and
    one group-keyed join; no window, nothing broadcast but the plan's
    own AQE choices.

    Output per group: n (bigint, non-NULL values only — the population
    the statistics cover), median, mad (double, 4 dp), n_outliers
    (bigint, NULL when MAD = 0).
    """
    from dbt_glue_spark.extensions.dedup import _persist
    from dbt_glue_spark.functions.scalars import half_up_round

    if k_sigma <= 0:
        raise ValueError(f"k_sigma must be > 0: {k_sigma}")
    v = F.col(value_col).cast("double")
    # n counts non-NULL values only — the exact population the median/
    # MAD/outlier statistics describe (count(*) would overstate it on
    # NULL-bearing columns; percentile() and the deviation comparisons
    # all skip NULLs)
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile(cast(`{value_col}` as double), 0.5)").alias("__med"),
        F.count(v).cast("bigint").alias("n"),
    )
    # persisted: the deviation frame (a full scan joined to the exact
    # grouped percentile) feeds both the MAD percentile and the outlier
    # count — unpersisted, the expensive per-group sort would run twice
    dev = _persist(
        df.join(med, group_col).select(
            group_col, "__med", "n", F.abs(v - F.col("__med")).alias("__d")
        )
    )
    mad = dev.groupBy(group_col, "__med", "n").agg(
        F.expr("percentile(__d, 0.5)").alias("__mad")
    )
    flagged = (
        dev.join(mad.select(group_col, "__mad"), group_col)
        .groupBy(group_col)
        .agg(
            F.sum(
                F.when(
                    F.col("__d") > F.lit(k_sigma) * F.lit(1.4826) * F.col("__mad"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("__out")
        )
    )
    return mad.join(flagged, group_col).select(
        group_col,
        "n",
        half_up_round(F.col("__med"), 4).alias("median"),
        half_up_round(F.col("__mad"), 4).alias("mad"),
        F.when(F.col("__mad") > 0, F.col("__out")).cast("bigint").alias("n_outliers"),
    )


def cusum_changepoints(
    df: DataFrame,
    key_col: str,
    order_col,
    tie_col: str,
    value_col: str,
    scale: int = 100,
    thr_num: int = 500,
    thr_den: int = 1,
    n_buckets: int = 64,
) -> DataFrame:
    """Per-key one-sided CUSUM drift scan: for each ``key_col`` series
    (ordered by ``order_col`` with ``tie_col`` as the unique tie-break),
    the classic Page statistic S_i = max(0, S_{i-1} + (x_i − mean_k)),
    its maximum (the drift magnitude), the EARLIEST position attaining
    it (the change-point estimate), and how many positions exceed the
    alarm threshold h = thr_num/thr_den value units. Complements
    :func:`ks_distance` (is the distribution different?) with WHERE the
    level shift happens — the monitoring question an ingest pipeline
    asks per source/feed.

    Exactness: everything up to the single reported division is int64 —
    values half-up scaled by ``scale``; deviations staged as
    y_i = v_i·n_k − total_k (mean-centering without a fractional mean);
    the recursion eliminated by the prefix-sum identity
    S_i = P_i − min(0, min_{j≤i} P_j) with P the running sum of y.
    Alarms compare S_i·thr_den > thr_num·n_k·scale — exact rationals.
    Overflow bound: 2·v_max·scale·n_k² < 2⁶³ (v_max ≈ 10³, scale 100 →
    series up to ~2·10⁸ rows per key).

    100 TB shape: NO per-key global window — the prefix sums and prefix
    mins run two-level, the ks_distance scaffolding generalized to
    running extrema: equi-width ``order`` buckets from a per-key 1-row
    stats frame, within-(key,bucket) cumulative windows, and the only
    cross-bucket windows ride the ≤ ``n_buckets``-row per-key bucket
    frame (seed = exclusive prefix sum of bucket totals; prev-min =
    exclusive prefix min of seed+bucket-min). A month-long hot key
    cannot funnel its whole series into one window partition.

    NULL contract: rows with NULL value, NULL order, or NULL tie are
    excluded (they carry no position in the series); keys with no
    surviving rows do not appear. ``tie_col`` must be non-null and
    unique per (key, order) among surviving rows — it decides the
    within-key total order, and a NULL tie would make that order
    engine-dependent (Spark sorts NULLS FIRST, DuckDB NULLS LAST),
    silently drifting ``changepoint_at``. (A non-bigint-castable tie
    string fails the cast loudly under ANSI mode — never silently.)

    Output per key: n (bigint), cusum_num (bigint, max S numerator),
    cusum_max (double, 6 dp, value units), changepoint_at (bigint — the
    ``order_col`` value at the earliest argmax), n_alarms (bigint).
    """
    from dbt_glue_spark.extensions.dedup import _persist
    from dbt_glue_spark.extensions.skyline import equi_width_bucket
    from dbt_glue_spark.functions.scalars import half_up_round

    if scale < 1 or thr_den < 1 or thr_num < 0:
        raise ValueError(
            f"scale/thr_den must be >= 1, thr_num >= 0: {scale}, {thr_num}, {thr_den}"
        )
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(order_col).cast("bigint").alias("__o"),
        F.col(tie_col).cast("bigint").alias("__tie"),
        F.floor(F.col(value_col).cast("double") * scale + F.lit(0.5))
        .cast("bigint")
        .alias("__v"),
    ).filter(
        F.col("__v").isNotNull()
        & F.col("__o").isNotNull()
        & F.col("__tie").isNotNull()
    )
    st = base.groupBy("__k").agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum("__v").cast("bigint").alias("__tot"),
        F.min("__o").alias("__mn"),
        F.max("__o").alias("__mx"),
    )
    bk = equi_width_bucket(F.col("__o"), F.col("__mn"), F.col("__mx"), n_buckets)
    y = base.join(st, "__k").select(
        "__k",
        "__n",
        "__o",
        "__tie",
        (F.col("__v") * F.col("__n") - F.col("__tot")).alias("__y"),
        bk.alias("__bk"),
    )
    wrow = (
        Window.partitionBy("__k", "__bk")
        .orderBy("__o", "__tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # persisted: the within-bucket cumulative frame feeds both the bucket
    # aggregate (totals + prefix mins) and the final per-row join
    rows = _persist(
        y.withColumn("__c", F.sum("__y").over(wrow)).withColumn(
            "__mc", F.min("__c").over(wrow)
        )
    )
    wb = Window.partitionBy("__k").orderBy("__bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    buckets = (
        rows.groupBy("__k", "__bk")
        .agg(F.sum("__y").alias("__T"), F.min("__c").alias("__Mb"))
        .withColumn("__seed", F.coalesce(F.sum("__T").over(wb), F.lit(0)))
        .withColumn(
            "__prevmin",
            F.coalesce(
                F.min(F.col("__seed") + F.col("__Mb")).over(wb),
                F.lit(2**62),
            ),
        )
        .select("__k", "__bk", "__seed", "__prevmin")
    )
    s = rows.join(buckets, ["__k", "__bk"]).select(
        "__k",
        "__n",
        "__o",
        "__tie",
        (
            F.col("__seed")
            + F.col("__c")
            - F.least(
                F.lit(0),
                F.col("__prevmin"),
                F.col("__seed") + F.col("__mc"),
            )
        ).alias("__S"),
    )
    agg = s.groupBy("__k", "__n").agg(
        F.max("__S").alias("cusum_num"),
        # earliest argmax: lexicographic max over (S, -order, -tie)
        F.max(
            F.struct(
                F.col("__S").alias("s"),
                (-F.col("__o")).alias("no"),
                (-F.col("__tie")).alias("nt"),
            )
        ).alias("__am"),
        F.sum(
            F.when(
                F.col("__S") * F.lit(thr_den)
                > F.lit(thr_num) * F.col("__n") * F.lit(scale),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_alarms"),
    )
    return agg.select(
        F.col("__k").alias(key_col),
        F.col("__n").alias("n"),
        F.col("cusum_num").cast("bigint").alias("cusum_num"),
        half_up_round(
            F.col("cusum_num") / (F.col("__n") * F.lit(float(scale))), 6
        ).alias("cusum_max"),
        (-F.col("__am.no")).cast("bigint").alias("changepoint_at"),
        "n_alarms",
    )


def psi_js_drift(
    a: DataFrame,
    b: DataFrame,
    value_cols: list[str] | str,
    bucket_width: int = 64,
    n_buckets: int = 32,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-feature PSI and Jensen–Shannon drift between two snapshots —
    the log-based half of the standard data-drift kit, complementing
    :func:`ks_distance` (max-CDF-gap) and :func:`distribution_drift`
    (TV/chi-square terms): PSI is THE industry retrain-trigger score
    (rule of thumb: <0.1 stable, 0.1–0.25 drifting, >0.25 act), JS is
    its symmetric, always-finite cousin (∈ [0, ln 2], no epsilon
    needed).

    Per feature f: fixed-width histograms (``value_histogram``) on each
    side, then over the joined buckets
    ``PSI = Σ (pa' − pb')·ln(pa'/pb')`` with p' = max(p, eps) (the
    standard zero-bucket clamp, ``eps`` documented in the output via the
    formula only — the raw counts are also returned per call via
    n_buckets_used), and
    ``JS = ½·Σ pa·ln(2pa/(pa+pb)) + ½·Σ pb·ln(2pb/(pa+pb))`` with the
    0·ln 0 = 0 convention.

    Float determinism (why this is oracle-exact in practice despite the
    logarithms): proportions are single IEEE divisions of exact bigint
    counts; each bucket term is a short fixed chain of IEEE ops; and the
    ≤ ``n_buckets`` terms are summed by folding a bucket-SORTED
    collected array (``F.aggregate`` over ``sort_array``) — a
    deterministic left-to-right fold both engines replay in the same
    order, never a partition-order-dependent distributed float SUM. The
    only residual risk is a last-ULP divergence of ln/exp libm calls,
    absorbed by the half-up 6 dp rounding of the final statistic.

    100 TB shape: per feature, each side collapses to ≤ n_buckets rows
    via map-side partial aggregation at the scan; everything after is
    constant-size (bucket join, 1-row totals broadcast, ≤ n_buckets-row
    collected fold). Features are independent single-scan passes unioned
    at the end — the union is |features| rows.

    Output per feature: (feature, n_a, n_b, n_buckets_used, psi, js) —
    psi/js half-up 6 dp; a side with zero rows yields NULL psi/js, and a
    feature empty on both sides still gets its row (NULL totals, 0
    buckets used).
    """
    if isinstance(value_cols, str):
        value_cols = [value_cols]
    if not value_cols:
        raise ValueError("value_cols must name at least one feature")

    outs = []
    for c in value_cols:
        ha = value_histogram(a, c, bucket_width, n_buckets)
        hb = value_histogram(b, c, bucket_width, n_buckets)
        outs.append(psi_js_from_histograms(ha, hb, c, eps))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def psi_js_from_histograms(
    ha: DataFrame, hb: DataFrame, feature: str, eps: float = 1e-6
) -> DataFrame:
    """PSI + JS from two pre-built (bucket, cnt) histograms — the
    mergeable-summary form of :func:`psi_js_drift` (see that docstring
    for the semantics and the float-determinism argument). Separated,
    like :func:`drift_from_histograms`, so a STREAMED histogram ledger
    (streaming/pipelines.histogram_stream_sink — constant ≤ n_buckets-
    row state) can be scored against a batch reference with the
    identical arithmetic: the streamed-vs-batch PSI is then exactly the
    batch-vs-batch PSI because histogram counting is linear."""
    return _psi_js(ha, hb, eps).select(F.lit(feature).alias("feature"), "*")


def _psi_js(
    ha: DataFrame, hb: DataFrame, eps: float, by: Sequence[str] = ()
) -> DataFrame:
    """The one PSI/JS kernel: (*by, n_a, n_b, n_buckets_used, psi, js)
    from two (*by, bucket, cnt) histograms, one row per ``by`` key
    present on either side (always one row for ``by=()``, even when both
    sides are empty). Per key the
    eps-clamped PSI term and the 0·ln0 = 0 JS term of every joined
    bucket fold left to right over the bucket-sorted collected array;
    a key with no rows on one side has no distribution to compare:
    NULL psi/js."""
    from dbt_glue_spark.functions.scalars import half_up_round

    if eps <= 0:
        raise ValueError(f"eps must be > 0: {eps}")
    pa = F.col("ca").cast("double") / F.col("n_a").cast("double")
    pb = F.col("cb").cast("double") / F.col("n_b").cast("double")
    pa_c = F.greatest(pa, F.lit(float(eps)))
    pb_c = F.greatest(pb, F.lit(float(eps)))
    psi_term = (pa_c - pb_c) * F.log(pa_c / pb_c)
    js_a = F.when(
        F.col("ca") > 0, pa * F.log(F.lit(2.0) * pa / (pa + pb))
    ).otherwise(F.lit(0.0))
    js_b = F.when(
        F.col("cb") > 0, pb * F.log(F.lit(2.0) * pb / (pa + pb))
    ).otherwise(F.lit(0.0))
    # grouped by ``by`` alone (the totals are one value per key): for
    # ``by=()`` that is a global aggregate, so two empty sides still
    # return their one row (NULL totals, 0 buckets, NULL psi/js)
    folded = (
        _joined_histograms(ha, hb, by)
        .select(
            *by,
            "n_a",
            "n_b",
            F.struct(
                F.col("bucket"),
                psi_term.alias("psi_t"),
                (F.lit(0.5) * (js_a + js_b)).alias("js_t"),
            ).alias("t"),
        )
        .groupBy(*by)
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.count("*").cast("bigint").alias("n_buckets_used"),
            F.sort_array(F.collect_list("t")).alias("ts"),
        )
    )
    fold = lambda field: F.aggregate(  # noqa: E731
        "ts", F.lit(0.0), lambda acc, s: acc + s[field]
    )
    # Spark's greatest() IGNORES NULLs: without this gate the eps clamp
    # would swallow an empty side's NULL proportion and emit a finite psi
    both = F.col("n_a").isNotNull() & F.col("n_b").isNotNull()
    return folded.select(
        *by,
        "n_a",
        "n_b",
        "n_buckets_used",
        half_up_round(F.when(both, fold("psi_t")), 6).alias("psi"),
        half_up_round(F.when(both, fold("js_t")), 6).alias("js"),
    )


def psi_js_drift_by_group(
    a: DataFrame,
    b: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width: int = 64,
    n_buckets: int = 32,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-GROUP PSI/JS drift — :func:`psi_js_drift` stratified by
    ``group_col`` (source, language, shard): one (group, n_a, n_b,
    n_buckets_used, psi, js) row per group present in either snapshot.
    This is the form a production monitor actually runs — corpus-level
    drift hides a single source going bad behind the stable majority;
    per-source PSI names the offender.

    It is the global operator's kernel keyed by the group: each side is
    ``value_histogram(by=[group_col])`` and the one PSI/JS kernel
    (``_psi_js``, shared with :func:`psi_js_from_histograms`) joins,
    scores and folds per group, so the arithmetic and float-determinism
    discipline are the global operator's by construction. A group
    present on only ONE side has no distribution to compare on the
    other: NULL psi/js (the empty-side contract), with its n_a/n_b
    showing which side is missing.

    NULL contract (r8 ADVICE): rows with a NULL group are EXCLUDED —
    NULL never matches itself in the (group, bucket) full-outer join or
    the totals joins, so a NULL group present in BOTH snapshots would
    yield two contradictory one-sided rows. NULL values are likewise
    excluded before bucketing (see :func:`value_histogram`); per-group
    NULL rates belong to a profile audit, not the drift statistic.

    100 TB shape: both sides collapse to ≤ groups×n_buckets rows via
    map-side partial aggregation at the scan; joins are (group, bucket)
    and (group) equi-joins over those collapsed frames; the folds ride
    per-group bounded frames. Nothing after the scans depends on corpus
    size — only on |groups|.
    """
    by = [group_col]
    return _psi_js(
        value_histogram(a, value_col, bucket_width, n_buckets, by),
        value_histogram(b, value_col, bucket_width, n_buckets, by),
        eps,
        by,
    )


# Smallest positive NORMAL double; anything with 0 < |x| < this is
# denormal (gradual underflow) — numerically legal but a smell that
# upstream math underflowed, and 10-100x slower on most FPUs.
_MIN_NORMAL = 2.2250738585072014e-308


def _is_neg_zero(c):
    # no signbit() in Spark SQL, -0.0 == 0.0 is TRUE (IEEE), and the
    # 1/x trick is unusable — ANSI Spark raises DIVIDE_BY_ZERO even for
    # DOUBLE division (measured). CAST to string preserves the sign bit
    # exactly in both engines ('-0.0'); the oracle mirror is
    # `x = 0 AND signbit(x)`.
    return (c == 0.0) & c.cast("string").startswith("-")


def nonfinite_audit(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column census of IEEE trouble values: NULL, NaN, ±Inf, -0.0
    and denormals — the ingestion-side report that decides whether a
    telemetry feed is safe to aggregate.

    WHY this exists (round-9 IEEE-axis adjudication, SCALE.md): this
    engine's float-determinism contract accumulates every double
    aggregate in DECIMAL, whose domain is FINITE numbers — a NaN or Inf
    reaching any sum aborts the job under ANSI (fail-loud in both
    engines, 38 catalog queries measured). Production telemetry does
    carry NaN/Inf (a failed upstream divide ships NaN downstream), so
    the pipeline-correct sequence is: audit → sanitize → aggregate.
    This operator is the audit half; :func:`sanitize_nonfinite` is the
    quarantine half.

    Output: one row per audited column — (column, n_rows, n_null,
    n_nan, n_pos_inf, n_neg_inf, n_neg_zero, n_denormal) — all exact
    bigint counts. ONE whole-stage-codegen pass over the scan (all
    columns' predicates fold into a single aggregate), output bounded
    by |cols|.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = []
    for c in cols:
        x = F.col(c).cast("double")
        aggs.extend(
            [
                F.count("*").cast("bigint").alias(f"__{c}__rows"),
                F.sum(F.when(x.isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias(f"__{c}__null"),
                F.sum(F.when(F.isnan(x), 1).otherwise(0))
                .cast("bigint")
                .alias(f"__{c}__nan"),
                F.sum(F.when(x == F.lit(float("inf")), 1).otherwise(0))
                .cast("bigint")
                .alias(f"__{c}__pinf"),
                F.sum(F.when(x == F.lit(float("-inf")), 1).otherwise(0))
                .cast("bigint")
                .alias(f"__{c}__ninf"),
                F.sum(F.when(_is_neg_zero(x), 1).otherwise(0))
                .cast("bigint")
                .alias(f"__{c}__nzero"),
                F.sum(
                    F.when(
                        (~F.isnan(x))
                        & (F.abs(x) > 0)
                        & (F.abs(x) < F.lit(_MIN_NORMAL)),
                        1,
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"__{c}__denorm"),
            ]
        )
    wide = df.agg(*aggs)
    parts = [
        wide.select(
            F.lit(c).alias("column"),
            F.col(f"__{c}__rows").alias("n_rows"),
            F.col(f"__{c}__null").alias("n_null"),
            F.col(f"__{c}__nan").alias("n_nan"),
            F.col(f"__{c}__pinf").alias("n_pos_inf"),
            F.col(f"__{c}__ninf").alias("n_neg_inf"),
            F.col(f"__{c}__nzero").alias("n_neg_zero"),
            F.col(f"__{c}__denorm").alias("n_denormal"),
        )
        for c in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sanitize_nonfinite(
    df: DataFrame,
    cols: list[str],
    flag_col: str = "n_sanitized",
) -> DataFrame:
    """Quarantine non-finite doubles before they reach any decimal
    accumulator: NaN and ±Inf become NULL (SQL aggregates then skip
    them — same contract as missing data), -0.0 normalizes to 0.0
    (grouping/serialization identity), finite values pass through
    bit-exact (denormals included: legal, just slow). Appends
    ``flag_col`` = how many of this row's audited fields were
    sanitized, so downstream can drop or down-weight rows whose
    telemetry was damaged rather than silently averaging the survivors.

    Map-only projection — no shuffle, composes ahead of any aggregate.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    # ONE select over the original frame: the flag must see the
    # PRE-sanitization values (a withColumn chain would re-resolve the
    # flag predicates against the already-NULLed columns)
    exprs = []
    flags = F.lit(0)
    sanitized = {}
    for c in cols:
        x = F.col(c).cast("double")
        bad = F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
        flags = flags + F.when(bad, 1).otherwise(0)
        sanitized[c] = (
            F.when(bad, F.lit(None).cast("double"))
            .when(_is_neg_zero(x), F.lit(0.0))
            .otherwise(x)
            .alias(c)
        )
    for c in df.columns:
        exprs.append(sanitized.get(c, F.col(c)))
    exprs.append(flags.cast("bigint").alias(flag_col))
    return df.select(*exprs)


# ---------------------------------------------------------------------------
# Privacy censuses: k-anonymity / l-diversity over quasi-identifier columns
# ---------------------------------------------------------------------------


def k_anonymity(df: DataFrame, quasi_cols: list[str], k: int = 5) -> DataFrame:
    """k-anonymity census: group rows by the quasi-identifier tuple and
    report the EQUIVALENCE-CLASS SIZE distribution — one row per distinct
    class size: (class_size, n_classes, n_rows, below_k).

    The release-gate audit before publishing a dataset keyed on
    indirectly-identifying attributes (Sweeney 2002): a row in a class of
    size < k is re-identifiable by linking on the quasi-identifiers.
    NULL is an ordinary quasi value (both engines group NULLs together;
    a NULL attribute still narrows a linking attack, so it must count).

    100 TB shape: ONE wide groupBy on the quasi tuple with map-side
    combine (the unavoidable shuffle — its key is the audit's subject),
    then a second groupBy over the |classes|-bounded size column.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    cls = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count("*").alias("class_size")
    )
    return cls.groupBy("class_size").agg(
        F.count("*").cast("bigint").alias("n_classes"),
        (F.count("*") * F.col("class_size").cast("bigint"))
        .cast("bigint")
        .alias("n_rows"),
        F.max(
            F.when(F.col("class_size") < k, 1).otherwise(0)
        ).cast("int").alias("below_k"),
    ).select(
        F.col("class_size").cast("bigint").alias("class_size"),
        "n_classes",
        "n_rows",
        "below_k",
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l_threshold: int = 2,
) -> DataFrame:
    """l-diversity census: per quasi-identifier class, how many DISTINCT
    sensitive values it holds — one row per distinct diversity level:
    (l_distinct, n_classes, n_rows, below_l).

    k-anonymity's complement (Machanavajjhala et al. 2007): a class can
    be large yet still leak the sensitive attribute if every member
    shares one value (homogeneity attack). NULL sensitive values are
    excluded from the distinct count in both engines (count_distinct
    skips NULL), so an all-NULL class reports l_distinct = 0 — visible,
    not hidden.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if l_threshold < 1:
        raise ValueError(f"l_threshold must be >= 1: {l_threshold}")
    cls = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count("*").alias("__n"),
        F.count_distinct(F.col(sensitive_col)).alias("l_distinct"),
    )
    return cls.groupBy("l_distinct").agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum("__n").cast("bigint").alias("n_rows"),
        F.max(
            F.when(F.col("l_distinct") < l_threshold, 1).otherwise(0)
        ).cast("int").alias("below_l"),
    ).select(
        F.col("l_distinct").cast("bigint").alias("l_distinct"),
        "n_classes",
        "n_rows",
        "below_l",
    )
