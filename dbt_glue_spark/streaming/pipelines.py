"""Structured Streaming pipelines over the events schema.

The reference is strictly batch (SURVEY.md §2.9: no watermarks, no
windows, no stateful operators anywhere in /root/reference); its closest
concept is the incremental materialization's high-water-mark micro-batch
(reference: README.md:503-547). These pipelines are the engine's streaming
*extension*: the same logical aggregations as the batch catalog
(events_hourly, events_incremental_batch) expressed as incremental
streaming plans, so a user can swap batch ↔ streaming without rewriting
semantics.

Scale notes: watermark + windowed aggregation keeps state bounded (late
rows beyond the watermark dropped); `availableNow` triggers give Kappa-
style backfill over historic parquet with the same code. State-store
shuffle partitioning follows spark.sql.shuffle.partitions.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Static-side ledger caches for stream-static anti-joins (the frontier
# pipelines). Deliberately NOT dedup's bounded-LRU registry: a live
# stream re-reads its static side EVERY micro-batch, so a registry
# eviction mid-stream (any _persist-heavy batch operator interleaving)
# would silently fall back to recomputing the decode-bearing ledger
# lineage per trigger — the exact per-trigger re-decode the eager
# materialization exists to prevent (r11 ADVICE). This registry never
# evicts; lifetime is caller-owned via release_static_caches() once the
# stream is stopped. Footprint is ledger-sized (8-24 bytes per known
# class), not corpus-sized.
_STATIC_CACHES: list[DataFrame] = []


def _persist_static(df: DataFrame) -> DataFrame:
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _STATIC_CACHES.append(out)
    return out


def release_static_caches() -> int:
    """Unpersist every static-side ledger cache created by this module's
    frontier pipelines. Call AFTER stopping the streams that use them —
    a still-running stream would recompute its ledger lineage (decode
    included) on every subsequent micro-batch."""
    n = 0
    while _STATIC_CACHES:
        try:
            _STATIC_CACHES.pop().unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may already be stopped
            pass
    return n


def _with_event_time_watermark(
    df: DataFrame, ts_col: str, watermark: str
) -> DataFrame:
    """``withWatermark`` that tolerates TIMESTAMP_NTZ event time.

    Spark's watermark requires a TIMESTAMP column
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ); Spark 4's parquet
    inference can hand streaming readers NTZ for tz-less files. Cast is a
    no-op on already-TIMESTAMP columns and, with the session tz pinned
    UTC, value-preserving on NTZ — the single normalization point for
    every streaming pipeline's event-time column.
    """
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, watermark)


def hourly_event_counts_stream(
    events_stream: DataFrame,
    watermark: str = "2 hours",
    window: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the batch ``events_hourly`` catalog query:
    tumbling event-time window + late-data watermark."""
    return (
        _with_event_time_watermark(events_stream, "ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_ts"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def ohlc_stream(
    events_stream: DataFrame,
    watermark: str = "2 hours",
    window: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``timeseries.ohlc_bars``: per-series tumbling
    event-time OHLC bars with a late-data watermark.

    It folds with the batch operator's own aggregate list
    (``timeseries.ohlc_aggregates``: ``min_by``/``max_by`` over the
    (ts, event_id) total order for open/close) — all declarative
    aggregates, so the state store carries one partial
    (6 fields) per open (series, window) group and merges micro-batches
    associatively, exactly like the batch map-side combine. Sum-free
    (order statistics + count), so the Kappa equivalence to the batch
    oracle is float-exact.
    """
    from dbt_glue_spark.extensions.timeseries import ohlc_aggregates

    src = _with_event_time_watermark(events_stream, "ts", watermark)
    order = F.struct(F.col("ts"), F.col("event_id"))
    v = F.col("value").cast("double")
    return (
        src.select(
            "event_type", "ts", v.alias("__v"), order.alias("__o")
        )
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(*ohlc_aggregates())
        .select(
            "event_type",
            F.col("w.start").alias("bar_hour"),
            "open",
            "high",
            "low",
            "close",
            "hl_range",
            "n_events",
        )
    )


def sessionize_stream(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Session windows per user (gap-based), the canonical stateful
    streaming operator the reference cannot express at all.

    ``watermark=None`` disables late-data eviction (requires ``complete``
    output mode downstream): session windows drop input older than the
    watermark even in complete mode, so a historical backfill whose files
    arrive out of event-time order (the Kappa reprocessing shape) must run
    unwatermarked to reproduce batch sessionization exactly. Live
    pipelines keep the watermark — that is what bounds state.
    """
    if watermark is None:
        src = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        src = _with_event_time_watermark(events_stream, "ts", watermark)
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def user_activity_tracker(
    events_stream: DataFrame,
    inactivity_timeout_ms: int = 30 * 60 * 1000,
):
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    activity accumulator that emits a summary row when the user goes quiet.

    State per user: (n_events, total_value, first/last event time). Each
    micro-batch folds its rows into state; a processing-time timeout
    flushes the user's summary and clears state. This is the operator
    class Spark's built-in aggregations can't express (custom emission
    policy + custom state shape) — the reference has no streaming at all
    (SURVEY §2.9).

    State size: O(active users) × ~48 bytes — bounded by the timeout.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("first_ts_ms", LongType()),
            StructField("last_ts_ms", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("tot", DoubleType()),
            StructField("first_ms", LongType()),
            StructField("last_ms", LongType()),
        ]
    )

    def track(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, tot, first_ms, last_ms = state.get
            state.remove()
            yield pd.DataFrame(
                [[key[0], n, tot, first_ms, last_ms]], columns=out_schema.names
            )
            return
        n, tot, first_ms, last_ms = (state.get if state.exists else (0, 0.0, None, None))
        for pdf in pdfs:
            ts_ms = (pdf["ts"].astype("int64") // 1_000_000).tolist()
            n += len(pdf)
            tot += float(pdf["value"].sum())
            first_ms = min([m for m in [first_ms, *ts_ms] if m is not None])
            last_ms = max([m for m in [last_ms, *ts_ms] if m is not None])
        state.update((n, tot, first_ms, last_ms))
        state.setTimeoutDuration(inactivity_timeout_ms)
        if False:
            yield  # make this a generator on the non-timeout path too

    return (
        events_stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def merge_stream_sink(
    source_stream: DataFrame,
    spark,
    target_path: str,
    checkpoint: str,
    unique_key: list[str],
    dedup_source_on: str | None = None,
):
    """Streaming upsert: each micro-batch is folded into a parquet
    ledger (:func:`_ledger_sink`) with ``merge_upsert`` semantics.

    The streaming twin of the engine's incremental/merge strategy: each
    micro-batch merges into the target with latest-wins semantics
    (``dedup_source_on`` = precombine column, compared against the
    target's value too, so an out-of-order batch cannot clobber a newer
    target row — Hudi's upsert path). On Delta/Iceberg the body becomes
    a native ``MERGE INTO``; on plain parquet each batch commits the
    merged target as a new ledger version (``data/g…b…``, read back with
    :func:`read_ledger`) — the version being read is never the one being
    written, so a failed write leaves the previous state intact. Upsert
    is a set merge like KMV: re-delivered history converges to the same
    state, so a new checkpoint keeps the ledger
    (``reset_on_takeover=False``).
    """
    from pyspark.sql import Window as W

    from dbt_glue_spark.operators.merge import merge_upsert

    def fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        if dedup_source_on is None:
            return batch_df if cur is None else merge_upsert(cur, batch_df, unique_key)
        both = batch_df if cur is None else cur.unionByName(batch_df)
        rn = F.row_number().over(
            W.partitionBy(*unique_key).orderBy(F.desc(dedup_source_on))
        )
        return both.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")

    return _ledger_sink(
        source_stream, spark, target_path, checkpoint, fold, reset_on_takeover=False
    )


def incremental_stream_sink(
    events_stream: DataFrame,
    path: str,
    checkpoint: str,
):
    """Streaming incremental-append materialization: the streaming twin of
    the engine's incremental/append strategy. Each row gains an
    ``event_hour`` column (``date_trunc('hour', ts)``); the parquet files
    are not partitioned by it. Returns the (started) StreamingQuery;
    ``availableNow`` processes the full backlog then stops, which is
    exactly a driver-triggered incremental batch run."""
    return (
        events_stream.withColumn("event_hour", F.date_trunc("hour", "ts"))
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def click_purchase_join_stream(
    clicks_stream: DataFrame,
    purchases_stream: DataFrame,
    horizon: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each click matched to same-user
    purchases within ``[click_ts, click_ts + horizon]`` event time.

    Both sides carry watermarks and the join condition bounds purchase_ts
    relative to click_ts from BOTH directions — that pair is what lets the
    state store evict rows (unbounded stream-stream joins retain state
    forever and OOM; Spark enforces the time bound for exactly this
    reason). Inner rows emit as soon as both sides arrive; state for rows
    older than watermark+horizon is dropped. At scale, state is
    partitioned by the join key across the cluster's state stores.
    """
    # watermark=None → no state eviction (full-history join): required for
    # an out-of-event-time-order backfill, same trade as sessionize_stream
    def _wm(df: DataFrame) -> DataFrame:
        if watermark is None:
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return _with_event_time_watermark(df, "ts", watermark)

    c = _wm(clicks_stream).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = _wm(purchases_stream).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def dedup_stream(
    events_stream: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of ``keys`` arriving within the
    watermark window — the at-least-once → effectively-once repair step in
    front of any streaming sink.

    ``dropDuplicatesWithinWatermark`` keys the state store on ``keys`` and
    expires entries once the watermark passes them, so state is bounded by
    (arrival rate × watermark) instead of growing with the stream's
    lifetime — the property that makes streaming dedup viable at all.
    Batch twin: ``df.dropDuplicates(keys)``.
    """
    return _with_event_time_watermark(
        events_stream, ts_col, watermark
    ).dropDuplicatesWithinWatermark(keys)


def _unseen_once(
    stream: DataFrame, ledger: DataFrame, keys: list[str]
) -> DataFrame:
    """Frontier tail shared by the image, embedding and pair frontiers:
    rows of ``stream`` whose ``keys`` the static ``ledger`` does not
    hold (stream-static LEFT ANTI join), each new key emitted once
    (dropDuplicates state keyed on ``keys``).

    A stream-static join re-reads its static side every micro-batch, so
    the distinct ledger keys are persisted and materialized here, before
    the stream starts: a ledger lineage that includes a decode runs
    once, not per trigger. The cache goes in the never-evicting
    stream-static registry, not dedup's bounded LRU, which could evict
    it mid-stream and silently re-run that lineage per micro-batch (r11
    ADVICE); release_static_caches() reclaims it once the caller stops
    the stream.
    """
    seen = _persist_static(ledger.select(*keys).distinct())
    seen.count()  # materialize NOW — micro-batches hit the cache
    return stream.join(seen, keys, "left_anti").dropDuplicates(keys)


def image_frontier_stream(
    media_stream: DataFrame,
    seen_hashes: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Streaming perceptual-image frontier — the Kappa twin of
    image_dhash_dedup applied at INGESTION: as scraped images stream in,
    each micro-batch is decoded+dHashed (the Arrow-batched mapInPandas
    stage runs per batch — stateless, so Structured Streaming supports
    it), anti-joined against the static seen-hash ledger, and each NEW
    perceptual class is emitted exactly once (dropDuplicates state keyed
    on the 8-byte hash). Re-scrapes and brightness-shifted re-encodes of
    already-ingested images never enter the corpus in the first place.

    ``seen_hashes`` is a ledger of dhash bigints (what a production
    deployment persists), not raw images. A stream-static join re-reads
    the static side EVERY micro-batch, so the distinct-hash projection is
    persisted and eagerly materialized here before the stream starts:
    if the caller hands a ledger whose lineage includes a decode (e.g.
    an ``image_dhash`` pipeline), the decode runs exactly once instead
    of once per trigger. The cached frame is 8 bytes per known class —
    footprint is negligible; it lives in the module's never-evicting
    stream-static registry (``release_static_caches()`` reclaims it once
    the stream is stopped).

    Undecodable/NULL rows are dropped here; the ingest-side decode
    census is the batch decode_audit's job.

    Batch twin: distinct ok-hashes of the stream's media minus the
    ledger's — the emitted set must equal it exactly regardless of file
    arrival order (tested).
    """
    from dbt_glue_spark.extensions.multimodal_dedup import image_dhash

    hashes = (
        image_dhash(media_stream, content_col, id_col)
        .filter(F.col("status") == "ok")
        .select("dhash")
    )
    return _unseen_once(hashes, seen_hashes, ["dhash"])


def embedding_frontier_stream(
    vec_stream: DataFrame,
    seen_buckets: DataFrame,
    vec_col: str = "embedding",
    planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Streaming embedding-space frontier — the Kappa twin of LSH
    sign-bucketing applied at INGESTION: as embedding rows stream in,
    each is projected to its deterministic hyperplane sign-bucket (a
    map-only Catalyst expression — stateless, stream-safe, no Python),
    anti-joined against the static seen-bucket ledger, and each NEW
    bucket is emitted exactly once (dropDuplicates state keyed on the
    ``planes``-char bucket string). The monitoring stream a curation
    pipeline runs to notice the corpus entering a NEW region of
    embedding space (new topic/language/modality mix) the moment it
    arrives, rather than at the next batch re-cluster.

    ``seen_buckets`` is a ledger of bucket strings (what a production
    deployment persists — ≤ 2^planes rows); its distinct projection is
    persisted and eagerly materialized in the stream-static registry
    (see :func:`_unseen_once`).

    NULL vectors are dropped here (no geometry; the census of missing
    embeddings is the batch audit's job).

    Batch twin: distinct buckets of the stream's vectors minus the
    ledger's — the emitted set must equal it exactly regardless of file
    arrival order (tested).
    """
    from dbt_glue_spark.extensions.similarity import sign_bucket

    buckets = vec_stream.filter(F.col(vec_col).isNotNull()).select(
        sign_bucket(F.col(vec_col), dim, planes).alias("bucket")
    )
    return _unseen_once(buckets, seen_buckets, ["bucket"])


def pair_frontier_stream(
    pairs_stream: DataFrame,
    seen_pairs: DataFrame,
    caption_col: str = "caption",
    content_col: str = "content",
    id_col: str = "pair_id",
) -> DataFrame:
    """Streaming cross-modal pair frontier — the Kappa twin of joint
    (caption, image) dedup applied at INGESTION: as scraped image-caption
    pairs stream in, each micro-batch is decoded+dHashed and the caption
    md5-keyed (the ``crossmodal.pair_signatures`` joint class), anti-
    joined against the static seen-pair ledger, and each NEW joint class
    (caption_key, dhash) is emitted exactly once (dropDuplicates state
    keyed on 16+8 bytes). A re-scraped pair — same caption, brightness-
    shifted re-encode of the same image — never enters the corpus.

    ``seen_pairs`` is a ledger of (caption_key binary, dhash bigint)
    rows; like :func:`image_frontier_stream`, the distinct projection is
    persisted and eagerly materialized before the stream starts, so a
    ledger lineage that includes a decode runs once, not per trigger.

    NULL-caption / non-ok-decode rows are dropped here (no joint class);
    the decode census is the batch decode_audit's job.

    Batch twin: distinct joint keys of the stream's pairs minus the
    ledger's — the emitted set must equal it exactly regardless of file
    arrival order (tested).
    """
    from dbt_glue_spark.extensions.crossmodal import pair_signatures

    keys = pair_signatures(
        pairs_stream, caption_col, content_col, id_col
    ).select("caption_key", "dhash")
    return _unseen_once(keys, seen_pairs, ["caption_key", "dhash"])


def mixture_monitor_stream(
    pairs_stream: DataFrame,
    kind_col: str = "pair_type",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Streaming modality-mixture monitor — the ingestion-side census
    behind ``crossmodal.modality_mixture_card``: as pairs stream in,
    maintain the per-pair-type token totals (complete-mode stateful
    aggregation; state is ONE row per pair type, bounded by the type
    alphabet, never the stream length). A mixture-aware ingestion
    compares the emitted totals against its target weights each trigger
    and alerts when the arriving mixture drifts — the Kappa twin of the
    batch card's census stage (the allocator stays batch: a global
    budget has no streaming meaning).

    NULL pair types are excluded (the allocator's stratified NULL
    contract); NULL token counts coalesce to 0.

    Batch twin: ``df.groupBy(kind).sum(tokens)`` — the final table must
    equal it exactly regardless of file arrival order (tested).
    """
    return (
        pairs_stream.filter(F.col(kind_col).isNotNull())
        .groupBy(kind_col)
        .agg(
            F.coalesce(F.sum(F.col(tokens_col).cast("bigint")), F.lit(0))
            .cast("bigint")
            .alias("n_tokens")
        )
    )


def url_frontier_stream(
    url_stream: DataFrame,
    ledger: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Streaming crawl-frontier dedup — the Kappa twin of
    web.url_frontier_new: canonicalize URLs as they arrive, drop
    everything the static seen-URL ledger already covers (stream-static
    LEFT ANTI join — the static side is re-read per micro-batch, so a
    ledger refreshed between batches is picked up), then dedup within
    the stream itself so each NEW canonical URL is emitted exactly once.

    State is the dropDuplicates store keyed on the canonical URL —
    bounded by |new URLs in the stream's lifetime|; a production
    deployment bounds it with dropDuplicatesWithinWatermark on an
    arrival-time column (the dedup_stream pattern) and periodically
    folds emitted URLs back into the ledger (the minhash_band_ledger
    compaction discipline).

    Batch twin: ``web.url_frontier_new(batch, ledger)`` — the emitted
    set must equal the batch operator's canon_url set exactly.
    """
    from dbt_glue_spark.extensions.web import canonical_url

    seen = (
        ledger.filter(F.col(url_col).isNotNull())
        .select(canonical_url(F.col(url_col)).alias("canon_url"))
        .distinct()
    )
    return (
        url_stream.filter(F.col(url_col).isNotNull())
        .select(canonical_url(F.col(url_col)).alias("canon_url"))
        .join(seen, "canon_url", "left_anti")
        .dropDuplicates(["canon_url"])
    )


def response_frontier_stream(
    turns_stream: DataFrame,
    ledger: DataFrame,
    role: str = "assistant",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Streaming assistant-response dedup — the Kappa twin of
    chat.response_dedup applied at INGESTION: as SFT conversations
    stream in, each ``role`` turn's text hash is emitted exactly once,
    and never if the static seen-response ledger already covers it
    (stream-static LEFT ANTI join, static side re-read per micro-batch).
    The canned-reply/template-answer mass that response_dedup finds
    after the fact never enters the corpus in the first place.

    State is the dropDuplicates store keyed on the 16-byte md5 —
    bounded by |new distinct responses|; a production deployment bounds
    it with dropDuplicatesWithinWatermark on an arrival-time column and
    periodically folds emitted hashes back into the ledger (the
    url_frontier_stream discipline, applied to turn content).

    Batch twin: distinct md5 of the stream's ``role`` turns minus the
    ledger's — the emitted set must equal it exactly regardless of file
    arrival order.
    """
    seen = (
        ledger.filter(
            (F.col(role_col) == role) & F.col(text_col).isNotNull()
        )
        .select(F.unhex(F.md5(F.col(text_col))).alias("__h"))
        .distinct()
    )
    return (
        turns_stream.filter(
            (F.col(role_col) == role) & F.col(text_col).isNotNull()
        )
        .select(F.unhex(F.md5(F.col(text_col))).alias("__h"))
        .join(seen, "__h", "left_anti")
        .dropDuplicates(["__h"])
        .select(F.lower(F.hex("__h")).alias("resp_hash"))
    )


def enrich_stream(
    events_stream: DataFrame,
    dim: DataFrame,
    join_expr,
    dim_cols: list[str],
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch of the stream is
    left-joined against a static (batch) dimension table.

    Stream-static joins are STATELESS — no watermark, no state store:
    each micro-batch simply joins against the static side, which Spark
    re-plans per batch (so a Delta/parquet dim picks up new files between
    batches). Broadcasting the dim keeps the join map-side: the stream
    partitioning is untouched, which at cluster scale means no shuffle is
    ever introduced into the streaming stage — the canonical pattern for
    attaching slowly-changing reference data (user → segment, id → nation)
    to a high-rate event stream.
    """
    return events_stream.join(F.broadcast(dim), join_expr, "left").select(
        events_stream["*"], *[dim[c] for c in dim_cols]
    )


def clean_documents_stream(docs) -> "DataFrame":
    """Streaming corpus cleaning: Gopher quality gate → keep-filter → PII
    redaction, composed as ONE stateless narrow stage (no state store, no
    watermark, no shuffle) — the shape that lets a landing-zone document
    stream be cleaned at ingest instead of in a nightly batch. Exactly
    equal to running the batch operators on the same rows (tested), since
    every rule is a pure per-row projection.
    """
    from dbt_glue_spark.extensions.text_analysis import pii_redact, quality_filter

    kept = quality_filter(docs, passthrough=("text",)).filter("keep")
    return pii_redact(kept)


def _ledger_latest(target_path: str):
    """Newest committed ledger version under ``{target_path}/data``.

    Ledger sinks commit each merged state as an immutable versioned
    directory ``data/g{gen:06d}b{batch_id:012d}`` (``.tmp`` suffix while
    being written). ``gen`` is the checkpoint GENERATION — it increments
    whenever the ledger is taken over by a new streaming checkpoint, so
    version names stay monotonically ordered even though foreachBatch
    batch_ids restart at 0 per checkpoint (generation-major,
    zero-padded, so lexicographic name order == commit order). Returns
    ``(path, gen, batch_id)`` of the newest committed version, or
    ``(None, -1, -1)`` if no version exists yet. The embedded batch id
    is the per-generation idempotency watermark: a replayed micro-batch
    (foreachBatch is at-least-once) carries a batch_id ≤ the stored one
    in the SAME generation and is skipped instead of merged twice.
    """
    import os

    root = os.path.join(target_path, "data")
    try:
        names = os.listdir(root)
    except OSError:
        return None, -1, -1
    best = None
    best_key = (-1, -1)
    for name in names:
        key = _parse_version(name)
        if key is None:
            continue
        if key > best_key:
            best_key, best = key, os.path.join(root, name)
    return best, best_key[0], best_key[1]


_VERSION_RE = re.compile(r"^g(\d{6})b(\d{12})$")


def _parse_version(name: str):
    """Parse a ledger version dir name ``g{gen:06d}b{batch_id:012d}`` →
    (gen, batch_id), or None. The match is a strict full-name regex
    (separator AND field widths), so a stray directory like
    ``g00000100`` or ``g000001x000000000005`` can never be returned as
    the latest ledger or garbage-collected as a version.
    """
    m = _VERSION_RE.match(name)
    if m:
        return int(m.group(1)), int(m.group(2))
    return None


def _ledger_commit(df: DataFrame, target_path: str, gen: int, batch_id: int) -> None:
    """Atomically publish a new ledger version for (gen, batch_id).

    Writes to ``g{gen}b{id}.tmp`` then renames — a single-dirent rename,
    so readers (and a crashed retry of the same batch) never see a
    half-written ledger, and the version being READ by the merge plan is
    never the directory being overwritten (the r4 sinks overwrote the
    dir they were lazily reading; an executor failure mid-write could
    lose the ledger). Old versions are garbage-collected keeping the
    previous one, so an in-flight reader of version N-1 survives the
    commit of N.
    """
    import os
    import shutil

    root = os.path.join(target_path, "data")
    os.makedirs(root, exist_ok=True)
    final = os.path.join(root, f"g{gen:06d}b{batch_id:012d}")
    tmp = final + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    committed = sorted(
        (n for n in os.listdir(root) if _parse_version(n) is not None),
        key=_parse_version,
    )
    keep = set(committed[-2:])
    for name in os.listdir(root):
        # only version dirs (incl. their .tmp residue) are GC candidates
        # — the _ckpt token and any future sidecar files must survive
        versionish = _parse_version(name) is not None or (
            name.endswith(".tmp") and _parse_version(name[: -len(".tmp")]) is not None
        )
        if not versionish or name in keep:
            continue
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def read_ledger(spark, target_path: str) -> DataFrame:
    """Read the newest committed ledger version of a ledger sink."""
    path, _gen, _bid = _ledger_latest(target_path)
    if path is None:
        raise FileNotFoundError(f"no committed ledger under {target_path}/data")
    return spark.read.parquet(path)


def read_ledger_or(spark, target_path: str, fallback: DataFrame) -> DataFrame:
    """read_ledger with an empty-stream contract: an EMPTY source stream
    commits no ledger at all, and the sketch of nothing is ``fallback``
    (a typed empty frame built by the caller), not a read error. Keeps
    the contract in one place for every sketch-reading query."""
    try:
        return read_ledger(spark, target_path)
    except FileNotFoundError:
        return fallback


def _checkpoint_id(checkpoint: str) -> str:
    """Identity of the streaming checkpoint that owns a ledger: the query
    id Spark writes to ``{checkpoint}/metadata`` before batch 0. It is
    stable across restarts on the same checkpoint and new for a
    checkpoint deleted and recreated at the same path, which is exactly
    the scope the batch-id watermark needs (batch ids restart per
    checkpoint). A missing, unreadable or id-less metadata file raises,
    failing the micro-batch, so one checkpoint never gets two identities."""
    import json
    import os

    with open(os.path.join(checkpoint, "metadata")) as fh:
        qid = json.load(fh).get("id")
    if not qid:
        raise ValueError(f"streaming checkpoint metadata under {checkpoint} has no query id")
    return str(qid)


def _read_token(target_path: str) -> tuple[str | None, int]:
    """Read ``(checkpoint_token, generation)`` from the ledger, or
    ``(None, -1)`` if no takeover has been recorded.

    A MISSING token file (fresh ledger, or one that predates tokens) is
    the only condition mapped to ``(None, -1)``. Any other read or parse
    failure raises, failing the micro-batch so Spark retries it under
    the same batch_id: silently mapping a transient EIO/EACCES — or a
    corrupt token, which the atomic tmp+rename write can never produce
    on its own — to "tokenless" would make a ``reset_on_takeover`` sink
    classify a healthy tokened ledger as legacy and wipe it with no
    re-delivery to rebuild from."""
    import os

    try:
        with open(os.path.join(target_path, "data", "_ckpt")) as fh:
            raw = fh.read().strip()
    except FileNotFoundError:
        return None, -1
    token, gen = raw.rsplit(":", 1)
    return token or None, int(gen)


def _write_token(target_path: str, token: str, gen: int) -> None:
    """Record that generation ``gen`` belongs to checkpoint ``token``.

    Atomic (tmp + rename) so a crash never leaves a torn token. Written
    BEFORE the generation's first version commit: if the process dies in
    between, the replayed batch sees a matching token whose generation
    has no committed version yet (latest gen < stored gen) and merges
    normally; the reverse order would let the replay double-merge an
    already-committed batch — and skipping on a bare token match would
    wrongly compare the new run's restarted batch ids against the OLD
    generation's watermark.
    """
    import os

    root = os.path.join(target_path, "data")
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, "_ckpt.tmp")
    with open(tmp, "w") as fh:
        fh.write(f"{token}:{gen}")
    os.rename(tmp, os.path.join(root, "_ckpt"))


def _reset_ledger(target_path: str) -> None:
    """Wipe the ledger for an additive takeover — VERIFIED.

    A blind ``rmtree(ignore_errors=True)`` can partially fail (one
    undeletable file) and silently leave old committed version dirs on
    disk; a reader would then keep seeing stale pre-takeover state until
    the new generation's first commit. So every entry is deleted
    individually and the reset RAISES if a committed version survives —
    failing the micro-batch (Spark retries it under the same batch_id)
    instead of proceeding over a half-wiped ledger. Defense in depth:
    even if survivors slipped through, :func:`_takeover_state` continues
    the generation sequence ABOVE the pre-reset maximum, so new commits
    always out-order stale residue rather than being shadowed by it.

    The ownership record (``_ckpt``) is deleted LAST, only once every
    committed version is confirmed gone: a bulk delete that drops the
    token first and then fails on a version dir leaves a tokenless
    ledger with committed versions — which the original owner's resumed
    stream (takeover abandoned after the raise) would misclassify as a
    legacy ledger and destructively rebuild mid-stream.
    """
    import os
    import shutil

    root = os.path.join(target_path, "data")
    if not os.path.isdir(root):
        return
    survivors = []
    for name in os.listdir(root):
        if name == "_ckpt":
            continue  # ownership record goes last, see above
        path = os.path.join(root, name)
        try:
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
        except OSError:
            survivors.append(name)
    if any(_parse_version(n) is not None for n in survivors):
        raise RuntimeError(
            f"takeover reset left committed ledger versions under {root}: "
            f"{sorted(survivors)}"
        )
    try:
        os.remove(os.path.join(root, "_ckpt"))
    except FileNotFoundError:
        pass


def _takeover_state(
    target_path: str,
    token: str,
    batch_id: int,
    reset_on_takeover: bool,
) -> tuple[str | None, int, bool]:
    """The shared watermark/takeover protocol of every ledger sink.

    Returns ``(cur_path, commit_gen, skip)``:

    - ``skip`` — this batch_id is ≤ OUR OWN generation's committed
      watermark: an at-least-once replay, already merged, do nothing.
      The generation comparison matters: a matching token whose
      generation has no committed version yet (crash between token
      write and first commit) must NOT be compared against an older
      generation's batch ids — and for ADDITIVE sinks any version from
      another generation is pre-takeover state that must not be merged
      either (it is residue of that crash window or of a partially
      failed reset), so ``cur_path`` is cleared for them in that case.
    - takeover (stored token differs — or, for additive sinks, a
      committed ledger that predates tokens entirely: with no watermark
      scope there is no way to tell which re-delivered batches a legacy
      ledger already merged, so it is rebuilt exactly like a takeover,
      closing the one-time legacy double-merge window): start a new
      generation so the new checkpoint's restarted batch ids still
      commit as strictly newer versions. ``reset_on_takeover`` encodes
      the sink's merge algebra — ADDITIVE sinks (count-min, histogram)
      must rebuild from the re-delivered history, while idempotent SET
      merges (KMV) keep the ledger and union through.
    - the new generation is ``max(latest committed, stored) + 1`` — the
      sequence continues past wiped/uncommitted generations instead of
      restarting at 0, so commits stay monotonic even across a
      partially failed reset.
    - the token is recorded (atomically, BEFORE the generation's first
      commit) whenever it changes.
    """
    stored_token, stored_gen = _read_token(target_path)
    cur_path, gen, cur_id = _ledger_latest(target_path)
    if stored_token == token:
        if gen == stored_gen:
            return cur_path, stored_gen, batch_id <= cur_id
        if reset_on_takeover:
            cur_path = None  # other-generation residue: never merge it additively
        return cur_path, stored_gen, False
    if reset_on_takeover and (stored_token is not None or cur_path is not None):
        _reset_ledger(target_path)
        cur_path = None
    commit_gen = max(gen, stored_gen) + 1
    _write_token(target_path, token, commit_gen)
    return cur_path, commit_gen, False


def _ledger_sink(
    source_stream: DataFrame,
    spark,
    target_path: str,
    checkpoint: str,
    fold,
    reset_on_takeover: bool,
):
    """The foreachBatch driver every ledger sink shares — the one
    ``foreachBatch`` in this module: the sketch sinks and the streaming
    upsert (:func:`merge_stream_sink`) each supply only a ``fold``.

    Per micro-batch: an empty batch commits nothing; otherwise the
    checkpoint's query id (:func:`_checkpoint_id`) and
    :func:`_takeover_state` decide the commit generation and whether the
    batch is an at-least-once replay to skip; ``fold(batch_df, cur)``
    merges the batch into the current ledger (``cur`` is None when there
    is none to merge into) and the result is committed as a new version
    by :func:`_ledger_commit`. The query runs ``availableNow`` and is
    returned started. ``reset_on_takeover`` is the sink's merge algebra
    (see :func:`_takeover_state`)."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cur_path, commit_gen, skip = _takeover_state(
            target_path, _checkpoint_id(checkpoint), batch_id,
            reset_on_takeover=reset_on_takeover,
        )
        if skip:
            return  # at-least-once replay of an already-merged batch
        cur = spark.read.parquet(cur_path) if cur_path is not None else None
        _ledger_commit(fold(batch_df, cur), target_path, commit_gen, batch_id)

    return (
        source_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def countmin_stream_sink(
    source_stream: DataFrame,
    spark,
    target_path: str,
    checkpoint: str,
    col: str,
):
    """Streaming count-min maintenance: each micro-batch builds a sketch
    of its own rows and merges it CELL-WISE (+) into the persistent
    sketch. Count-min is linear — ``build(A ∪ B) = build(A) + build(B)``
    cell by cell — so on the failure-free path the streamed sketch equals
    the batch-built sketch no matter how the stream was batched or
    ordered. Because the merge is ADDITIVE, at-least-once redelivery
    would double-count without extra defense; the ledger therefore embeds
    the last merged batch_id in its version name and a replayed batch
    (batch_id ≤ stored, SAME checkpoint — the watermark is scoped by a
    checkpoint token, since batch ids restart per checkpoint) is skipped,
    making the sink idempotent end-to-end. A run under a NEW checkpoint
    against a warm ledger resets it and rebuilds from what the new run
    delivers — the only consistent additive answer: the old watermark
    says nothing about which of the re-delivered batches were merged.
    Versions commit via temp-dir + atomic rename (:func:`_ledger_commit`),
    so the ledger being read is never the directory being overwritten.
    Constant ~4 KB state for an unbounded stream; at cluster scale the
    same shape runs cross-pipeline: shards build sketches independently
    and a coordinator folds them cell-wise.
    """
    from dbt_glue_spark.extensions.sketches import countmin_build

    def fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        batch_sketch = countmin_build(batch_df, col)
        if cur is None:
            return batch_sketch
        return (
            cur.unionByName(batch_sketch)
            .groupBy("row_idx", "bucket")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )

    return _ledger_sink(
        source_stream, spark, target_path, checkpoint, fold, reset_on_takeover=True
    )


def kmv_stream_sink(
    source_stream: DataFrame,
    spark,
    target_path: str,
    checkpoint: str,
    col: str,
    k: int = 256,
):
    """Streaming KMV distinct-count maintenance: each micro-batch's
    distinct md5-fraction hashes are set-unioned into a persistent ≤k-row
    hash ledger, keeping the k smallest. KMV merge is a SET operation —
    order-insensitive AND idempotent (a re-delivered value hashes to the
    same point, so at-least-once delivery cannot inflate the estimate,
    unlike additive sketches) — so the streamed ledger is EXACTLY the
    batch-built one no matter how the stream was batched, ordered, or
    retried. Constant O(k) state for an unbounded stream; the same union
    folds per-shard ledgers cross-pipeline (mergeable-sketch contract).
    Although the merge itself tolerates replays, the ledger still uses
    the versioned atomic commit (:func:`_ledger_commit`) so a crash
    mid-write can never lose the previous state, and replayed batches
    from the same checkpoint are skipped rather than re-unioned
    (cheaper, same result). Under a NEW checkpoint the skip is disabled
    — batch ids restarted, so early ids may carry new data — but no
    reset is needed: re-unioning re-delivered history is a no-op for a
    set merge, unlike the additive sinks.
    """
    from dbt_glue_spark.extensions.sketches import hash_fraction

    def fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        bh = batch_df.select(hash_fraction(F.col(col)).alias("h")).distinct()
        merged = bh if cur is None else cur.unionByName(bh).distinct()
        return merged.orderBy(F.col("h").asc()).limit(k)

    # reset_on_takeover=False: re-unioning re-delivered history is a
    # set-merge no-op, so the ledger survives checkpoint loss intact
    return _ledger_sink(
        source_stream, spark, target_path, checkpoint, fold, reset_on_takeover=False
    )


def histogram_stream_sink(
    source_stream: DataFrame,
    spark,
    target_path: str,
    checkpoint: str,
    col: str,
    bucket_width: int,
    n_buckets: int = 32,
):
    """Streaming histogram maintenance: each micro-batch's fixed-width
    bucket counts are merged cell-wise (+) into a persistent ≤ n_buckets-
    row parquet ledger. Histogram counting is linear, so on the
    failure-free path the streamed ledger equals the batch-built
    histogram no matter how the stream was batched or ordered; like the
    count-min sink the merge is ADDITIVE, so replayed micro-batches are
    detected by the batch_id embedded in the ledger version and skipped
    (idempotent under at-least-once delivery), and versions commit via
    temp-dir + atomic rename so a mid-write failure cannot lose the
    ledger. Constant state (≤ n_buckets rows) for an unbounded stream;
    the same fold merges per-shard histograms cross-pipeline.
    """
    from dbt_glue_spark.extensions.audit import value_histogram

    def fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        batch_hist = value_histogram(batch_df, col, bucket_width, n_buckets)
        if cur is None:
            return batch_hist
        return (
            cur.unionByName(batch_hist)
            .groupBy("bucket")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )

    return _ledger_sink(
        source_stream, spark, target_path, checkpoint, fold, reset_on_takeover=True
    )


def priority_sample_stream_sink(
    source_stream: DataFrame,
    spark,
    target_path: str,
    checkpoint: str,
    key_col: str,
    weight_col: str,
    k: int = 256,
    seed: str = "7",
):
    """Streaming priority-sampling maintenance — the streaming twin of
    :func:`extensions.sampling.weighted_sample` (Duffield–Lund–Thorup):
    each micro-batch's bottom-(k+1) rows by the exact integer priority
    are set-unioned into a persistent ≤ (k+1)-row ledger, keeping the
    k+1 smallest overall.

    Bottom-k is ASSOCIATIVE (bottom-(k+1) of a union = bottom-(k+1) of
    per-part bottom-(k+1)s: every global survivor survives its own
    part), and the priority is a DETERMINISTIC function of the key —so
    like the KMV sink (and unlike additive sketches) the merge is a set
    operation, order-insensitive and idempotent under at-least-once
    redelivery: a replayed row reproduces its exact (key, weight,
    priority) triple and dies in ``distinct()``. The streamed ledger
    therefore equals the one-shot batch bottom-(k+1) no matter how the
    stream was batched, ordered, or retried — Kappa equivalence, gated
    by the batch-oracle parity of the staged ``streaming_priority_sample``
    query. Keys are assumed weight-stable (weight is a function of the
    key, the documents/doc_id/n_chars shape); a re-keyed weight would be
    two distinct rows, of which the lower-priority one simply competes.

    The ledger carries k+1 rows (not k) so τ — the (k+1)-th priority,
    which the unbiased subset-sum estimator needs — is always derivable
    from carried state alone (:func:`extensions.sampling.
    priority_sample_finalize`). Constant O(k) state for an unbounded
    stream; per-batch cost is one TakeOrderedAndProject over the batch
    plus a (2k+2)-row merge, never corpus-proportional.

    Like KMV: ``reset_on_takeover=False`` — under a NEW checkpoint the
    replay-skip is disabled (batch ids restarted), but re-unioning
    re-delivered history is a no-op for a set merge, so no reset is
    needed and the ledger survives checkpoint loss intact. Commits use
    the versioned atomic ledger protocol (:func:`_ledger_commit`).
    """
    from dbt_glue_spark.extensions.sampling import priority_frame, priority_order

    def fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        order = priority_order(key_col)
        bp = (
            priority_frame(batch_df, key_col, weight_col, seed)
            .orderBy(*order)
            .limit(k + 1)
        )
        merged = bp if cur is None else cur.unionByName(bp).distinct()
        return merged.orderBy(*order).limit(k + 1)

    return _ledger_sink(
        source_stream, spark, target_path, checkpoint, fold, reset_on_takeover=False
    )
