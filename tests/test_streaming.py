"""Structured Streaming pipeline tests: drive the streams with the real
events parquet via a file source + availableNow trigger, and check the
windowed aggregation agrees with its batch twin (events_hourly)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dbt_glue_spark.sources.registry import load_table
from dbt_glue_spark.streaming.pipelines import (
    hourly_event_counts_stream,
    incremental_stream_sink,
    sessionize_stream,
)


@pytest.fixture()
def events_stream_source(spark, sf_dir):
    """Stage events as a micro-batched file stream (ns→µs conversion
    applied, matching the batch reader)."""
    d = tempfile.mkdtemp(prefix="dgs_stream_src_")
    events = load_table(spark, sf_dir, "events")
    events.repartition(4).write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    yield events, stream
    shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(spark, df, name: str, mode: str = "append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def test_hourly_stream_matches_batch(spark, events_stream_source):
    # complete mode: the final result must equal the batch twin exactly.
    # (append mode would drop late rows behind the watermark because the
    # staged files interleave event-time — that's correct streaming
    # semantics but nondeterministic for an equality test.)
    events, stream = events_stream_source
    out = _run_to_memory(
        spark, hourly_event_counts_stream(stream), "hourly_stream", "complete"
    )
    batch = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour_ts"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )
    assert out.count() == batch.count() > 0
    assert out.subtract(batch).count() == 0
    assert batch.subtract(out).count() == 0


def test_sessionize_stream_runs(spark, events_stream_source):
    _, stream = events_stream_source
    out = _run_to_memory(spark, sessionize_stream(stream), "sessions", "append")
    rows = out.collect()
    assert len(rows) > 0
    assert all(r.session_end >= r.session_start and r.n_events >= 1 for r in rows)


def test_incremental_stream_sink(spark, events_stream_source):
    events, stream = events_stream_source
    sink = tempfile.mkdtemp(prefix="dgs_stream_sink_")
    ckpt = tempfile.mkdtemp(prefix="dgs_stream_ckpt_")
    try:
        q = incremental_stream_sink(stream, os.path.join(sink, "data"), ckpt)
        q.awaitTermination(120)
        written = spark.read.parquet(os.path.join(sink, "data"))
        assert written.count() == events.count()
        assert "event_hour" in written.columns
    finally:
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_merge_stream_sink_latest_wins(spark, events_stream_source):
    """Streaming upsert keyed on user_id with ts as precombine: the
    newest ledger version must hold exactly the latest event per user
    (batch-verifiable)."""
    import tempfile

    from dbt_glue_spark.streaming.pipelines import merge_stream_sink, read_ledger

    events, stream = events_stream_source
    target = tempfile.mkdtemp(prefix="dgs_merge_sink_")
    ckpt = tempfile.mkdtemp(prefix="dgs_merge_ckpt_")
    try:
        q = merge_stream_sink(
            stream.select("user_id", "ts", "event_id", "event_type"),
            spark,
            target,
            ckpt,
            unique_key=["user_id"],
            dedup_source_on="ts",
        )
        q.awaitTermination(180)
        out = read_ledger(spark, target)
        # one row per user
        assert out.count() == events.select("user_id").distinct().count()
        # every row's ts equals the max event ts of that user
        expected = events.groupBy("user_id").agg(F.max("ts").alias("max_ts"))
        bad = (
            out.join(expected, "user_id")
            .filter("ts != max_ts")
        )
        assert bad.count() == 0
    finally:
        shutil.rmtree(target, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def _committed_versions(target: str) -> list[str]:
    from dbt_glue_spark.streaming.pipelines import _parse_version

    return sorted(
        n for n in os.listdir(os.path.join(target, "data")) if _parse_version(n)
    )


def test_merge_stream_sink_fails_on_unreadable_target(spark, tmp_path):
    """A committed version that cannot be read fails the next batch: it
    is never taken for "no target yet", and no new version is committed
    over it."""
    from pyspark.errors import StreamingQueryException

    from dbt_glue_spark.streaming.pipelines import merge_stream_sink

    src, target = str(tmp_path / "src"), str(tmp_path / "target")
    schema = "k long, v long"

    def run(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        return merge_stream_sink(
            stream, spark, target, str(tmp_path / "ckpt"), unique_key=["k"]
        )

    run([(1, 10), (2, 20)]).awaitTermination(120)
    (version,) = _committed_versions(target)
    vdir = os.path.join(target, "data", version)
    for name in os.listdir(vdir):
        if name.endswith(".parquet"):
            with open(os.path.join(vdir, name), "wb") as fh:
                fh.write(b"PAR1 not a parquet footer")
    with pytest.raises(StreamingQueryException):
        run([(3, 30)]).awaitTermination(120)
    assert _committed_versions(target) == [version]


def test_merge_stream_sink_keeps_history_when_a_write_fails(spark, tmp_path, monkeypatch):
    """A failed target write must not lose what earlier batches merged.

    The failing write does what a failed Spark overwrite does: its
    output path is deleted before the job runs, then the job raises. The
    retried batch and a later one must merge INTO the earlier state,
    never restart the target from the batch alone."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    from dbt_glue_spark.streaming.pipelines import merge_stream_sink, read_ledger

    src, target = str(tmp_path / "src"), str(tmp_path / "target")
    schema = "k long, v long"

    def stage(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        return merge_stream_sink(
            stream, spark, target, str(tmp_path / "ckpt"), unique_key=["k"]
        )

    first = [(k, k) for k in range(5)]
    stage(first)
    run().awaitTermination(120)

    real_parquet = DataFrameWriter.parquet
    failed = []

    def failing_parquet(self, path, *args, **kwargs):
        if failed:
            return real_parquet(self, path, *args, **kwargs)
        failed.append(path)
        shutil.rmtree(path, ignore_errors=True)
        raise OSError(f"simulated failed overwrite of {path}")

    stage([(5, 50), (0, 100)])
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(StreamingQueryException):
        run().awaitTermination(120)
    assert failed
    monkeypatch.undo()

    stage([(6, 60)])
    run().awaitTermination(120)
    got = {r["k"]: r["v"] for r in read_ledger(spark, target).collect()}
    assert {k for k, _ in first} <= set(got)
    assert got == {0: 100, 1: 1, 2: 2, 3: 3, 4: 4, 5: 50, 6: 60}


def test_user_activity_tracker_stateful(spark, events_stream_source):
    """applyInPandasWithState: run the tracker over the staged stream, then
    force the processing-time timeout with an empty follow-up batch and
    check every user's summary matches the batch aggregate."""
    import tempfile
    import time as _time

    from dbt_glue_spark.streaming.pipelines import user_activity_tracker

    events, _ = events_stream_source
    d = tempfile.mkdtemp(prefix="dgs_state_src_")
    try:
        events.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(events.schema).parquet(d)
        name = "activity_out"
        q = (
            user_activity_tracker(stream, inactivity_timeout_ms=1)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        # batch 1 folds all rows into state; wait past the 1 ms timeout,
        # then drop a new (empty-overlap) file to trigger batch 2, whose
        # timeout pass emits every user's summary.
        deadline = _time.time() + 120
        emitted = 0
        while _time.time() < deadline:
            _time.sleep(2)
            events.limit(0).write.mode("append").parquet(d)
            emitted = spark.sql(f"select count(*) n from {name}").collect()[0].n
            if emitted >= events.select("user_id").distinct().count():
                break
        q.stop()
        out = spark.table(name)
        expected = events.groupBy("user_id").agg(
            F.count("*").alias("exp_n"),
            F.sum("value").alias("exp_tot"),
        )
        n_users = expected.count()
        assert out.count() == n_users
        joined = out.join(expected, "user_id")
        assert joined.filter("n_events != exp_n").count() == 0
        bad = joined.filter(F.abs(F.col("total_value") - F.col("exp_tot")) > 1e-6)
        assert bad.count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_interval_join_matches_batch(spark, events_stream_source):
    from dbt_glue_spark.streaming.pipelines import click_purchase_join_stream

    events, stream = events_stream_source
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    # staged files interleave event time, so a realistic watermark would
    # (correctly) drop late rows; a watermark wider than the data span
    # makes everything on-time so stream output must equal the batch join.
    out = _run_to_memory(
        spark,
        click_purchase_join_stream(clicks, purchases, watermark="3650 days"),
        "cp_join",
        "append",
    )
    bc = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    bp = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = bc.join(
        bp,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 hour")),
    ).select("user_id", "click_id", "click_ts", "purchase_ts", "purchase_value")
    assert out.count() == batch.count() > 0
    assert out.subtract(batch).count() == 0
    assert batch.subtract(out).count() == 0


def test_dedup_stream_drops_redelivered_rows(spark, events_stream_source):
    from dbt_glue_spark.streaming.pipelines import dedup_stream

    events, stream = events_stream_source
    # simulate at-least-once redelivery: every staged file already yields
    # each event once, and micro-batches may re-present overlapping ids —
    # dedup on event_id must leave exactly the distinct batch rows.
    out = _run_to_memory(
        spark,
        dedup_stream(stream, ["event_id"], watermark="3650 days"),
        "dedup_stream",
        "append",
    )
    assert out.count() == events.dropDuplicates(["event_id"]).count()
    assert out.select("event_id").distinct().count() == out.count()


def test_enrich_stream_matches_batch_left_join(spark, events_stream_source):
    from dbt_glue_spark.sources.registry import load_table
    from dbt_glue_spark.streaming.pipelines import enrich_stream

    events, stream = events_stream_source
    customer = load_table(spark, "/root/testdata/sf0.001", "customer").select(
        "c_custkey", "c_mktsegment"
    )
    out = _run_to_memory(
        spark,
        enrich_stream(
            stream,
            customer,
            stream["user_id"] == customer["c_custkey"],
            ["c_mktsegment"],
        ),
        "enriched",
        "append",
    )
    batch = events.join(
        customer, events["user_id"] == customer["c_custkey"], "left"
    ).select(events["*"], customer["c_mktsegment"])
    assert out.count() == batch.count() > 0
    # stateless join must not drop or duplicate: exact multiset equality
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_clean_documents_stream_matches_batch(spark, sf_dir):
    """The cleaning pipeline (quality gate -> PII redact) is stateless, so
    its streaming output must equal the batch composition row-for-row."""
    import tempfile

    from dbt_glue_spark.extensions.text_analysis import pii_redact, quality_filter
    from dbt_glue_spark.streaming.pipelines import clean_documents_stream

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="dgs_docs_src_")
    try:
        docs.repartition(3).write.mode("overwrite").parquet(d)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        out = _run_to_memory(spark, clean_documents_stream(stream), "cleaned")
        batch = pii_redact(quality_filter(docs, passthrough=("text",)).filter("keep"))
        got = {(r["doc_id"], r["redacted_text"]) for r in out.collect()}
        want = {(r["doc_id"], r["redacted_text"]) for r in batch.collect()}
        assert got == want and len(want) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_countmin_stream_sink_equals_batch_sketch_exactly(spark, tmp_path):
    import os

    from dbt_glue_spark.extensions.sketches import countmin_build
    from dbt_glue_spark.streaming.pipelines import (
        _read_token,
        countmin_stream_sink,
        read_ledger,
    )

    vals = [(f"u{i % 37}",) for i in range(2000)]
    df = spark.createDataFrame(vals, "item string")
    stage = str(tmp_path / "src")
    # 4 files -> 4 micro-batches in arbitrary row order
    df.repartition(4).write.mode("overwrite").parquet(stage)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    target = str(tmp_path / "tgt")
    q = countmin_stream_sink(
        stream, spark, target, str(tmp_path / "ckpt"), "item"
    )
    q.awaitTermination(120)
    streamed = {
        (r["row_idx"], r["bucket"]): r["cnt"]
        for r in read_ledger(spark, target).collect()
    }
    batch = {
        (r["row_idx"], r["bucket"]): r["cnt"]
        for r in countmin_build(df, "item").collect()
    }
    # linearity: the streamed sketch is cell-for-cell identical to the
    # one-shot batch build, independent of batching
    assert streamed == batch
    # the ledger's owner is Spark's own streaming query id
    assert _read_token(target)[0] == q.id


def test_histogram_stream_sink_equals_batch_histogram_exactly(spark, tmp_path):
    import os

    from dbt_glue_spark.extensions.audit import value_histogram
    from dbt_glue_spark.streaming.pipelines import histogram_stream_sink, read_ledger

    vals = [(float((i * 37) % 500),) for i in range(3000)]
    df = spark.createDataFrame(vals, "value double")
    stage = str(tmp_path / "src")
    # 4 files -> 4 micro-batches in arbitrary row order
    df.repartition(4).write.mode("overwrite").parquet(stage)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    target = str(tmp_path / "tgt")
    q = histogram_stream_sink(
        stream, spark, target, str(tmp_path / "ckpt"), "value", 16
    )
    q.awaitTermination(120)
    streamed = {
        r["bucket"]: r["cnt"] for r in read_ledger(spark, target).collect()
    }
    batch = {
        r["bucket"]: r["cnt"] for r in value_histogram(df, "value", 16).collect()
    }
    # linearity: the streamed ledger is cell-for-cell identical to the
    # one-shot batch histogram, independent of batching
    assert streamed == batch
    assert sum(streamed.values()) == 3000


def test_countmin_sink_correct_after_checkpoint_loss(spark, tmp_path):
    """Checkpoint-loss simulation: re-running the whole stream against
    the SAME warm ledger with a FRESH checkpoint re-delivers every
    micro-batch with restarted batch_ids. An additive sketch that merged
    them would double-count; one that skipped them (bare batch_id
    watermark) would drop genuinely new data. The checkpoint-token fence
    detects the takeover and REBUILDS, so the final sketch is
    cell-for-cell equal to the batch build either way."""
    from dbt_glue_spark.extensions.sketches import countmin_build
    from dbt_glue_spark.streaming.pipelines import countmin_stream_sink, read_ledger

    df = spark.createDataFrame([(f"u{i % 23}",) for i in range(1500)], "item string")
    stage = str(tmp_path / "src")
    df.repartition(4).write.mode("overwrite").parquet(stage)

    def run(ckpt: str):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = countmin_stream_sink(stream, spark, str(tmp_path / "tgt"), ckpt, "item")
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt1"))
    run(str(tmp_path / "ckpt2"))  # full replay: batch ids 0..3 all over again
    streamed = {
        (r["row_idx"], r["bucket"]): r["cnt"]
        for r in read_ledger(spark, str(tmp_path / "tgt")).collect()
    }
    batch = {
        (r["row_idx"], r["bucket"]): r["cnt"]
        for r in countmin_build(df, "item").collect()
    }
    assert streamed == batch  # no double counting


def test_ledger_commit_versioned_atomic(spark, tmp_path):
    """Ledger versions are immutable dirs committed by atomic rename:
    a newer commit never overwrites the dir being read, stale .tmp
    residue is cleaned, GC keeps the previous version for in-flight
    readers (and never touches the _ckpt token), and a new GENERATION's
    batch 0 out-orders the old generation's higher batch ids."""
    import os

    from dbt_glue_spark.streaming.pipelines import (
        _ledger_commit,
        _ledger_latest,
        _read_token,
        _write_token,
        read_ledger,
    )

    target = str(tmp_path / "tgt")
    one = spark.createDataFrame([(1, 10)], "bucket int, cnt int")
    _ledger_commit(one, target, 0, 0)
    path0, gen0, bid0 = _ledger_latest(target)
    assert (gen0, bid0) == (0, 0) and path0.endswith("g000000b000000000000")
    # simulate a crashed write: stale tmp must not be picked up as latest
    os.makedirs(os.path.join(target, "data", "g000000b000000000005.tmp"))
    assert _ledger_latest(target)[1:] == (0, 0)
    _write_token(target, "ckpt-a", 0)
    two = spark.createDataFrame([(1, 30)], "bucket int, cnt int")
    _ledger_commit(two, target, 0, 3)
    assert _ledger_latest(target)[1:] == (0, 3)
    versions = sorted(os.listdir(os.path.join(target, "data")))
    # stale tmp GC'd; previous version kept; token file survives GC
    assert versions == ["_ckpt", "g000000b000000000000", "g000000b000000000003"]
    assert read_ledger(spark, target).collect()[0]["cnt"] == 30
    assert _read_token(target) == ("ckpt-a", 0)
    # generation-major ordering: gen 1 batch 0 beats gen 0 batch 3 even
    # though its batch id is smaller (checkpoint takeover restarts ids)
    three = spark.createDataFrame([(1, 99)], "bucket int, cnt int")
    _ledger_commit(three, target, 1, 0)
    assert _ledger_latest(target)[1:] == (1, 0)
    assert read_ledger(spark, target).collect()[0]["cnt"] == 99
    versions = sorted(os.listdir(os.path.join(target, "data")))
    assert versions == ["_ckpt", "g000000b000000000003", "g000001b000000000000"]


def test_takeover_state_protocol(spark, tmp_path):
    """The watermark/takeover protocol driving every ledger sink
    (review follow-up: the same-checkpoint replay skip path needs direct
    coverage — the e2e streaming tests exercise takeover, and Spark 4
    refuses externally-mutated checkpoints, so the protocol is tested at
    the function level with the exact call sequence merge_batch uses)."""
    from dbt_glue_spark.streaming.pipelines import (
        _ledger_commit,
        _ledger_latest,
        _takeover_state,
        _write_token,
        read_ledger,
    )

    target = str(tmp_path / "tgt")
    frame = lambda n: spark.createDataFrame([(1, n)], "bucket int, cnt int")  # noqa: E731

    # batches 0..2 under checkpoint A — all merge, none skip
    for bid in range(3):
        cur, gen, skip = _takeover_state(target, "ckpt-A", bid, True)
        assert not skip
        _ledger_commit(frame(bid * 10), target, gen, bid)
    assert _ledger_latest(target)[1:] == (0, 2)

    # at-least-once REPLAY of batch 2 (same checkpoint): must skip
    _, _, skip = _takeover_state(target, "ckpt-A", 2, True)
    assert skip, "same-checkpoint replay of a committed batch must skip"
    # ... and of batch 1 (older replay) too
    assert _takeover_state(target, "ckpt-A", 1, True)[2]
    # the next new batch does NOT skip
    cur, gen, skip = _takeover_state(target, "ckpt-A", 3, True)
    assert not skip and gen == 0 and cur is not None

    # crash window: token advanced to a new generation but its first
    # commit never landed — the replayed batch 0 must MERGE, not skip
    # against the old generation's watermark
    _write_token(target, "ckpt-B", 1)
    cur, gen, skip = _takeover_state(target, "ckpt-B", 0, False)
    assert not skip and gen == 1

    # additive takeover by a third checkpoint resets the ledger; the
    # generation sequence CONTINUES past the wiped generations (max+1,
    # not 0) so commits stay monotonic even across a partial reset
    _ledger_commit(frame(99), target, gen, 0)
    cur, gen, skip = _takeover_state(target, "ckpt-C", 0, True)
    assert not skip and cur is None and gen == 2
    _ledger_commit(frame(7), target, gen, 0)
    assert read_ledger(spark, target).collect()[0]["cnt"] == 7


def test_takeover_legacy_tokenless_ledger(spark, tmp_path):
    """A committed ledger that PREDATES checkpoint tokens (no _ckpt file)
    gives the watermark no scope: an additive sink cannot tell which
    re-delivered batches it already merged, so it must be treated as a
    takeover (reset + rebuild) — the one-time upgrade window that would
    otherwise double-merge an at-least-once replay. A SET-merge sink
    (reset_on_takeover=False) instead keeps it and unions through, since
    re-merging is a no-op for it."""
    from dbt_glue_spark.streaming.pipelines import (
        _ledger_commit,
        _read_token,
        _takeover_state,
        read_ledger,
    )

    frame = lambda n: spark.createDataFrame([(1, n)], "bucket int, cnt int")  # noqa: E731

    # additive: tokenless legacy ledger → reset, rebuild from this batch
    target = str(tmp_path / "add")
    _ledger_commit(frame(50), target, 0, 7)  # legacy state, no token written
    cur, gen, skip = _takeover_state(target, "ckpt-new", 0, True)
    assert not skip and cur is None, "tokenless additive ledger must reset"
    _ledger_commit(frame(3), target, gen, 0)
    assert read_ledger(spark, target).collect()[0]["cnt"] == 3
    assert _read_token(target)[0] == "ckpt-new"

    # set-merge: tokenless legacy ledger survives and is unioned through
    target2 = str(tmp_path / "set")
    _ledger_commit(frame(50), target2, 0, 7)
    cur, gen, skip = _takeover_state(target2, "ckpt-new", 0, False)
    assert not skip and cur is not None, "tokenless set ledger unions through"


def test_parse_version_strict():
    """Version dir names parse with a strict full-name regex: wrong
    separators, wrong field widths, or trailing garbage never read as a
    committed version (they would otherwise be returned as the latest
    ledger or garbage-collected)."""
    from dbt_glue_spark.streaming.pipelines import _parse_version

    assert _parse_version("g000001b000000000005") == (1, 5)
    for bad in [
        "b000000000005",  # pre-generation name, no longer written or read
        "g00000100",  # no separator
        "g000001x000000000005",  # wrong separator
        "g0001b000000000005",  # short gen field
        "g000001b0005",  # short batch field
        "g000001b000000000005x",  # trailing garbage
        "g000001b000000000005.tmp",  # in-flight write
        "xg000001b000000000005",  # leading garbage
        "b0005",
        "_ckpt",
        "part-00000.parquet",
    ]:
        assert _parse_version(bad) is None, bad


def test_reset_ledger_raises_on_surviving_version(spark, tmp_path, monkeypatch):
    """If the takeover wipe partially fails and a committed version dir
    survives both the bulk rmtree and the per-version retry, the reset
    raises (failing the micro-batch for a retry) instead of proceeding
    over a half-wiped ledger whose stale versions a reader could see."""
    import shutil

    import pytest

    from dbt_glue_spark.streaming.pipelines import _ledger_commit, _reset_ledger

    target = str(tmp_path / "tgt")
    _ledger_commit(spark.createDataFrame([(1, 10)], "bucket int, cnt int"), target, 0, 0)

    real_rmtree = shutil.rmtree
    stubborn = "g000000b000000000000"

    def flaky_rmtree(path, *args, **kwargs):
        # simulate an undeletable committed version: the bulk delete
        # leaves it behind, the targeted retry raises
        if str(path).endswith(stubborn):
            raise OSError("simulated undeletable dir")
        if kwargs.get("ignore_errors"):
            # bulk pass: delete everything except the stubborn version
            import os

            for name in os.listdir(path):
                if name != stubborn:
                    real_rmtree(os.path.join(path, name), ignore_errors=True)
            return
        return real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", flaky_rmtree)
    with pytest.raises(RuntimeError, match="committed ledger versions"):
        _reset_ledger(target)


def test_ckpt_token_cached_and_strict(tmp_path):
    """_checkpoint_id: the ledger owner is the query id Spark stores in
    the checkpoint's ``metadata`` file. A missing file, a corrupt file,
    or an unreadable one (a directory at that path) raises, failing the
    micro-batch: there is no fallback that could give one checkpoint a
    second identity."""
    import json

    import pytest

    from dbt_glue_spark.streaming.pipelines import _checkpoint_id

    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    meta = ckpt / "metadata"

    with pytest.raises(FileNotFoundError):
        _checkpoint_id(str(ckpt))
    assert list(ckpt.iterdir()) == [], "a failed read leaves nothing behind"

    meta.write_text(json.dumps({"id": "qid-123"}))
    assert _checkpoint_id(str(ckpt)) == "qid-123"

    meta.write_text(json.dumps({"other": 1}))
    with pytest.raises(ValueError):
        _checkpoint_id(str(ckpt))

    meta.write_text("{corrupt")
    with pytest.raises(ValueError):
        _checkpoint_id(str(ckpt))

    meta.unlink()
    meta.mkdir()  # unreadable as a file (EISDIR ∈ OSError)
    with pytest.raises(OSError):
        _checkpoint_id(str(ckpt))


def test_takeover_protocol_random_interleavings(spark, tmp_path):
    """Model-based check of the ledger protocol: drive random sequences
    of {new batch, at-least-once replay, checkpoint switch, crash between
    token write and commit} through the REAL _takeover_state/_ledger_commit
    pair, with 'merge' = append-a-marker so the final ledger's marker set
    is comparable against a pure-Python reference model."""
    import random

    from dbt_glue_spark.streaming.pipelines import (
        _ledger_commit,
        _takeover_state,
        read_ledger,
    )

    rng = random.Random(20260814)

    def deliver(target, bid, marker, model, ident):
        """One merge_batch execution (additive policy)."""
        cur, gen, skip = _takeover_state(target, f"qid-{ident}", bid, True)
        if skip:
            return
        if cur is None:
            merged = spark.createDataFrame([(marker,)], "m string")
        else:
            merged = spark.read.parquet(cur).unionByName(
                spark.createDataFrame([(marker,)], "m string")
            )
        _ledger_commit(merged, target, gen, bid)
        # model: takeover (checkpoint change) resets; this marker lands
        if model["ident"] != ident:
            model["markers"] = []
            model["ident"] = ident
        model["markers"].append(marker)

    for seq in range(6):
        target = str(tmp_path / f"t{seq}")
        model = {"ident": None, "markers": []}
        ident, bid, marker_i = 0, -1, 0
        last = None
        for _ in range(rng.randint(5, 10)):
            ev = rng.choice(["batch", "batch", "replay", "switch", "crash"])
            if ev == "batch" or last is None:
                bid += 1
                marker = f"m{seq}-{marker_i}"; marker_i += 1
                deliver(target, bid, marker, model, ident)
                last = (bid, ident)
            elif ev == "replay":
                # re-deliver the last batch verbatim (at-least-once): its
                # marker must NOT appear twice
                deliver(target, last[0], f"dup{marker_i}", model, last[1])
            elif ev == "switch":
                ident += 1
                bid = -1  # batch ids restart under a new checkpoint
            elif ev == "crash":
                # crash window: token/generation advanced, commit lost —
                # the NEXT delivery of the same batch must merge normally
                bid += 1
                cur, gen, skip = _takeover_state(target, f"qid-{ident}", bid, True)
                assert not skip
                # model: a reset may have happened (checkpoint change)
                if model["ident"] != ident:
                    model["markers"] = []
                    model["ident"] = ident
                marker = f"m{seq}-{marker_i}"; marker_i += 1
                deliver(target, bid, marker, model, ident)
                last = (bid, ident)
        if model["markers"]:
            got = sorted(r["m"] for r in read_ledger(spark, target).collect())
            assert got == sorted(model["markers"]), f"seq {seq}: {got} vs {model}"


def test_read_token_missing_vs_unreadable(spark, tmp_path):
    """Round-6 review fix: only a MISSING _ckpt maps to (None, -1) —
    corrupt content or an unreadable file RAISES (failing the batch for
    retry) instead of classifying a healthy tokened ledger as legacy,
    which a reset_on_takeover sink would wipe with no re-delivery to
    rebuild from."""
    import os

    from dbt_glue_spark.streaming.pipelines import _read_token, _write_token

    target = str(tmp_path / "tgt")
    assert _read_token(target) == (None, -1)  # genuinely absent: fresh/legacy
    _write_token(target, "ckpt-A", 0)
    assert _read_token(target) == ("ckpt-A", 0)
    ckpt_file = os.path.join(target, "data", "_ckpt")
    with open(ckpt_file, "w") as fh:
        fh.write("garbage-without-a-generation")
    with pytest.raises(ValueError):
        _read_token(target)  # atomic writes never produce this: corruption
    os.remove(ckpt_file)
    os.mkdir(ckpt_file)  # unreadable-as-file (EISDIR ∈ OSError, ∉ FileNotFoundError)
    with pytest.raises(OSError):
        _read_token(target)


def test_reset_ledger_keeps_token_until_versions_gone(spark, tmp_path, monkeypatch):
    """Round-6 review fix: _reset_ledger deletes the ownership record
    LAST. If a version dir refuses deletion the reset raises with _ckpt
    intact, so the original owner's resumed stream (takeover abandoned)
    still recognizes its own ledger instead of misreading a tokenless
    one as legacy and destructively rebuilding mid-stream."""
    import shutil

    from dbt_glue_spark.streaming.pipelines import (
        _ledger_commit,
        _read_token,
        _reset_ledger,
        _write_token,
    )

    frame = lambda n: spark.createDataFrame([(1, n)], "bucket int, cnt int")  # noqa: E731
    target = str(tmp_path / "tgt")
    _write_token(target, "ckpt-A", 0)
    _ledger_commit(frame(5), target, 0, 0)

    real_rmtree = shutil.rmtree

    def stubborn(path, *a, **k):
        if str(path).endswith("g000000b000000000000"):
            raise OSError("simulated undeletable version dir")
        return real_rmtree(path, *a, **k)

    monkeypatch.setattr(shutil, "rmtree", stubborn)
    with pytest.raises(RuntimeError):
        _reset_ledger(target)
    assert _read_token(target) == ("ckpt-A", 0), "ownership record must survive a failed reset"
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    _reset_ledger(target)
    assert _read_token(target) == (None, -1), "clean reset removes the token too"


def test_recreated_checkpoint_is_takeover_not_alias(spark, tmp_path):
    """A checkpoint deleted and recreated at the same path is a different
    stream: Spark gives it a new query id, its batch ids restart at 0 and
    its source is delivered from scratch. The additive ledger must treat
    it as a takeover and rebuild from the new stream alone, neither
    skipping its early batches against the old watermark nor merging
    into the old state. Run 1 sees more files than run 2, so both faults
    would leave a ledger that differs from run 2's batch build."""
    import shutil

    from dbt_glue_spark.extensions.sketches import countmin_build
    from dbt_glue_spark.streaming.pipelines import countmin_stream_sink, read_ledger

    stage, ckpt, target = (str(tmp_path / n) for n in ("src", "ckpt", "tgt"))

    def run(df, files):
        df.repartition(files).write.mode("overwrite").parquet(stage)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = countmin_stream_sink(stream, spark, target, ckpt, "item")
        q.awaitTermination(120)
        return q.id

    first = spark.createDataFrame([(f"u{i % 23}",) for i in range(1500)], "item string")
    id1 = run(first, 4)
    shutil.rmtree(ckpt)  # the user drops the checkpoint to force a rebuild
    second = spark.createDataFrame([(f"v{i % 11}",) for i in range(600)], "item string")
    id2 = run(second, 2)
    assert id1 != id2
    streamed = {
        (r["row_idx"], r["bucket"]): r["cnt"]
        for r in read_ledger(spark, target).collect()
    }
    batch = {
        (r["row_idx"], r["bucket"]): r["cnt"]
        for r in countmin_build(second, "item").collect()
    }
    assert streamed == batch
