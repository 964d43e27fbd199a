"""How a catalog ``streaming_*`` spec drives its stream — one policy.

Every streaming spec proves Kappa equivalence: a batch input replayed as
a file stream through an engine pipeline must equal the batch oracle
exactly. The harness around that pipeline lives here, once:

- **stage** (:func:`staged`): the batch frame is written as ``files``
  parquet files to a fresh temp dir and read back as a file stream with
  ``maxFilesPerTrigger=per_trigger``; the dir is removed once the block
  exits, i.e. after the query has finished.
- **drain** (:func:`drain`): the query gets ``TIMEOUT_S``. A timeout
  stops it and raises ``TimeoutError`` naming the spec — a partial sink
  is never returned as an answer. The stream-static ledger caches
  (``pipelines.release_static_caches``) are released once the query has
  ended, whichever way it ended — that registry never evicts, so without
  this every spec call would leak one persisted frame.
- **to memory** (:func:`to_memory`): a uniquely named memory sink run
  ``availableNow``, with ``spark.sql.shuffle.partitions`` scoped to
  ``STATE_PARTITIONS`` for the run (state-store partitioning follows it
  at query start; the catalog's state is tiny — the real tuning knob on
  a cluster, SCALE.md §streaming). A timeout also drops the view.

File-sink and ``foreachBatch`` specs keep their own sink call and target
dir (:func:`sink_dir`) and use only :func:`staged` and :func:`drain`;
they run at the session's shuffle partitioning.
"""

from __future__ import annotations

import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from dbt_glue_spark.streaming.pipelines import release_static_caches

TIMEOUT_S = 300
STATE_PARTITIONS = "8"
# poll period of a processing-time query drained with ``until``
_POLL_S = 2


@contextmanager
def stage_dir() -> Iterator[str]:
    """A fresh temp dir for a stream's source files, removed on exit."""
    path = tempfile.mkdtemp(prefix="dgs_q_stage_")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def file_stream(df: DataFrame, path: str, files: int, per_trigger: int | None) -> DataFrame:
    """Write ``df`` as ``files`` parquet files under ``path`` and return a
    file stream over them, ``per_trigger`` files per micro-batch (None:
    the whole backlog in one)."""
    df.repartition(files).write.mode("overwrite").parquet(path)
    reader = df.sparkSession.readStream.schema(df.schema)
    if per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", per_trigger)
    return reader.parquet(path)


@contextmanager
def staged(df: DataFrame, files: int, per_trigger: int = 1) -> Iterator[DataFrame]:
    """:func:`file_stream` over a :func:`stage_dir`: the staged files live
    exactly as long as the ``with`` block."""
    with stage_dir() as path:
        yield file_stream(df, path, files, per_trigger)


def sink_dir() -> str:
    """A fresh temp dir for a file or ledger sink. Kept: the spec's
    result frame reads it lazily."""
    return tempfile.mkdtemp(prefix="dgs_q_sink_")


@contextmanager
def _state_partitions(spark: SparkSession) -> Iterator[None]:
    """``spark.sql.shuffle.partitions = STATE_PARTITIONS`` for the block,
    restored on exit (also when the block raises)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", STATE_PARTITIONS)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def drain(q, spec: str, until: Callable[[], bool] | None = None) -> None:
    """Wait up to ``TIMEOUT_S`` for the started query ``q`` to finish.

    With ``until`` the query never finishes on its own (processing-time
    trigger): ``until()`` is polled every few seconds and the query is
    stopped once it returns True. Either way, a query not done within
    ``TIMEOUT_S`` is stopped and ``TimeoutError`` names ``spec``."""
    try:
        if until is None:
            done = q.awaitTermination(TIMEOUT_S)
        else:
            deadline = time.monotonic() + TIMEOUT_S
            while not (done := until()) and time.monotonic() < deadline:
                # waits one poll period; raises at once if the query failed
                if q.awaitTermination(_POLL_S):
                    break
            q.stop()
        if not done:
            q.stop()
            raise TimeoutError(
                f"{spec}: streaming query {q.name or q.id} did not finish "
                f"within {TIMEOUT_S} s"
            )
    finally:
        release_static_caches()


def to_memory(
    frame: DataFrame,
    mode: str,
    spec: str,
    until: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """Run the streaming ``frame`` into a uniquely named memory sink in
    output ``mode``, drain it and return the sink's table.

    ``availableNow`` by default; with ``until`` the query runs on the
    default processing-time trigger until ``until(table)`` holds (see
    :func:`drain`)."""
    spark = frame.sparkSession
    name = f"{spec}_{uuid.uuid4().hex[:8]}"
    writer = frame.writeStream.format("memory").queryName(name).outputMode(mode)
    with _state_partitions(spark):
        if until is None:
            q = writer.trigger(availableNow=True).start()
        else:
            q = writer.start()
        try:
            drain(q, spec, None if until is None else lambda: until(spark.table(name)))
        except TimeoutError:
            spark.catalog.dropTempView(name)
            raise
    return spark.table(name)
