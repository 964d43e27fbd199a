"""The catalog's streaming-spec runner (plans/streams.py): a timeout is
an error, staged source files and the scoped shuffle-partition conf never
outlive the query."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from dbt_glue_spark.plans import streams


class _StuckQuery:
    name = "stuck"
    id = "0"

    def __init__(self):
        self.stopped = False

    def awaitTermination(self, timeout):
        return False

    def stop(self):
        self.stopped = True


@pytest.mark.parametrize("until", [None, lambda: False], ids=["available_now", "polled"])
def test_drain_timeout_stops_query_and_raises(monkeypatch, until):
    monkeypatch.setattr(streams, "TIMEOUT_S", 0)
    q = _StuckQuery()
    with pytest.raises(TimeoutError, match="streaming_spec_x"):
        streams.drain(q, "streaming_spec_x", until)
    assert q.stopped


@pytest.fixture()
def staged_dirs(monkeypatch):
    """Record every dir the runner creates with tempfile.mkdtemp."""
    made = []
    real = tempfile.mkdtemp

    def mkdtemp(*args, **kwargs):
        made.append(real(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    return made


def test_to_memory_removes_stage_and_restores_conf(spark, staged_dirs):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "k long, g string")
    with streams.staged(df, 2) as stream:
        out = streams.to_memory(stream.groupBy("g").count(), "complete", "streaming_t")
    assert sorted(map(tuple, out.collect())) == [("a", 2), ("b", 1)]
    assert len(staged_dirs) == 1 and not os.path.exists(staged_dirs[0])
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_to_memory_restores_conf_when_stream_fails(spark, staged_dirs):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    df = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    with pytest.raises(Exception, match="boom"):
        with streams.staged(df, 1) as stream:
            streams.to_memory(
                stream.select(F.raise_error(F.lit("boom")).alias("k")),
                "append",
                "streaming_t",
            )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert len(staged_dirs) == 1 and not os.path.exists(staged_dirs[0])
