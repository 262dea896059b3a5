"""applyInPandasWithState session tracking across micro-batches.

Output goes to a parquet sink so the checkpointed state survives between
availableNow runs (memory sinks cannot recover from a checkpoint).
"""

from __future__ import annotations

import datetime as dt

import pytest

from youtube_analytics_lakehouse_databricks_spark.streaming.stateful import (
    SESSION_GAP_US,
    streaming_sessionize,
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, "user_id long, ts timestamp, value double").coalesce(
        1
    ).write.mode("append").parquet(str(path))


def _run_once(spark, src, out, ckpt):
    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(str(src))
    q = (
        streaming_sessionize(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        pytest.fail("availableNow sessionize query still running after 120 s; stopped it")
    return spark.read.schema(
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, total_value double, closed_by string"
    ).parquet(str(out)).collect()


@pytest.fixture
def few_partitions(spark):
    # each shuffle partition owns a state store instance; 1 partition keeps
    # the stateful micro-batches fast in tests
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.fixture
def no_idle_batches(spark):
    # the processing-time timeout asks for an idle batch after every batch,
    # so an availableNow query never runs dry and stops only at the await
    # timeout; without idle batches it stops after the data batch
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, prev)


@pytest.mark.filterwarnings("ignore")
def test_streaming_sessionize_gap_close_one_trigger(
    spark, tmp_path, few_partitions, no_idle_batches
):
    """One availableNow trigger over events straddling SESSION_GAP_US
    emits the one session the gap closes."""
    src, out, ckpt = tmp_path / "events", tmp_path / "out", tmp_path / "ckpt"
    t0, gap = dt.datetime(2025, 8, 1, 10), dt.timedelta(microseconds=SESSION_GAP_US)
    past_gap = 2 * gap + dt.timedelta(microseconds=1)
    # exactly the gap extends user 1's session; 1 us past it closes it
    _write_batch(spark, src, [(1, t0, 1.0), (1, t0 + gap, 2.0), (1, t0 + past_gap, 4.0), (2, t0, 8.0)])
    running = {q.id for q in spark.streams.active}
    closed = _run_once(spark, src, out, ckpt)
    assert {q.id for q in spark.streams.active} <= running  # finished, no await timeout
    assert [tuple(r) for r in closed] == [(1, t0, t0 + gap, 2, 3.0, "gap")]


@pytest.mark.filterwarnings("ignore")
def test_streaming_sessionize_closes_on_gap(
    spark, tmp_path, few_partitions, no_idle_batches
):
    src, out, ckpt = tmp_path / "events", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    out.mkdir()
    t0 = dt.datetime(2025, 8, 1, 10, 0, 0)
    m = dt.timedelta(minutes=1)
    # user 1: two sessions separated by a 40-minute gap; user 2: one session
    _write_batch(
        spark,
        src,
        [
            (1, t0, 1.0),
            (1, t0 + 5 * m, 2.0),
            (1, t0 + 45 * m, 4.0),  # > 30 min after previous -> new session
            (1, t0 + 50 * m, 8.0),
            (2, t0, 16.0),
        ],
    )
    closed = _run_once(spark, src, out, ckpt)
    # only user 1's first session closes (by the gap); open sessions stay
    # in state awaiting more data or the idle timeout
    assert len(closed) == 1
    s = closed[0]
    assert s["user_id"] == 1
    assert s["n_events"] == 2 and s["total_value"] == 3.0
    assert s["session_start"] == t0 and s["session_end"] == t0 + 5 * m
    assert s["closed_by"] == "gap"

    # a later event with another gap closes user 1's second session; state
    # was recovered from the checkpoint across query restarts
    _write_batch(spark, src, [(1, t0 + 130 * m, 32.0)])
    closed2 = sorted(_run_once(spark, src, out, ckpt), key=lambda r: r["session_start"])
    assert len(closed2) == 2
    s2 = closed2[1]
    assert s2["user_id"] == 1
    assert s2["n_events"] == 2 and s2["total_value"] == 12.0
    assert s2["session_start"] == t0 + 45 * m and s2["session_end"] == t0 + 50 * m
    assert s2["closed_by"] == "gap"
