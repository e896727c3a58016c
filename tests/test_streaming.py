"""Streaming layer smoke at sf0.001: micro-batch boundaries, the
latest-value registry, and the Prometheus text renderer."""

from __future__ import annotations

import pytest

from confluent_example_firehose_spark.registry import query_fns
from confluent_example_firehose_spark.streaming.sinks import to_prometheus_text


def test_microbatch_flush_epochs(spark, sf_dir):
    out = query_fns()["q_microbatch_flush"](spark, sf_dir).collect()
    # 4 staged data files with maxFilesPerTrigger=1 -> 4 non-empty
    # micro-batches, plus the one empty watermark-flush epoch
    # (stage_event_files); row total = the whole events table.
    assert len(out) == 1
    row = out[0]
    assert row["n_epochs"] == 5
    assert row["n_empty_epochs"] == 1
    assert row["n_rows_total"] > 0


def test_pull_sink_registry_matches_batch(spark, sf_dir):
    from confluent_example_firehose_spark.catalog import load_table
    from pyspark.sql import functions as F

    out = query_fns()["q_sink_pull"](spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    batch = events.groupBy("user_id", "event_type").agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("last_value")
    )
    stream_rows = {
        (r["user_id"], r["event_type"]): r["last_value"] for r in out.collect()
    }
    batch_rows = {
        (r["user_id"], r["event_type"]): r["last_value"]
        for r in batch.collect()
    }
    # the streaming registry converges to exactly the batch answer
    assert stream_rows == batch_rows


def test_prometheus_text_format(spark):
    df = spark.createDataFrame(
        [(1, "click", 2.5), (0, "view", 1.0)],
        ["user_id", "event_type", "last_value"],
    )
    text = to_prometheus_text(df)
    lines = text.strip().splitlines()
    assert lines[0].startswith("# HELP") and lines[1].startswith("# TYPE")
    # sorted by key, label-formatted
    assert lines[2] == 'firehose_last_value{user_id="0",event_type="view"} 1.0'
    assert lines[3] == 'firehose_last_value{user_id="1",event_type="click"} 2.5'


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Restarting from the same checkpoint must process each input file
    exactly once (offset-commit parity: AbstractFirehose.java:131 ->
    checkpoint WAL). Two files first, stop, add two more, restart: the
    second run must only count the new files' rows."""
    import glob
    import shutil

    from confluent_example_firehose_spark.streaming.pipeline import (
        stage_event_files,
    )

    from confluent_example_firehose_spark.operators.stream_runtime import drain

    staged = tmp_path / "staged"
    indir = tmp_path / "input"
    indir.mkdir()
    stage_event_files(spark, sf_dir, str(staged), n_files=4)
    parts = sorted(glob.glob(str(staged / "part-*")))
    assert len(parts) == 4

    batch_schema = spark.read.parquet(str(staged)).schema
    total_rows = spark.read.parquet(str(staged)).count()

    def run_until_drained(counts: list[int]) -> None:
        stream = (
            spark.readStream.schema(batch_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(indir))
        )
        # both runs drain under tmp_path, so they share one checkpoint
        drain(
            stream.writeStream.foreachBatch(
                lambda df, epoch: counts.append(df.count())
            ),
            str(tmp_path),
        )

    for p in parts[:2]:
        shutil.copy(p, indir)
    first: list[int] = []
    run_until_drained(first)

    for p in parts[2:]:
        shutil.copy(p, indir)
    second: list[int] = []
    run_until_drained(second)

    assert len(first) == 2 and len(second) == 2  # no re-processing
    assert sum(first) + sum(second) == total_rows


def test_drain_surfaces_epoch_error_and_leaves_no_query(spark, tmp_path):
    """An epoch that raises ends the drain with that error, and no query
    is left running; a drain on a fresh root then runs to completion."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from confluent_example_firehose_spark.operators.stream_runtime import drain

    indir = tmp_path / "in"
    indir.mkdir()
    for k in range(2):
        path = str(indir / f"b{k}.parquet")
        pq.write_table(pa.table({"x": pa.array([k] * (k + 1), pa.int64())}), path)
        os.utime(path, (1_000_000 + k, 1_000_000 + k))  # replay order

    def writer(per_batch):
        stream = (
            spark.readStream.schema("x long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
        )
        return stream.writeStream.foreachBatch(per_batch)

    def fail_in_epoch_1(df, epoch_id):
        if epoch_id == 1:
            raise RuntimeError("injected")

    with pytest.raises(Exception, match="injected"):
        drain(writer(fail_in_epoch_1), str(tmp_path / "run1"))
    assert spark.streams.active == []

    counts: list[int] = []
    drain(writer(lambda df, _id: counts.append(df.count())), str(tmp_path / "run2"))
    assert counts == [1, 2]
    assert spark.streams.active == []


def test_event_time_ttl_hand_verified(spark, tmp_path):
    """q_stateful_ttl_event on a constructed micro-corpus with sessions
    known by hand: a 2-day event-time gap closes a session mid-stream
    (tombstone emitted when the next event arrives OR when the
    watermark passes — provably the same set on ordered staged input);
    a trailing session closes iff last_ts + TTL < max_ts - 1 h."""
    from datetime import datetime, timedelta

    from confluent_example_firehose_spark.registry import all_queries

    t0 = datetime(2024, 1, 1)

    def ev(eid, dt, uid, etype, val):
        return (eid, t0 + dt, uid, etype, float(val), "{}")

    rows = [
        # key (1, a): two events 1 h apart, then a 10-day gap ->
        # session 1 (n=2, last=v2) closed mid-stream; session 2 (n=1)
        # trailing-closed because t0+10d + 2d < t0+20d - 1h
        ev(1, timedelta(hours=0), 1, "a", 1.0),
        ev(2, timedelta(hours=1), 1, "a", 2.0),
        ev(3, timedelta(days=10), 1, "a", 3.0),
        # key (2, b): single event at the global max ts -> its session
        # survives (last_ts + 2d > max_ts - 1h): NO tombstone
        ev(4, timedelta(days=20), 2, "b", 4.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf_dir = str(tmp_path / "micro_sf")
    df.coalesce(1).write.parquet(sf_dir + "/events.parquet")

    out = all_queries()["q_stateful_ttl_event"].fn(spark, sf_dir)
    got = {
        (r["user_id"], r["event_type"], r["n_events"]): (
            r["last_value"],
            r["last_ts"],
        )
        for r in out.collect()
    }
    assert got == {
        (1, "a", 2): (2.0, t0 + timedelta(hours=1)),
        (1, "a", 1): (3.0, t0 + timedelta(days=10)),
    }


def test_event_time_ttl_boundary_strictness(spark, tmp_path):
    """Pin the EventTimeTimeout firing condition the oracle's strict
    `last_ts + TTL < watermark` mirrors: at EXACT equality
    (deadline == final watermark) Spark does NOT evict; 1 second past
    it, it does. Probed empirically in r6 — if a Spark upgrade flips
    this to >=, the oracle must flip with it, and this test is the
    tripwire."""
    from datetime import datetime, timedelta

    from confluent_example_firehose_spark.registry import all_queries

    t0 = datetime(2024, 1, 1)

    def run(extra):
        rows = [
            (1, t0, 1, "a", 1.0, "{}"),
            # the second key's single event sets the final watermark to
            # t0 + 2d (+ extra): exactly key 1's deadline when extra=0
            (2, t0 + timedelta(days=2, hours=1) + extra, 2, "b", 2.0,
             "{}"),
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        )
        d = str(tmp_path / f"sf_{extra.total_seconds():.0f}")
        df.coalesce(1).write.parquet(d + "/events.parquet")
        return all_queries()["q_stateful_ttl_event"].fn(spark, d).collect()

    assert run(timedelta(0)) == []  # equality: no eviction
    past = run(timedelta(seconds=1))  # strictly past: key 1 evicts
    assert [(r["user_id"], r["event_type"]) for r in past] == [(1, "a")]
