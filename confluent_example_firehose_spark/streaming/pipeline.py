"""Structured Streaming twin of the reference's consume loop.

Reference lifecycle (AbstractFirehose.java:113-142): poll <=1000
records / 60 s -> parse -> handle (keyed gauge upsert) -> endOfSet()
flush -> async offset commit. Spark mapping (SURVEY.md §1.6):

  poll batch          -> micro-batch (trigger + maxOffsetsPerTrigger)
  parse + handle      -> same Catalyst plan as the batch pipeline
  endOfSet() flush    -> foreachBatch(epoch_id, df) sink hook
  commitAsync         -> checkpoint WAL (option('checkpointLocation'))

The Kafka source is a thin option-builder (kafka-clients jar and a
broker aren't in this container, so it can't be exercised here); the
file/rate sources run the identical downstream plan, which is the
point — Structured Streaming plans are source-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# The reference's consumer tuning (Configs.java:28-37), mapped onto
# Spark's Kafka source options.
KAFKA_DEFAULTS = {
    "subscribe": "metrics.v1",  # Configs.java:28
    "startingOffsets": "latest",  # auto.offset.reset=latest, Configs.java:31
    "kafka.isolation.level": "read_committed",  # Configs.java:32
    "maxOffsetsPerTrigger": "1000",  # max.poll.records, Configs.java:33
    "kafka.fetch.min.bytes": "16000",  # Configs.java:36
    "failOnDataLoss": "false",
}


def kafka_source_options(bootstrap: str, **overrides: str) -> dict[str, str]:
    """The exact option dict handed to the Kafka source: reference
    defaults (Configs.java:28-37) + bootstrap + caller overrides
    (overrides win, mirroring the reference's first-wins composite).
    Split out from kafka_metric_stream so the mapping is testable in a
    container with no kafka-clients jar/broker."""
    opts = dict(KAFKA_DEFAULTS)
    # bootstrap seeds the dict BEFORE overrides so a caller-supplied
    # kafka.bootstrap.servers override genuinely wins (ADVICE r2)
    opts["kafka.bootstrap.servers"] = bootstrap
    opts.update(overrides)
    return opts


def kafka_metric_stream(
    spark: SparkSession, bootstrap: str, **overrides: str
) -> DataFrame:
    """readStream from the metrics topic -> parsed metric rows.

    Byte[] value -> from_json against METRIC_SCHEMA with the permissive
    skip (AbstractFirehose.java:98-105,118-123)."""
    from ..operators.firehose import parse_metrics

    raw = (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(bootstrap, **overrides))
        .load()
    )
    # ONE parse/skip implementation for batch and streaming — divergent
    # corrupt-record predicates would make the two paths process
    # different row sets.
    return parse_metrics(raw, value_col="value")


def stage_event_files(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> None:
    """Split the events table into n time-range files under out_dir so
    the file source yields n micro-batches (maxFilesPerTrigger=1) in
    event-time order — the batch twin of n Kafka polls.

    Two determinism guards (r5, found by the streaming hash oracles):

    1. FileStreamSource orders batches by file MODIFICATION TIME; the
       parallel write gives all parts near-identical mtimes, so batch
       order (and therefore which rows are "late" w.r.t. the
       watermark) was nondeterministic. repartitionByRange assigns
       ascending ts ranges to ascending partition ids, so re-stamping
       mtimes in filename order pins arrival = event-time order.
    2. A run-to-completion drain (stream_runtime.drain) never runs a
       batch after the last data file, so the watermark advance from the final batch evicts nothing —
       append-mode sinks permanently miss the last file's closed
       windows. An EMPTY tail file (latest mtime) triggers one final
       flush batch that applies the end-of-data watermark.
    """
    import glob
    import time

    import pyarrow.parquet as pq

    from ..catalog import load_table

    events = load_table(spark, sf_dir, "events")
    events.repartitionByRange(n_files, "ts").write.mode("overwrite").parquet(
        out_dir
    )
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    flush = os.path.join(out_dir, "zz-flush.parquet")
    pq.write_table(
        pq.ParquetFile(parts[0]).schema_arrow.empty_table(), flush
    )
    base = time.time()
    for i, path in enumerate(parts + [flush]):
        os.utime(path, (base + i, base + i))


def file_event_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source streaming twin over staged event files: identical
    downstream plan to the Kafka source; used for exercising the
    streaming layer in this container (no broker available)."""
    batch = spark.read.parquet(events_dir)
    return (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(events_dir)
    )


def latest_value_stream(events: DataFrame) -> DataFrame:
    """Streaming keyed latest-value state (the gauge cache twin,
    AbstractPrometheusFirehose.java:41-51): groupBy + max_by in update
    mode. State store holds one row per series — the streaming
    equivalent of the 10k-gauge cache."""
    return events.groupBy("user_id", "event_type").agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("last_value"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


def windowed_counts_stream(
    events: DataFrame, window: str = "60 seconds", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window aggregation: the producer-side 60 s
    windows the reference consumes pre-computed
    (FirehoseMetric.java:26-46) — here we PRODUCE them, with late-data
    tolerance = watermark (state for closed windows is dropped)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
    )


def metric_latest_value_stream(metrics: DataFrame) -> DataFrame:
    """Latest-value state table for METRIC_SCHEMA rows — the exact
    gauge-registry key: (metric name, key-sorted filtered label vector)
    (AbstractPrometheusFirehose.java:42,48). Works identically on a
    batch or streaming metrics DataFrame (same Catalyst plan)."""
    from ..operators.firehose import series_key_of_entries, sorted_entries

    # The sorted entry array is computed once per row; series, labels
    # and label_values are all read off it (CollapseProject keeps a
    # non-trivial expression used three times in its own Project).
    entries = metrics.select("*", sorted_entries("tags").alias("_entries"))
    keyed = entries.select(
        F.col("name"),
        series_key_of_entries("name", "_entries").alias("series"),
        F.col("component"),
        F.col("_entries.key").alias("labels"),
        F.col("_entries.value").alias("label_values"),
        F.timestamp_seconds(F.col("timestamp")).alias("ts"),
        F.col("value"),
        F.col("id"),
    )
    return keyed.groupBy("name", "series").agg(
        F.max_by("value", F.struct("ts", "id")).alias("last_value"),
        F.max("ts").alias("last_ts"),
        F.first("component").alias("component"),  # gauge namespace,
        # AbstractPrometheusFirehose.java:53-63
        # labels/label_values are functions of the series key (key-
        # sorted), so first() is deterministic per group.
        F.first("labels").alias("labels"),
        F.first("label_values").alias("label_values"),
        F.count(F.lit(1)).alias("n_events"),
    )


def metric_windows(metrics: DataFrame, interval_s: int = 60) -> DataFrame:
    """PRODUCE the 60 s tumbling window struct the reference only
    consumes pre-computed (FirehoseMetric.java:26-46, SURVEY.md §1.2):
    aggregate raw metric points into (from, to, interval) rows shaped
    exactly like the upstream producer's."""
    ts = F.timestamp_seconds(F.col("timestamp"))
    win = F.window(ts, f"{interval_s} seconds")
    return (
        metrics.groupBy(F.col("name"), win.alias("w"))
        .agg(
            F.sum("value").alias("value"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .select(
            "name",
            F.struct(
                F.unix_timestamp("w.start").alias("from"),
                F.unix_timestamp("w.end").alias("to"),
                F.lit(interval_s).alias("interval"),
            ).alias("window"),
            "value",
            "n_points",
        )
    )
