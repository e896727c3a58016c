"""RocksDB state store: the engine's stateful streaming path must run
on the spill-capable store (r3 roadmap: 'RocksDB state store tuning
once state exceeds heap'). The default HDFSBackedStateStore keeps every
key on heap; at 100 TB key cardinality only RocksDB survives. This
pins that a stateful streaming aggregation (watermarked windowed
counts — real state-store reads/writes per micro-batch) runs
end-to-end under RocksDBStateStoreProvider with results identical to
the default provider.

(applyInPandasWithState + ProcessingTimeTimeout can't use the
availableNow drain here — timeout-drain batches keep scheduling, see
q_stateful_ttl's docstring — so the provider-equivalence check uses
the windowed-agg stateful operator instead; both go through the same
StateStore API.)"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from confluent_example_firehose_spark.streaming.pipeline import (
    file_event_stream,
    stage_event_files,
)

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _run_windowed_counts(spark, events_dir: str, root) -> dict:
    stream = file_event_stream(spark, events_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    name = "t" + uuid.uuid4().hex[:10]
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in spark.table(name).collect()
    }


def test_stateful_agg_runs_on_rocksdb(spark, sf_dir, tmp_path):
    events_dir = str(tmp_path / "ev")
    stage_event_files(spark, sf_dir, events_dir, 2)

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        default_res = _run_windowed_counts(
            spark, events_dir, tmp_path / "default"
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB
        )
        rocks_res = _run_windowed_counts(
            spark, events_dir, tmp_path / "rocks"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev_provider:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    assert rocks_res, "RocksDB run emitted no finalized windows"
    assert rocks_res == default_res  # provider swap must not change results
