"""transformWithStateInPandas (Spark 4 stateful API) availability pin.

The engine's stateful path uses applyInPandasWithState
(streaming/state.py). Spark 4 replaces it with
transformWithStateInPandas (StatefulProcessor + native per-state TTL —
the closer twin of the reference's Caffeine expireAfterAccess cache,
AbstractPrometheusFirehose.java:20-30). That API's state protocol
speaks protobuf from the Python side, and this container has no
google.protobuf (and installs are disallowed) — probed r4, re-probed
r7/r8/r9/r10 (2026-08-15), r11/r12/r13 (2026-08-16): still no google module —
original trace r4:
StreamingPythonRunnerInitializationException wrapping "ImportError:
cannot import name 'descriptor' from 'google.protobuf'".

Same strategy as the Kafka-jar blocker (test_kafka_source.py): pin the
EXECUTION OUTCOME — either the dependency appeared and the API must
work end-to-end, or it must fail with exactly the recorded missing
dependency. If the environment ever grows protobuf, the first branch
runs the real thing and the migration can proceed.
"""

from __future__ import annotations

import os
import uuid

import pytest


def _protobuf_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_transform_with_state_outcome_is_pinned(spark, tmp_path):
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    root = str(tmp_path)
    src = os.path.join(root, "in")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, 10, 1.5), (1, 20, 2.5), (2, 5, 0.5)],
        "k long, ts_us long, value double",
    ).coalesce(1).write.parquet(os.path.join(src, "f1"))
    stream = spark.readStream.schema("k long, ts_us long, value double").parquet(
        src + "/*"
    )

    out_schema = StructType(
        [
            StructField("k", LongType()),
            StructField("last_ts_us", LongType()),
            StructField("last_value", DoubleType()),
            StructField("n", LongType()),
        ]
    )

    class Latest(StatefulProcessor):
        def init(self, handle):
            # native TTL — the expireAfterAccess twin
            self.s = handle.getValueState(
                "latest", "last_ts_us bigint, last_value double, n bigint", 60_000
            )

        def handleInputRows(self, key, rows, timerValues):
            ts, val, n = None, None, 0
            if self.s.exists():
                prev = self.s.get()
                ts, val, n = prev[0], prev[1], prev[2]
            for pdf in rows:
                n += len(pdf)
                i = pdf["ts_us"].idxmax()
                if ts is None or int(pdf["ts_us"][i]) >= ts:
                    ts = int(pdf["ts_us"][i])
                    val = float(pdf["value"][i])
            self.s.update((ts, val, n))
            yield pd.DataFrame(
                {"k": [key[0]], "last_ts_us": [ts], "last_value": [val], "n": [n]}
            )

        def close(self):
            pass

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        res = stream.groupBy("k").transformWithStateInPandas(
            Latest(), out_schema, "Update", "None"
        )
        name = "t" + uuid.uuid4().hex[:8]
        q = (
            res.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            rows = {r["k"]: r for r in spark.table(name).collect()}
        except Exception as e:  # noqa: BLE001 — outcome pin, both branches asserted
            if _protobuf_available():
                raise  # dependency present: the API must work
            # blocked branch: the TWS Python driver worker dies during
            # init (its nested cause — the protobuf ImportError — is
            # only in the JVM log, not the exception string; protobuf
            # absence is asserted via the import probe above)
            msg = str(e)
            assert (
                "TransformWithStateInPySpark driver worker exited" in msg
                or "STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE" in msg
            )
            pytest.skip(
                "transformWithStateInPandas blocked: no google.protobuf "
                "in container (recorded blocker; applyInPandasWithState "
                "path covers stateful semantics)"
            )
        # live branch: per-key latest value + count must be exact
        assert rows[1]["last_ts_us"] == 20 and rows[1]["last_value"] == 2.5
        assert rows[1]["n"] == 2 and rows[2]["n"] == 1
    finally:
        if prev_provider:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
