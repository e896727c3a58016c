"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource`): a
deterministic firehose-metric GENERATOR source, batch + streaming.

The reference's only source is a Kafka consumer
(AbstractFirehose.java:68-74); its test fixtures are hand-written JSON
records. This source is the Spark-4-idiomatic equivalent of such a
fixture firehose: an infinite-capable, partition-parallel record
generator whose payload is a pure function of the record index — so a
DuckDB `range()` oracle can hash-verify the BATCH path end-to-end
(a first for a source: the oracle replays the generator in SQL), and
the STREAMING path drives real multi-micro-batch offset progression
without any broker.

Implementation note: the DataSource/Reader classes are defined INSIDE
the query functions — Python data sources are pickled into the plan
and unpickled by Python workers, which cannot import this package when
the driver loaded the repo via sys.path (nested classes pickle by
value; the verify-skill gotcha). The ~6-line record formula is
repeated in the batch reader, the stream reader, and the SQL oracle —
kept deliberately identical.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.stream_runtime import process_root
from ..registry import register

GEN_N = 20_000  # batch records
GEN_PARTS = 8  # batch input partitions
GEN_SERIES = 100  # distinct user series
GEN_TYPES = ("click", "view", "purchase", "scroll")
STREAM_N = 5_000  # streaming records total
STREAM_BATCH = 1_000  # records per micro-batch
STREAM_DEADLINE_S = 90  # q_pysource_stream's wait for all STREAM_N

_TYPES_SQL = (
    "CASE i % 4 WHEN 0 THEN 'click' WHEN 1 THEN 'view' "
    "WHEN 2 THEN 'purchase' ELSE 'scroll' END"
)


@register(
    "q_pysource_metrics",
    oracle=f"""
    WITH g AS (
        SELECT i, 1700000000 + i AS ts_s, i % {GEN_SERIES} AS user_id,
               {_TYPES_SQL} AS event_type,
               (i * 2654435761) % 100000 AS cents
        FROM range(0, {GEN_N}) t(i)
    )
    SELECT event_type, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS cents_sum,
           min(i) AS min_id, max(i) AS max_id,
           count(DISTINCT user_id) AS n_users
    FROM g
    GROUP BY event_type
    """,
)
def q_pysource_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read through a custom Python DataSource: GEN_PARTS input
    partitions each generate a contiguous index range (no driver-side
    row materialization — `partitions()` ships only the range bounds),
    then a normal aggregate runs on top. The DuckDB oracle replays the
    identical integer record formula over range(), so the hash match
    verifies the full source protocol: schema, partition planning,
    reader iteration, type mapping.

    Scale shape: a generator source parallelizes by splitting the index
    space — GEN_PARTS stands in for however many tasks the cluster
    wants; each task streams its rows lazily (yield, not a list), so
    memory is O(1) per task. The aggregate is map-side combinable."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    n, parts, series = GEN_N, GEN_PARTS, GEN_SERIES
    types = GEN_TYPES

    class GenReader(DataSourceReader):
        def partitions(self):
            # last partition absorbs the remainder — a plain (p+1)*step
            # upper bound silently drops n % parts records
            step = n // parts
            return [
                InputPartition((p * step, n if p == parts - 1 else (p + 1) * step))
                for p in range(parts)
            ]

        def read(self, part):
            lo, hi = part.value
            for i in range(lo, hi):
                yield (
                    i,
                    1_700_000_000 + i,
                    i % series,
                    types[i % 4],
                    (i * 2654435761) % 100000,
                )

    class FirehoseGenSource(DataSource):
        @classmethod
        def name(cls):
            return "firehose_gen"

        def schema(self):
            return (
                "i bigint, ts_s bigint, user_id bigint, "
                "event_type string, cents bigint"
            )

        def reader(self, schema):
            return GenReader()

    spark.dataSource.register(FirehoseGenSource)
    df = spark.read.format("firehose_gen").load()
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("cents_sum"),
        F.min("i").alias("min_id"),
        F.max("i").alias("max_id"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "q_pysource_stream",
    oracle=f"""
    WITH g AS (
        SELECT i, i % {GEN_SERIES} AS user_id,
               {_TYPES_SQL} AS event_type,
               (i * 2654435761) % 100000 AS cents
        FROM range(0, {STREAM_N}) t(i)
    )
    SELECT event_type, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS cents_sum,
           count(DISTINCT user_id) AS n_users
    FROM g
    GROUP BY event_type
    """,
)
def q_pysource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read through a custom Python data source
    (SimpleDataSourceStreamReader): offsets are `{"i": next_index}`,
    each micro-batch emits STREAM_BATCH records, and the query runs
    under a processing-time trigger until all STREAM_N records have
    arrived — real multi-micro-batch offset progression (5 batches),
    checkpointable and replayable (readBetweenOffsets), with no broker
    in the container.

    Hash-checked (r5): the query refuses to return a partial aggregate
    (deadline error instead), so its output is the exact aggregate of
    the generator formula over [0, STREAM_N) — which the oracle replays
    with range() like the batch twin. A drop or replay of any
    micro-batch breaks the hash: the exactly-once offset contract IS
    the oracle condition."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    n, batch, series = STREAM_N, STREAM_BATCH, GEN_SERIES
    types = GEN_TYPES

    class GenStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def _rows(self, lo, hi):
            # a LIST iterator, not a generator: the engine's prefetch
            # cache copy.copy()s the returned iterator, and generators
            # aren't copyable (TypeError: cannot pickle 'generator')
            return iter(
                [
                    (
                        i,
                        i % series,
                        types[i % 4],
                        (i * 2654435761) % 100000,
                    )
                    for i in range(lo, hi)
                ]
            )

        def read(self, start):
            lo = start["i"]
            hi = min(lo + batch, n)
            return self._rows(lo, hi), {"i": hi}

        def readBetweenOffsets(self, start, end):
            return self._rows(start["i"], end["i"])

    class FirehoseGenStream(DataSource):
        @classmethod
        def name(cls):
            return "firehose_gen_stream"

        def schema(self):
            return "i bigint, user_id bigint, event_type string, cents bigint"

        def simpleStreamReader(self, schema):
            return GenStreamReader()

    spark.dataSource.register(FirehoseGenStream)
    stream = spark.readStream.format("firehose_gen_stream").load()
    root = process_root("firehose_pysrc_")
    name = "t" + uuid.uuid4().hex[:12]
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + STREAM_DEADLINE_S
    try:
        while time.time() < deadline:
            if spark.table(name).count() >= n:
                break
            time.sleep(0.5)
        else:
            raise RuntimeError(
                f"q_pysource_stream: only {spark.table(name).count()} of "
                f"{n} records arrived before the deadline — refusing to "
                "return a partial (nondeterministic) aggregate"
            )
    finally:
        q.stop()
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("cents_sum"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )
