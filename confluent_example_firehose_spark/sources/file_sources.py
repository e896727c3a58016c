"""File-format source/sink coverage (SURVEY.md §2.B: parquet/csv/json
scans & sinks — absent from the reference, which is Kafka-only).

Each query is a write->read ROUND TRIP through a temp dir, then an
aggregate the DuckDB oracle computes from the ORIGINAL table — so the
check proves end-to-end fidelity of the sink+source pair, not just
that a file appeared.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.stream_runtime import process_root
from ..registry import register


@register(
    "q_sink_parquet_partitioned",
    oracle="""
    SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY event_type
    """,
)
def q_sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + partition-pruned re-scan: write
    events partitioned by event_type (the layout a 100 TB events table
    would use — hive-style directories, one writer task per partition
    per task), read back with an IN filter that prunes to 2 of the
    directories (PartitionFilters in the scan, non-matching dirs never
    listed)."""
    out = os.path.join(process_root("firehose_pq_"), "events_parted")
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(
        F.col("event_type").isin("click", "view")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "q_scan_csv",
    oracle="""
    SELECT event_type, count(*) AS n, min(event_id) AS min_id,
           max(event_id) AS max_id
    FROM events
    GROUP BY event_type
    """,
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + header/schema-inferred re-scan round trip. Numeric
    and string columns survive textual serialization exactly;
    timestamps are excluded deliberately (CSV has no type — a real
    pipeline pins an explicit schema + timestampFormat)."""
    out = os.path.join(process_root("firehose_csv_"), "events_csv")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").option("header", "true").csv(out)
    back = (
        spark.read.option("header", "true")
        .schema("event_id long, user_id long, event_type string, value double")
        .csv(out)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "q_scan_json",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema-pinned re-scan round trip (the same
    from_json machinery as the firehose ingest path, file-backed).

    Driver-red in r3 (hash only; rows+schema matched). Root cause found
    r4: DuckDB sum(BIGINT) returns HUGEINT (arrow decimal128/pandas
    float64) while Spark returns BIGINT — the value hash sees 123.0 vs
    123. Fix: explicit CAST AS BIGINT in the oracle + canonical ORDER
    BY on both sides."""
    out = os.path.join(process_root("firehose_json_"), "events_json")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("sum_id"),
        )
        .orderBy("event_type")
    )


@register(
    "q_bucketed_join",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_lines,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS VARCHAR)
                AS DOUBLE) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables written bucketBy(8,
    orderkey) into a warehouse, then joined WITHOUT any shuffle — the
    scan emits bucket-aligned partitions, so the sort-merge join runs
    exchange-free. At 100 TB this is THE fact-fact join strategy:
    shuffle each table once at write time, never again at read time.
    (Plan check: tests assert no Exchange between scans and join.)"""
    import uuid

    from .. import catalog

    wh = process_root("firehose_wh_")
    suffix = uuid.uuid4().hex[:8]
    o_tbl, l_tbl = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    orders = catalog.load_table(spark, sf_dir, "orders")
    li = catalog.load_table(spark, sf_dir, "lineitem")
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").format("parquet")
        .option("path", os.path.join(wh, o_tbl)).saveAsTable(o_tbl))
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").format("parquet")
        .option("path", os.path.join(wh, l_tbl)).saveAsTable(l_tbl))
    ob, lb = spark.table(o_tbl), spark.table(l_tbl)
    from pyspark.sql import functions as FF

    # MERGE hint: at testdata scale AQE would broadcast the small side,
    # hiding the property under test; at 100 TB neither side broadcasts
    # and the bucketed sort-merge join (zero exchanges, zero sorts) is
    # exactly the plan this query exists to demonstrate.
    return (
        ob.hint("merge").join(lb, ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            FF.count("*").alias("n_lines"),
            FF.sum(FF.col("l_quantity").cast("decimal(30,10)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@register(
    "q_dpp_join",
    oracle="""
    SELECT od_year,
           count(*) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS VARCHAR)
                AS DOUBLE) AS sum_total
    FROM (
        SELECT year(CAST(o_orderdate AS DATE)) AS od_year, o_totalprice
        FROM orders
    )
    WHERE od_year BETWEEN 1992 AND 1996
    GROUP BY od_year
    """,
)
def q_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is written partitioned
    by order year; the join's dim side (a tiny year dimension) carries a
    selective filter that is only known at RUNTIME to prune fact
    partitions — Catalyst injects a dynamicpruningexpression into the
    fact scan's PartitionFilters, so the non-matching year directories
    are never even listed. At 100 TB this is the difference between
    scanning 2 years and scanning 7 — and it composes with the static
    pruning q_sink_parquet_partitioned demonstrates. (Plan test asserts
    the dynamicpruning subquery on the scan.)

    The decimal-cast sum makes the aggregate order-insensitive (double
    summation order differs between engines); the oracle mirrors it.
    The oracle filter (od_year BETWEEN 1992 AND 1996) matches the dim
    predicate era == 'early' (years 1992-1996) exactly, so the checked
    semantics stay data-independent (r3 ADVICE: the previous IN (1995,
    1996) only matched because the fixture had no pre-1995 orders)."""
    out = os.path.join(process_root("firehose_dpp_"), "orders_by_year")
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.withColumn("od_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("od_year")
        .parquet(out)
    )
    fact = spark.read.parquet(out)
    years = spark.range(1992, 2011).select(
        F.col("id").alias("dim_year"),
        F.when(F.col("id") <= 1996, "early").otherwise("late").alias("era"),
    )
    dim = years.filter(F.col("era") == "early")
    return (
        fact.join(dim, fact.od_year == dim.dim_year)
        .groupBy("od_year")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,10)"))
            .cast("double")
            .alias("sum_total"),
        )
    )


@register(
    "q_scan_orc",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents,
           min(event_id) AS min_id, max(event_id) AS max_id
    FROM events
    GROUP BY event_type
    """,
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + re-scan round trip (zlib, the warehouse default) —
    the remaining columnar format Spark ships a vectorized reader for.
    The aggregate over the re-scan must hash-match an oracle computed
    from the ORIGINAL parquet, proving type fidelity (longs, doubles,
    strings) across the format boundary. Timestamps are excluded: ORC
    stores them zone-shifted relative to parquet's instant semantics,
    and a format round trip must not depend on session-zone luck.

    Scale shape: identical to the parquet path — ORC predicate pushdown
    and column pruning go through the same DataSource V1 scan node; the
    aggregate is map-side combinable."""
    out = os.path.join(process_root("firehose_orc_"), "events_orc")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").option("compression", "zlib").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "value_cents"
        ),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "q_scan_xml",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events
    WHERE event_id < 2000
    GROUP BY event_type
    """,
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML sink + re-scan round trip (Spark 4 built-in `xml`
    format): a bounded event slice serializes to <row> elements and
    reads back with an explicit schema; the aggregate must hash-match
    the ORIGINAL parquet, proving the text round trip loses nothing
    (longs, doubles, strings). The slice is bounded (event_id < 2000)
    because XML is a fixture/interchange format, not a 100 TB scan
    path — and the predicate pushes to the parquet side, not the XML
    side (XML scans parse every row; the plan keeps the heavy filter
    before the sink)."""
    out = os.path.join(process_root("firehose_xml_"), "events_xml")
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", "event_type", "value")
    )
    ev.write.format("xml").option("rowTag", "event").mode("overwrite").save(
        out
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema("event_id long, event_type string, value double")
        .load(out)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "value_cents"
        ),
    )


BINARY_CAP = 50  # files staged for the binaryFile scan


@register(
    "q_scan_binaryfile",
    oracle=f"""
    SELECT doc_id, md5(text) AS content_md5,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    WHERE doc_id < {BINARY_CAP}
    """,
)
def q_scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source — the opaque-payload ingestion path the
    multimodal operators (operators/multimodal.py) consume: each
    document's text is staged as a standalone .bin file, read back via
    the binaryFile format (path, length, content), keyed by parsing the
    doc id out of the file path, and fingerprinted with md5 over the
    raw bytes. The oracle recomputes md5/octet_length from the source
    table — byte-level fidelity through the file boundary.

    Scale shape: binaryFile lists files in parallel and streams each
    as one row — the right source for image/audio blobs; the per-file
    md5 is a narrow map. The stage is capped at {BINARY_CAP} files (a
    fixture write from the driver, one file per task is the real
    layout)."""
    root = process_root("firehose_bin_")
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BINARY_CAP)
        .select("doc_id", "text")
    )
    for row in d.collect():  # bounded by BINARY_CAP: fixture staging,
        # not a data path — the query under test is the READ below
        with open(
            os.path.join(root, f"doc_{row['doc_id']}.bin"), "wb"
        ) as f:
            f.write(row["text"].encode("utf-8"))
    back = spark.read.format("binaryFile").load(root + "/doc_*.bin")
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
        .cast("long")
        .alias("doc_id"),
        F.md5("content").alias("content_md5"),
        F.col("length").cast("long").alias("n_bytes"),
    )


@register(
    "q_scan_text",
    oracle="""
    SELECT count(*) AS n_lines,
           CAST(sum(length(replace(replace(text, chr(10), ' '),
                                   chr(13), ' ')))
                AS BIGINT) AS n_chars,
           count(DISTINCT md5(replace(replace(text, chr(10), ' '),
                                      chr(13), ' '))) AS n_distinct
    FROM documents
    """,
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-based text source round trip (log-file ingestion shape):
    documents.text written via the text sink (one line per doc —
    BOTH \\n and \\r are flattened to spaces first, on both engines,
    because Hadoop's line reader splits on \\n, \\r, and \\r\\n alike
    (a lone CR in a document silently multiplied lines — caught by the
    r6 drift probe), so the one-doc-one-line contract survives any
    future corpus) and
    re-scanned with spark.read.text. The invariant row counts lines,
    characters, and distinct md5 lines — any splitting, reorder,
    truncation, or encoding drift in the text round trip breaks it.

    Scale shape: text scans split by line ranges like any file source;
    the aggregate is one map-side-combinable pass."""
    out = os.path.join(process_root("firehose_text_"), "docs_txt")
    d = load_table(spark, sf_dir, "documents")
    d.select(
        F.regexp_replace("text", "[\n\r]", " ").alias("text")
    ).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("n_chars"),
        F.countDistinct(F.md5("value")).alias("n_distinct"),
    )


COMPACT_SMALL = 64  # staged small files (the small-files problem input)
COMPACT_TARGET = 4  # compacted output files


@register(
    "q_compact_files",
    oracle=f"""
    SELECT CAST({COMPACT_SMALL} AS BIGINT) AS n_files_before,
           CAST({COMPACT_TARGET} AS BIGINT) AS n_files_after,
           count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           CAST(sum(user_id) AS BIGINT) AS sum_user
    FROM events
    """,
)
def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the table-maintenance operator every
    100 TB lake runs: a directory fragmented into COMPACT_SMALL tiny
    parquet files (each its own scan task + NameNode entry at scale)
    is rewritten as COMPACT_TARGET right-sized files via coalesce —
    a NARROW rewrite, no shuffle: each output file concatenates whole
    input files, so the job moves bytes once and never repartitions.
    (repartition() would shuffle everything; it buys even sizes or a
    new sort order — Z-order compaction is q_zorder_layout's job.)

    The invariant row hash-checks exactly-once content survival
    (row count + two id sums vs the original table) plus the before/
    after file counts, pinned deterministically by the staging."""
    import glob as _glob

    root = process_root("firehose_compact_")
    frag, packed = os.path.join(root, "frag"), os.path.join(root, "packed")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(COMPACT_SMALL).write.mode("overwrite").parquet(frag)
    n_before = len(_glob.glob(os.path.join(frag, "part-*.parquet")))
    spark.read.parquet(frag).coalesce(COMPACT_TARGET).write.mode(
        "overwrite"
    ).parquet(packed)
    n_after = len(_glob.glob(os.path.join(packed, "part-*.parquet")))
    back = spark.read.parquet(packed)
    return back.agg(
        F.lit(n_before).cast("long").alias("n_files_before"),
        F.lit(n_after).cast("long").alias("n_files_after"),
        F.count("*").alias("n_rows"),
        F.sum("event_id").alias("sum_id"),
        F.sum("user_id").alias("sum_user"),
    )


@register(
    "q_scan_schema_evolution",
    oracle="""
    SELECT
        count(*) AS n,
        CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT)
            AS n_priced,
        CAST(sum(CASE WHEN o_orderkey % 2 = 1
                      THEN CAST(round(o_totalprice * 100) AS BIGINT)
                      END) AS BIGINT) AS price_cents
    FROM orders
    """,
)
def q_scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on scan (mergeSchema): batch 1 writes orders
    WITHOUT the price column, batch 2 (a later producer version) adds
    it; one mergeSchema read reconciles both footers into the union
    schema, with the missing column NULL for old files — the
    schema-drift reality of any long-lived 100 TB ingest directory.
    The aggregate proves the merge end-to-end: total rows span both
    batches, price is present on exactly the batch-2 rows, and the
    cent sum matches the original table.

    Scale shape: mergeSchema costs one footer read per file at
    planning (production bounds it with a declared read schema once
    drift stabilizes); the data pass is a plain parquet scan."""
    out = os.path.join(process_root("firehose_evo_"), "orders_evo")
    o = load_table(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey"
    ).write.mode("overwrite").parquet(out)
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_cents"),
    ).write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.agg(
        F.count("*").alias("n"),
        F.count("price_cents").alias("n_priced"),
        F.sum("price_cents").alias("price_cents"),
    )


@register(
    "q_scan_json_corrupt",
    oracle="""
    SELECT
        CAST(count(CASE WHEN event_id % 7 <> 0 THEN 1 END) AS BIGINT)
            AS n_good,
        CAST(count(CASE WHEN event_id % 7 = 0 THEN 1 END) AS BIGINT)
            AS n_corrupt,
        CAST(sum(CASE WHEN event_id % 7 <> 0 THEN user_id END)
             AS BIGINT) AS sum_user
    FROM events
    """,
)
def q_scan_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record tolerant JSON ingest (PERMISSIVE +
    columnNameOfCorruptRecord): a staged JSONL where every 7th event
    is truncated garbage parses without failing the job — bad lines
    land in the _corrupt audit column, good lines parse fully, and
    NOTHING is silently dropped (n_good + n_corrupt = the staged line
    count). That quarantine-not-crash contract is what keeps a 100 TB
    ingest running when an upstream producer ships a bad day.

    Integer-only fields keep the round trip exact (doubles through
    JSON text would re-enter float-format territory).

    Scale shape: narrow line parse, one final one-row aggregate."""
    out = os.path.join(process_root("firehose_corrupt_"), "events_jsonl")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    line = F.when(
        F.col("event_id") % 7 == 0, F.lit('{"event_id": broken')
    ).otherwise(
        F.to_json(F.struct("event_id", "user_id", "event_type"))
    )
    ev.select(line.alias("value")).write.mode("overwrite").text(out)
    schema = (
        "event_id long, user_id long, event_type string, _corrupt string"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias(
            "n_corrupt"
        ),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("user_id"))).alias(
            "sum_user"
        ),
    )
