"""Golden-fixture test mirroring the reference's only unit test.

The reference parses one JSON record and asserts nothing
(FirehoseMetricTest.java:24-28, fixture at :16). We parse the same
fixture through METRIC_SCHEMA and assert every field plus the derived
label projections (FIXTURES.md §A expected values) — strictly stronger.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from confluent_example_firehose_spark.operators.firehose import (
    label_values,
    labels,
    parse_metrics,
    series_key,
)

GOLDEN_JSON = (
    '{"id":"2e2a44dc-9ccb-483c-9abb-2f18b43c7c8a","name":"request_bytes_total",'
    '"timestamp":1572402480,"component":"kafka",'
    '"tags":{"request_type":"ApiVersions","source":"kafka-3","tenant":"lkc-loz7y",'
    '"unit":"bytes","user":"1191"},'
    '"value":47,'
    '"window":{"from":1572402420,"interval":60,"to":1572402480}}'
)


def test_golden_parse(spark):
    df = spark.createDataFrame([(GOLDEN_JSON,)], "value string")
    m = parse_metrics(df).collect()[0]
    assert m.id == "2e2a44dc-9ccb-483c-9abb-2f18b43c7c8a"
    assert m.name == "request_bytes_total"
    assert m.timestamp == 1572402480
    assert m.component == "kafka"
    assert m.tags["request_type"] == "ApiVersions"
    assert m.tags["unit"] == "bytes"
    assert m.value == 47.0
    assert m.window["from"] == 1572402420
    assert m.window["to"] == 1572402480
    assert m.window["interval"] == 60


def test_golden_labels(spark):
    df = spark.createDataFrame([(GOLDEN_JSON,)], "value string")
    row = (
        parse_metrics(df)
        .select(
            labels("tags").alias("labels"),
            label_values("tags").alias("values"),
            series_key("name", "tags").alias("key"),
        )
        .collect()[0]
    )
    # Key-sorted, 'unit' filtered (FirehoseMetric.java:12-16,65-102).
    assert row.labels == ["request_type", "source", "tenant", "user"]
    assert row.values == ["ApiVersions", "kafka-3", "lkc-loz7y", "1191"]
    assert row.key == (
        "request_bytes_total|request_type=ApiVersions,"
        "source=kafka-3,tenant=lkc-loz7y,user=1191"
    )


def test_corrupt_record_skipped(spark):
    """Permissive parse: bad record logged & skipped in the reference
    (AbstractFirehose.java:118-123) -> filtered out here."""
    df = spark.createDataFrame(
        [(GOLDEN_JSON,), ("not json at all {",), (None,)], "value string"
    )
    assert parse_metrics(df).count() == 1


def test_parse_decodes_each_record_once(spark):
    """One from_json in the physical plan: the skip predicate must not
    be pushed below the decode as extra (pruned) from_json copies."""
    df = spark.createDataFrame([(GOLDEN_JSON,)], "value string")
    plan = parse_metrics(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_json(") == 1, plan


def test_parse_skip_predicate_per_row_shape(spark):
    """Kept iff the record decodes with an id or a name: id-only and
    name-only records survive; a record with neither, corrupt JSON and
    a null value are skipped."""
    df = spark.createDataFrame(
        [
            (GOLDEN_JSON,),
            ('{"id":"only-id","value":1}',),
            ('{"name":"only_name","value":2}',),
            ('{"component":"kafka","value":3}',),
            ("{}",),
            ('{"id": "trunc',),
            ("not json at all {",),
            (None,),
        ],
        "value string",
    )
    got = sorted(
        (r.id or "", r.name or "", r.value) for r in parse_metrics(df).collect()
    )
    assert got == [
        ("", "only_name", 2.0),
        ("2e2a44dc-9ccb-483c-9abb-2f18b43c7c8a", "request_bytes_total", 47.0),
        ("only-id", "", 1.0),
    ]


def test_last_value_semantics(spark):
    """Arrival-order last-write-wins (AbstractPrometheusFirehose.java:45)
    becomes latest-by-total-order in the batch twin."""
    from confluent_example_firehose_spark.operators.firehose import last_value_table

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 15.0), ("b", 1, 5.0)],
        "name string, seq int, value double",
    )
    out = {
        r.name: r.last_value
        for r in last_value_table(df, ["name"], "value", ["seq"]).collect()
    }
    assert out == {"a": 15.0, "b": 5.0}


def test_metric_latest_value_golden(spark):
    """The gauge-registry twin on METRIC_SCHEMA rows: two points of the
    golden series collapse to the later value under the exact series
    key (name + sorted filtered labels, 'unit' excluded)."""
    from confluent_example_firehose_spark.streaming.pipeline import (
        metric_latest_value_stream,
        metric_windows,
    )

    second = GOLDEN_JSON.replace('"timestamp":1572402480', '"timestamp":1572402540').replace(
        '"value":47', '"value":99'
    ).replace("2e2a44dc", "ffffffff")
    df = spark.createDataFrame([(GOLDEN_JSON,), (second,)], "value string")
    metrics = parse_metrics(df)
    state = metric_latest_value_stream(metrics).collect()
    assert len(state) == 1
    row = state[0]
    assert row["last_value"] == 99.0
    assert row["n_events"] == 2
    assert row["component"] == "kafka"
    assert "unit=" not in row["series"]  # FilteredTags exclusion
    assert row["series"].startswith("request_bytes_total|")

    wins = metric_windows(metrics).collect()
    # 1572402480 and 1572402540 fall in different 60s windows
    assert {(w["window"]["from"], w["window"]["to"]) for w in wins} == {
        (1572402480, 1572402540),
        (1572402540, 1572402600),
    }
    assert all(w["window"]["interval"] == 60 for w in wins)
