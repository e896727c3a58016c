"""Laws of the stream state relations (operators/state_dir.py): a
relation with no rows — never written, appended an empty frame, or
emptied by a versioned rewrite — reads as an empty frame with its
declared schema, and a keyed stream whose relations stay empty through
an epoch is unaffected by it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import confluent_example_firehose_spark.operators.state_dir as sd


def _cols(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def _assert_empty(spark, rel):
    df = rel.read(spark)
    assert _cols(df) == _cols(rel.empty(spark))
    assert df.collect() == []


def test_empty_relations_read_as_declared_empty_frames(spark, tmp_path):
    flat = sd.Relation(str(tmp_path / "flat"), "k bigint, sk binary")
    bucketed = sd.Bucketed(
        str(tmp_path / "bucketed"),
        "cfp string, sh array<bigint>, b_id int, pb int",
    )
    versioned = sd.Versioned(
        str(tmp_path / "versioned"), "root bigint, cmin bigint, pb int"
    )
    # before the first write
    for rel in (flat, bucketed, versioned):
        _assert_empty(spark, rel)
    assert bucketed.scan(spark, lambda: [0, 1], b=1).collect() == []
    assert versioned.scan(spark, [0, 1]).collect() == []
    # appended with an empty frame
    flat.append(spark.createDataFrame([], "k bigint, sk binary"))
    _assert_empty(spark, flat)
    bucketed.append(
        spark.createDataFrame([], "cfp string, sh array<bigint>, b_id int")
        .withColumn("pb", sd.bucket_of(F.col("cfp")))
    )
    _assert_empty(spark, bucketed)
    assert bucketed.scan(spark, lambda: [0, 1], b=1).collect() == []
    # a versioned rewrite that deletes every row
    rows = spark.createDataFrame(
        [(1, 10), (2, 20)], "root bigint, cmin bigint"
    ).withColumn("pb", sd.bucket_of(F.col("root")))
    versioned.rewrite(spark, rows, ("root",))
    assert sorted(tuple(r) for r in versioned.read(spark).collect()) == (
        sorted(tuple(r) for r in rows.collect())
    )
    versioned.rewrite(
        spark, rows.limit(0), ("root",), delete_keys=rows.select("root", "pb")
    )
    _assert_empty(spark, versioned)


def test_write_must_match_the_declared_schema(spark, tmp_path):
    rel = sd.Relation(str(tmp_path / "rel"), "k bigint")
    with pytest.raises(ValueError, match="declared"):
        rel.append(spark.createDataFrame([(1,)], "k int"))


def test_ingest_stream_with_an_all_empty_first_epoch(spark, tmp_path):
    """Epoch 0 holds only quality-failing documents, so every index
    relation is appended an empty frame and the roots/comp relations
    get no version; later epochs must probe those relations as empty.
    Expected ledger by hand: doc 5 duplicates doc 1 inside epoch 1,
    doc 2 duplicates it in epoch 2, doc 6 is new content and doc 7 is
    a near-duplicate of doc 1 (shingle Jaccard 6/7) that joins its
    cluster."""
    from confluent_example_firehose_spark.registry import query_fns

    cat = "the cat sat on a mat today"
    rows = [
        (0, "short text"),
        (4, "x"),
        (1, cat),
        (5, cat),
        (2, cat),
        (6, "the dog ran in a park yesterday"),
        (3, "tiny"),
        (7, cat + " again"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = sorted(
        tuple(r)
        for r in query_fns()["q_ingest_stream"](spark, str(tmp_path)).collect()
    )
    assert out == [
        (0, 0, "quality_fail", None, None),
        (0, 4, "quality_fail", None, None),
        (1, 1, "admitted", None, 1),
        (1, 5, "duplicate", 1, 1),
        (2, 2, "duplicate", 1, 1),
        (2, 6, "admitted", None, 6),
        (3, 3, "quality_fail", None, None),
        (3, 7, "admitted", None, 1),
    ]
