"""Differential check of the IVF centroid model: every query that
trains IVF centroids runs on Spark, its centroid-literal oracle runs on
DuckDB over the same sf dir, and the two results must be the same row
multiset under tools/check_oracle.py's order-insensitive hash. Both
engines share centroids(), nearest_centroid() and ivf_oracle_head(), so
a drift in the sample, the k rule, the distance fold or the tie-break
shows up here as a hash mismatch."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

from confluent_example_firehose_spark.registry import all_queries

TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)

IVF_QUERIES = (
    "q_similarity_ivf",
    "q_dedup_semantic",
    "q_dedup_embed_ingest",
    "q_ann_index_stream",
    "q_drift_embed_stream",
    "q_dedup_semantic_stream",
)


def _table_hash():
    sys.path.insert(0, TOOLS)
    try:
        from check_oracle import table_hash
    finally:
        sys.path.remove(TOOLS)
    return table_hash


@pytest.mark.parametrize("name", IVF_QUERIES)
def test_ivf_query_matches_its_oracle(spark, sf_dir, monkeypatch, name):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)
    spec = all_queries()[name]
    sql = spec.oracle_sql()
    assert sql is not None, f"{name}: no oracle for {sf_dir}"
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"'{os.path.join(sf_dir, 'embeddings.parquet')}'"
        )
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    finally:
        con.close()
    df = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in df.collect()]
    assert orows, f"{name}: the oracle returned no rows"
    assert sorted(df.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    table_hash = _table_hash()
    assert table_hash(srows, df.columns) == table_hash(orows, ocols)
