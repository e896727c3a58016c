"""Differential check of the models both engines share: each query
below runs on Spark, its oracle runs on DuckDB over the same sf dir
(every table registered, through tools/check_oracle.py's bounded
connect), and the two results must be the same row multiset under
check_oracle's order-insensitive hash.

- The IVF centroid model: every query that trains IVF centroids. Both
  engines share centroids(), nearest_centroid() and ivf_oracle_head(),
  so a drift in the sample, the k rule, the distance fold or the
  tie-break shows up as a hash mismatch.
- The text model: one query per shared twin — the tokenizer
  (dedup.words / WORDS_SQL), the trigram shingle set and Jaccard
  (word_shingles, jaccard / shingles_sql, jaccard_sql) and the quality
  gate, batch and stream (text_queries.quality_gate /
  quality_gate_sql)."""

from __future__ import annotations

import os
import sys

import pytest

from confluent_example_firehose_spark.registry import all_queries
from confluent_example_firehose_spark.schema import TABLE_NAMES

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

TEXT_QUERIES = (
    "q_text_tokens",
    "q_dedup_near",
    "q_corpus_curation",
    "q_curation_stream",
)


def _check_oracle():
    sys.path.insert(0, TOOLS)
    try:
        import check_oracle
    finally:
        sys.path.remove(TOOLS)
    return check_oracle


def _assert_matches_oracle(spark, sf_dir, monkeypatch, name):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)
    check_oracle = _check_oracle()
    spec = all_queries()[name]
    sql = spec.oracle_sql()
    assert sql is not None, f"{name}: no oracle for {sf_dir}"
    con = check_oracle.connect(sf_dir)
    try:
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
    table_hash = check_oracle.table_hash
    assert table_hash(srows, df.columns) == table_hash(orows, ocols)


@pytest.mark.parametrize("name", IVF_QUERIES)
def test_ivf_query_matches_its_oracle(spark, sf_dir, monkeypatch, name):
    _assert_matches_oracle(spark, sf_dir, monkeypatch, name)


@pytest.mark.parametrize("name", TEXT_QUERIES)
def test_text_query_matches_its_oracle(spark, sf_dir, monkeypatch, name):
    _assert_matches_oracle(spark, sf_dir, monkeypatch, name)


def test_oracle_connection_is_memory_bounded(sf_dir):
    """connect() caps DuckDB at DUCKDB_MEMORY_LIMIT (at most 4 GiB)
    instead of DuckDB's default of 80% of RAM, and registers a view
    per table."""
    check_oracle = _check_oracle()
    con = check_oracle.connect(sf_dir)
    try:
        limit = con.execute(
            "SELECT current_setting('memory_limit')"
        ).fetchone()[0]
        value, unit = limit.split()
        assert unit == "GiB" and float(value) <= 4.0, limit
        views = {
            r[0]
            for r in con.execute(
                "SELECT view_name FROM duckdb_views() WHERE NOT internal"
            ).fetchall()
        }
    finally:
        con.close()
    assert views == set(TABLE_NAMES)
