"""Unit tests for the corpus-curation operators (curation_queries.py)
on hand-built frames; the differential gate is tools/check_oracle.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from confluent_example_firehose_spark.operators.curation_queries import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    connected_components,
    morton_key,
    shingle_strings,
)


def test_connected_components_two_components(spark):
    # 1-2-3 chained, 5-6 paired, 9 isolated
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 6, 9)], ["id"])
    und = [(1, 2), (2, 3), (5, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    got = {
        r["id"]: r["comp"] for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path needs multiple propagation rounds (diameter 11)
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    und = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    got = {
        r["id"]: r["comp"] for r in connected_components(nodes, edges).collect()
    }
    assert got == {i: 0 for i in range(n)}


def _union_find(nodes: list[int], edges: list[tuple[int, int]]) -> dict:
    """Reference components: each node labelled with the minimum id of
    its undirected component."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


@pytest.mark.parametrize(
    "nodes,edges",
    [
        ([], []),  # empty graph: no node, no edge
        ([3, 1, 7], []),  # edgeless: every node its own component
        ([1, 2, 3, 4], [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]),  # connected
    ],
    ids=["empty", "edgeless", "already_connected"],
)
def test_connected_components_degenerate_graphs_match_union_find(
    spark, nodes, edges
):
    """Degenerate inputs converge (an empty node set used to burn
    max_iters rounds and raise) and agree with a union-find."""
    ndf = spark.createDataFrame([(i,) for i in nodes], "id long")
    und = edges + [(b, a) for a, b in edges]
    edf = spark.createDataFrame(und, "src long, dst long")
    got = {
        r["id"]: r["comp"]
        for r in connected_components(ndf, edf, max_iters=3).collect()
    }
    assert got == _union_find(nodes, edges)


def test_morton_key_hand_value(spark):
    # x=3 (bits 0,1), y=5 (bits 0,2) -> z bits 0,1,2,5 -> 0b100111 = 39
    row = (
        spark.range(1)
        .select(morton_key(F.lit(3), F.lit(5)).alias("z"))
        .first()
    )
    assert row["z"] == 39


def test_morton_key_orders_locality(spark):
    # adjacent cells in either dimension stay within a small key delta
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 2)], ["x", "y"]
    )
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", morton_key(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    assert got == {(0, 0): 0, (1, 0): 1, (0, 1): 2, (1, 1): 3, (2, 2): 12}


def test_chunking_covers_all_tokens(spark, sf_dir):
    """chunk_len must equal min(CHUNK_SIZE, n_words - start + 1) for its
    start = chunk_id * CHUNK_STRIDE + 1 — i.e., every chunk is full-size
    unless clipped by the document end, and the start grid covers every
    token (last start > n_words - CHUNK_STRIDE)."""
    from confluent_example_firehose_spark.operators.curation_queries import (
        q_chunk_documents,
    )
    from confluent_example_firehose_spark.catalog import load_table
    from confluent_example_firehose_spark.operators.dedup import words

    out = q_chunk_documents(spark, sf_dir)
    nw = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(words("text")).alias("n_words"))
    )
    expect = F.least(
        F.lit(CHUNK_SIZE),
        F.col("n_words") - F.col("chunk_id") * CHUNK_STRIDE,
    )
    joined = out.join(nw, "doc_id")
    assert joined.filter(F.col("chunk_len") != expect).count() == 0
    # the start grid reaches the tail of every document
    last = joined.groupBy("doc_id").agg(
        F.max("chunk_id").alias("mc"), F.first("n_words").alias("nw")
    )
    uncovered = last.filter(
        F.col("mc") * CHUNK_STRIDE + CHUNK_SIZE < F.col("nw")
    )
    assert uncovered.count() == 0
    assert CHUNK_STRIDE < CHUNK_SIZE  # windows genuinely overlap


def test_shingle_strings_distinct_and_ordered(spark):
    df = spark.createDataFrame([(1, "a b c d a b c d")], ["doc_id", "text"])
    row = shingle_strings(df, "doc_id", "text").first()
    # 6 positions but duplicates collapse: a-b-c, b-c-d, c-d-a, d-a-b
    assert sorted(row["sh"]) == ["a b c", "b c d", "c d a", "d a b"]


def test_sample_stratified_deterministic(spark, sf_dir):
    from confluent_example_firehose_spark.operators.curation_queries import (
        q_sample_stratified,
    )

    a = sorted(r["doc_id"] for r in q_sample_stratified(spark, sf_dir).collect())
    b = sorted(r["doc_id"] for r in q_sample_stratified(spark, sf_dir).collect())
    assert a == b and len(a) > 0


def test_contamination_bench_doc_fully_contained(spark):
    """A corpus doc that IS a benchmark doc's text must be 100%
    contaminated; an unrelated doc 0%."""
    from confluent_example_firehose_spark.operators.curation_queries import (
        BENCH_MAX_ID,
    )
    from confluent_example_firehose_spark.operators.dedup import words

    bench_text = "alpha beta gamma delta epsilon"
    rows = [
        (0, bench_text),  # benchmark (id < BENCH_MAX_ID)
        (BENCH_MAX_ID + 1, bench_text),  # fully contaminated
        (BENCH_MAX_ID + 2, "zeta eta theta iota kappa"),  # clean
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = shingle_strings(df, "doc_id", "text")
    bench = (
        sh.filter(F.col("_id") < BENCH_MAX_ID)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    corpus = sh.filter(F.col("_id") >= BENCH_MAX_ID)
    hits = (
        corpus.select("_id", F.explode("sh").alias("s"))
        .join(F.broadcast(bench), "s")
        .groupBy("_id")
        .agg(F.count("*").alias("n_hit"))
    )
    got = {
        r["_id"]: (r["n_hit"] or 0)
        for r in corpus.join(hits, "_id", "left").collect()
    }
    assert got[BENCH_MAX_ID + 1] == 3  # all 3 shingles hit
    assert got[BENCH_MAX_ID + 2] == 0
