"""Sequence packing and training-batch assembly operators: the step
between chunking (curation_queries.q_chunk_documents) and the data
loader — greedy bin-packing of variable-length documents into fixed
token budgets, and deterministic epoch shuffling.

Reference parity note: no counterpart in /root/reference/ (fixed-function
Kafka->Prometheus consumer); extends SURVEY.md §2.C.

Queries are registered by import from registry.all_queries().
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .dedup import WORDS_SQL, words

PACK_BUDGET = 256  # token budget per packed sequence (bin)
PACK_SHARDS = 8  # deterministic layout shards (doc_id % PACK_SHARDS)
EPOCH_SEED = "epoch7"  # epoch-shuffle salt: new epoch = new salt
BATCH_SIZE = 8  # documents per training batch in the epoch shuffle


def next_fit_bins(toks: list[int], budget: int = PACK_BUDGET) -> list[int]:
    """Next-fit packing recurrence (the q_pack_firstfit kernel): assign
    each token count, in order, to the current bin; close the bin when
    the item would overflow a non-empty bin. Oversized items occupy a
    bin alone. Pure function so the carry logic is unit-testable apart
    from the Arrow plumbing."""
    bins: list[int] = []
    fill = 0
    b = 0
    for tok in toks:
        if fill + tok > budget and fill > 0:
            b += 1
            fill = 0
        fill += tok
        bins.append(b)
    return bins


def _sharded_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(words("text")).cast("long").alias("tok"),
    )


@register(
    "q_pack_bins",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
               CAST(len({WORDS_SQL}) AS BIGINT) AS tok
        FROM documents
    ),
    c AS (
        SELECT shard, doc_id, tok,
               COALESCE(sum(tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum
        FROM t
    )
    SELECT shard, CAST(cum // {PACK_BUDGET} AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tok_sum,
           round(CAST(sum(tok) AS DOUBLE) / {PACK_BUDGET}, 6) AS fill_ratio,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c
    GROUP BY shard, bin
    """,
)
def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized sequence packing: shard documents deterministically
    (doc_id % PACK_SHARDS), order each shard by doc_id, and cut bins at
    token-budget boundaries of the EXCLUSIVE running token sum — the
    closed-form approximation of greedy packing (a bin may overflow by
    at most one document; q_pack_firstfit below is the exact stateful
    variant). Emits per-bin occupancy for the loader manifest.

    Scale shape: ONE shuffle, on shard (the window partition key); the
    running sum is a per-partition streaming frame, the bin id is pure
    integer math (cum div budget — no doubles anywhere near the
    grouping key), and the final per-(shard, bin) aggregate reuses the
    same partitioning, so AQE plans it shuffle-free. At 100 TB shard
    count scales with the cluster (shards here stand in for output
    files); nothing is global."""
    t = _sharded_tokens(spark, sf_dir)
    win = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = t.withColumn("cum", F.coalesce(F.sum("tok").over(win), F.lit(0)))
    return (
        c.withColumn("bin", F.expr(f"cum div {PACK_BUDGET}"))
        .groupBy("shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("tok_sum"),
            F.round(F.sum("tok").cast("double") / PACK_BUDGET, 6).alias(
                "fill_ratio"
            ),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "q_pack_firstfit",
    oracle=f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
               CAST(len({WORDS_SQL}) AS BIGINT) AS tok,
               row_number() OVER (
                   PARTITION BY doc_id % {PACK_SHARDS} ORDER BY doc_id
               ) AS seq
        FROM documents
    ),
    rec(shard, seq, doc_id, tok, bin, fill) AS (
        SELECT shard, seq, doc_id, tok, CAST(0 AS BIGINT), tok
        FROM t WHERE seq = 1
        UNION ALL
        SELECT t.shard, t.seq, t.doc_id, t.tok,
               CASE WHEN r.fill + t.tok > {PACK_BUDGET} AND r.fill > 0
                    THEN r.bin + 1 ELSE r.bin END,
               CASE WHEN r.fill + t.tok > {PACK_BUDGET} AND r.fill > 0
                    THEN t.tok ELSE r.fill + t.tok END
        FROM rec r JOIN t ON t.shard = r.shard AND t.seq = r.seq + 1
    )
    SELECT shard, bin, count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS tok_sum,
           round(CAST(sum(tok) AS DOUBLE) / {PACK_BUDGET}, 6) AS fill_ratio,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM rec
    GROUP BY shard, bin
    """,
)
def q_pack_firstfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact next-fit sequence packing: scan each shard in doc_id
    order carrying the current bin's fill; a document that would
    overflow the budget closes the bin (an oversized document occupies
    a bin alone). This is the stateful-carry packing a data loader
    actually runs; the DuckDB oracle replays the identical recurrence
    as a recursive CTE.

    Python justification (the repo rule: every Python kernel carries
    one): the bin boundary depends on the FULL prefix through a
    non-associative carry (fill resets on overflow), so no window
    frame or aggregate expresses it — the same argument as q_ts_ewma's
    fold. It runs as ONE applyInPandas pass per shard (Arrow-batched,
    vectorized pandas inside), one shuffle on shard; shard count is
    the parallelism knob and each group is corpus/shards rows, the
    packing unit a real pipeline would use per output file."""
    t = _sharded_tokens(spark, sf_dir)
    budget = PACK_BUDGET

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        # Inlined next_fit_bins (unit-tested above): the kernel must be
        # self-contained — workers can't import this package when the
        # driver loads the repo via sys.path (nested fns pickle by
        # value, module-level fns only by reference).
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins: list[int] = []
        fill = 0
        b = 0
        for tok in pdf["tok"]:
            if fill + tok > budget and fill > 0:
                b += 1
                fill = 0
            fill += tok
            bins.append(b)
        pdf["bin"] = bins
        return pdf[["shard", "doc_id", "tok", "bin"]]

    packed = t.groupBy("shard").applyInPandas(
        pack, "shard bigint, doc_id bigint, tok bigint, bin bigint"
    )
    return packed.groupBy("shard", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").alias("tok_sum"),
        F.round(F.sum("tok").cast("double") / PACK_BUDGET, 6).alias(
            "fill_ratio"
        ),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "q_pack_epoch_shuffle",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, CAST(len({WORDS_SQL}) AS BIGINT) AS tok,
               md5('{EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)) AS k
        FROM documents
    ),
    s AS (
        SELECT substr(k, 1, 1) AS shard, doc_id, tok, k,
               row_number() OVER (
                   PARTITION BY substr(k, 1, 1) ORDER BY k
               ) AS rn
        FROM t
    )
    SELECT shard, CAST((rn - 1) // {BATCH_SIZE} AS BIGINT) AS batch_id,
           count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tok_sum,
           min(k) AS first_key, max(k) AS last_key
    FROM s
    GROUP BY shard, batch_id
    """,
)
def q_pack_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle + batch assembly: the training-data
    permutation for one epoch is the sort order of md5(seed || doc_id)
    — reproducible across retries, engines, and partitionings (no
    rand() anywhere in this repo; a new epoch is a new salt). Documents
    are sharded by the key's first hex digit (a uniform 16-way split OF
    THE SHUFFLED ORDER, so every shard is an unbiased sample) and cut
    into BATCH_SIZE batches within each shard.

    Scale shape: one shuffle on the 16 hex shards; ranking is
    PARTITIONED row_number (never a global window — the q_text_bm25 r3
    lesson), and batch ids are (shard, local rank div B), which is how
    distributed loaders actually address batches (file, offset). At
    100 TB use more key digits for more shards; same plan."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(words("text")).cast("long").alias("tok"),
        F.md5(
            F.concat(F.lit(f"{EPOCH_SEED}:"), F.col("doc_id").cast("string"))
        ).alias("k"),
    )
    s = t.withColumn("shard", F.substring("k", 1, 1)).withColumn(
        "rn", F.row_number().over(W.partitionBy("shard").orderBy("k"))
    )
    return (
        s.withColumn("batch_id", F.expr(f"(rn - 1) div {BATCH_SIZE}"))
        .groupBy("shard", "batch_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("tok_sum"),
            F.min("k").alias("first_key"),
            F.max("k").alias("last_key"),
        )
    )
