"""Dataset split assignment + cross-split leakage audit (r5, SURVEY
§2.D): the two split-hygiene operators a pre-training pipeline runs —
assign every document a deterministic train/val/test split, then audit
that no near-duplicate pair straddles the train/eval boundary (split
leakage: a val doc whose near-dup sits in train silently inflates
eval).

Reference parity note: the reference (a fixed-function
Kafka->Prometheus consumer, /root/reference/src/main/java/io/confluent/
firehose/) has no counterpart; these extend the BASELINE.json north
star's curation surface.

Cross-engine determinism: the split hash must produce IDENTICAL
buckets in Spark and DuckDB or the oracle cannot exist. xxhash64 is
Spark-only; md5 is the hash both engines implement bit-identically, so
the bucket is the first 8 hex chars of md5('split:' || doc_id) read as
an integer, mod 100 — stable across engines, languages, and reruns
(the property a REAL split assignment needs anyway: a re-run of the
pipeline must never migrate documents between splits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .dedup import (
    WORDS_SQL,
    doc_shingle_hashes,
    fan_out,
    jaccard,
    jaccard_sql,
    minhash_candidate_pairs,
    shingles_sql,
)

TRAIN_PCT = 90  # buckets 0-89
VAL_PCT = 5  # buckets 90-94; test = 95-99
LEAK_JAC = 0.5  # cross-split near-dup threshold

# DuckDB twin of split_bucket()/split_label() — kept adjacent so the
# two definitions can be diffed by eye.
SPLIT_BUCKET_SQL = (
    "CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))"
    " AS BIGINT) % 100"
)
SPLIT_LABEL_SQL = f"""
    CASE WHEN {SPLIT_BUCKET_SQL} < {TRAIN_PCT} THEN 'train'
         WHEN {SPLIT_BUCKET_SQL} < {TRAIN_PCT + VAL_PCT} THEN 'val'
         ELSE 'test' END
"""


def split_bucket(doc_id: Column | str) -> Column:
    """Deterministic 0-99 bucket from md5 of the salted doc id. conv()
    parses the 32-bit hex prefix as an unsigned decimal string; the
    bigint cast is exact (max 2^32-1)."""
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    salted = F.concat(F.lit("split:"), c.cast("string"))
    return (
        F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("bigint") % 100
    )


def split_label(doc_id: Column | str) -> Column:
    b = split_bucket(doc_id)
    return (
        F.when(b < TRAIN_PCT, "train")
        .when(b < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )


@register(
    "q_split_assign",
    oracle=f"""
    SELECT {SPLIT_LABEL_SQL} AS split, lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) + the per-split
    language-mix report a pipeline reviews before training. Hash-based
    (not row_number/rand): assignment is a pure function of doc_id, so
    appending documents or re-running the job never migrates existing
    docs between splits — the property that keeps eval sets stable
    across dataset versions.

    Scale shape: one narrow projection (md5 per row, JVM codegen) +
    one map-side-combinable hash agg on a 15-key space. No shuffle of
    document payloads, no window, no sampling state."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("split", split_label("doc_id"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
    )


@register(
    "q_split_leakage",
    oracle=f"""
    WITH labeled AS (
        SELECT doc_id, text, {SPLIT_LABEL_SQL} AS split
        FROM documents
    ),
    w AS (SELECT doc_id, split, {WORDS_SQL} AS ws FROM labeled),
    sh AS (
        SELECT doc_id, split, {shingles_sql("ws")} AS s
        FROM w WHERE len(ws) >= 3
    )
    SELECT train_id, eval_id, eval_split, jac FROM (
        SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
               e.split AS eval_split,
               round({jaccard_sql("t.s", "e.s")}, 6) AS jac
        FROM sh t, sh e
        WHERE t.split = 'train' AND e.split <> 'train'
    ) WHERE jac >= {LEAK_JAC}
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-dup audit: every (train doc, eval doc) pair
    whose shingle Jaccard clears LEAK_JAC — the contamination report
    that decides whether an eval split is trustworthy. Composition of
    the engine's own primitives: the split is q_split_assign's hash
    function, candidates come from the SAME banded MinHash-LSH pipeline
    as q_dedup_near (one bucket shuffle, no O(n^2) pair materialization
    on the Spark side), and the verify is the exact hashed-shingle
    Jaccard.

    Hash-checked vs the exact O(n^2) oracle under the q_dedup_near
    recall argument: corpus dup pairs sit at jac >= 0.9, far above the
    0.5 threshold, where the 8-band scheme's miss probability is
    ~2e-4 per pair; the oracle's all-pairs form is feasible only at
    smoke scale. Output direction is canonical (train doc first), so
    a pair of near-dup eval docs never appears — only train->eval
    leakage, which is the actionable kind (drop the eval doc or the
    train doc, policy's choice)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    sh = doc_shingle_hashes(d, "doc_id", "text", out="sh").persist()
    cands = minhash_candidate_pairs(
        d, "doc_id", "text", num_hashes=32, bands=8, shingles=sh
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sha"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("shb"))
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("sha"), F.col("shb")).alias("jac"),
        )
        .filter(F.col("jac") >= LEAK_JAC)
    )
    # orient each pair train -> eval; drop same-split pairs
    sa, sb = split_label("id_a"), split_label("id_b")
    from ..caching import materialize_unpersist

    return materialize_unpersist(
        verified.withColumn("split_a", sa)
        .withColumn("split_b", sb)
        .filter(
            ((F.col("split_a") == "train") & (F.col("split_b") != "train"))
            | ((F.col("split_b") == "train") & (F.col("split_a") != "train"))
        )
        .select(
            F.when(F.col("split_a") == "train", F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("train_id"),
            F.when(F.col("split_a") == "train", F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("eval_id"),
            F.when(F.col("split_a") == "train", F.col("split_b"))
            .otherwise(F.col("split_a"))
            .alias("eval_split"),
            F.round("jac", 6).alias("jac"),
        ),
        sh,
    )
