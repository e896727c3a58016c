"""Intra-document de-repetition over `documents` (SURVEY.md §2.C,
LLM-pipeline text cleaning).

Completes the repetition story: q_quality_repetition MEASURES
intra-doc repetition (Gopher gates), q_dedup_lines and
q_text_boilerplate remove CROSS-doc repetition — this operator
REMOVES repetition inside a single document (keep the first
occurrence of every W-word chunk, drop later repeats), the cleanup
step for stutter loops and copy-paste runs in scraped text. Because
the rule never looks outside one row, the whole operator is a narrow
row-local projection: zero shuffles, zero joins, zero Python — pinned
in tests/test_plans_r7.py. Reference parity: the reference engine
(/root/reference) has no text-cleaning surface; this is a north-star
LLM-pipeline operator mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .dedup import WORDS_SQL, words

DEREP_W = 2  # words per chunk (2 keeps ~36% of synthetic docs
#              non-trivial; 3+ makes aligned repeats vanishingly rare)


@register(
    "q_text_derep",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {WORDS_SQL} AS ws FROM documents
    ),
    ex AS (
        SELECT doc_id, ws,
               unnest(range(CAST(ceil(len(ws) / {DEREP_W}.0) AS INTEGER)))
                   AS pos
        FROM w WHERE len(ws) > 0
    ),
    ch AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               array_to_string(
                   ws[pos * {DEREP_W} + 1 : pos * {DEREP_W} + {DEREP_W}],
                   ' ') AS chunk
        FROM ex
    ),
    firsts AS (
        SELECT doc_id, chunk, min(pos) AS fp
        FROM ch GROUP BY doc_id, chunk
    ),
    agg AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(chunk, ' ' ORDER BY fp) AS clean_text
        FROM firsts GROUP BY doc_id
    ),
    tot AS (
        SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id
    )
    SELECT doc_id, n_chunks, n_kept, clean_text
    FROM agg JOIN tot USING (doc_id)
    """,
)
def q_text_derep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the first occurrence of every DEREP_W-word chunk WITHIN
    each document, drop later repeats, rebuild the text. Returns
    (doc_id, n_chunks, n_kept, clean_text).

    Scale shape: the ideal one — everything is a row-local Catalyst
    expression (split -> chunk transform -> array_distinct, which
    preserves first-occurrence order -> array_join), so the plan has
    ZERO exchanges, ZERO joins and ZERO Python; it scales exactly as
    the parquet scan does, at any corpus size, with full whole-stage
    codegen. The oracle replays the rule as a per-doc min(pos)
    census."""
    return derep_text(load_table(spark, sf_dir, "documents"), DEREP_W)


def derep_text(d: DataFrame, line_w: int) -> DataFrame:
    """Intra-doc de-repetition kernel over a (doc_id, text) frame.
    Pinned against a pure-Python seen-set model in
    tests/test_properties.py."""
    st = d.select("doc_id", words("text").alias("w")).filter(
        F.size("w") > 0
    )
    nch = F.ceil(F.size("w") / F.lit(float(line_w))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.array_join(
            F.slice(F.col("w"), i * line_w + 1, line_w), " "
        ),
    )
    return st.select(
        "doc_id",
        F.size(chunks).cast("long").alias("n_chunks"),
        F.size(F.array_distinct(chunks)).cast("long").alias("n_kept"),
        F.array_join(F.array_distinct(chunks), " ").alias("clean_text"),
    )
