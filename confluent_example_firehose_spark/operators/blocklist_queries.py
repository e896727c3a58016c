"""Blocklist (bad-word) filtering over `documents` — the C4 /
RefinedWeb corpus-cleaning stage that drops or flags documents whose
token stream hits a curated word blocklist (Raffel et al. 2020 §2.2
drop any page containing a blocklist word; production pipelines flag
by hit RATIO so a single incidental token doesn't nuke a long doc).

Per-doc metrics are computed entirely row-locally (tokenize, count
blocklist hits, ratio) — like derep_queries this is a ZERO-exchange
plan (pinned in tests/test_cms.py): document text never shuffles, and
at 100 TB the stage is a pure narrow map over the corpus scan.
Flagging uses integer cross-multiplication (n_blocked * DEN >
n_tokens * NUM) rather than a float threshold compare, so the
decision boundary is engine-exact by construction. Reference parity:
the reference engine (/root/reference) has no text-curation surface;
this extends the build brief's text-analysis mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .dedup import WORDS_SQL, words

# Fixed curated blocklist. 'forbidden' never occurs in the synthetic
# corpus — the zero-hit path stays exercised at every SF.
BLOCKLIST = ("slow", "big", "sort", "forbidden")
# flagged iff n_blocked / n_tokens > NUM / DEN (integer cross-multiply)
BLOCK_TAU_NUM = 1
BLOCK_TAU_DEN = 10

_LST_SQL = "[" + ", ".join(f"'{w}'" for w in BLOCKLIST) + "]"


@register(
    "q_text_blocklist",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {WORDS_SQL} AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    m AS (
        SELECT doc_id, len(toks) AS nt,
               len(list_filter(
                   toks, x -> list_contains({_LST_SQL}, x))) AS nb
        FROM t
    )
    SELECT doc_id,
           CAST(nt AS BIGINT) AS n_tokens,
           CAST(nb AS BIGINT) AS n_blocked,
           round(coalesce(
               CAST(nb AS DOUBLE) / nullif(CAST(nt AS DOUBLE), 0.0),
               0.0), 6) AS blocked_ratio,
           CAST(CASE WHEN nb * {BLOCK_TAU_DEN} > nt * {BLOCK_TAU_NUM}
                THEN 1 ELSE 0 END AS BIGINT) AS flagged
    FROM m
    """,
)
def q_text_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document blocklist profile: token count, blocklist-hit
    count (instances, not distinct), hit ratio, and the flag bit
    (ratio > BLOCK_TAU_NUM/BLOCK_TAU_DEN, decided in integer
    arithmetic). Returns (doc_id, n_tokens, n_blocked, blocked_ratio,
    flagged) for every non-null-text document — the downstream
    pipeline chooses drop vs flag.

    Scale shape: one narrow projection over the documents scan — ZERO
    exchanges (plan-pinned); the blocklist is a literal array folded
    into the row expression (real blocklists are O(hundreds) of words
    — still literal/broadcast-sized). blocked_ratio is a single
    rounded quotient of small exact integers (both engines feed the
    division the same IEEE doubles — the q_text_bm25 argument);
    empty-token docs get ratio 0.0 by definition on both engines."""
    w = words("text")
    nt = F.size(w)
    nb = F.size(F.filter(w, lambda x: x.isin(*BLOCKLIST)))
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            nt.cast("long").alias("n_tokens"),
            nb.cast("long").alias("n_blocked"),
            F.round(
                F.when(nt == 0, F.lit(0.0)).otherwise(
                    nb.cast("double") / nt.cast("double")
                ),
                6,
            ).alias("blocked_ratio"),
            F.when(
                nb * BLOCK_TAU_DEN > nt * BLOCK_TAU_NUM, F.lit(1)
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("flagged"),
        )
    )
