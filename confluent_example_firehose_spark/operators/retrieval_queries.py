"""Hybrid retrieval over `documents` + `embeddings`: lexical BM25 and
dense cosine ranked lists fused with Reciprocal Rank Fusion (RRF) —
the standard hybrid-search shape of a RAG / training-data retrieval
stack (Cormack et al., SIGIR'09: score = sum over lists of
1/(k + rank)). Reference parity: the reference engine
(/root/reference) has no retrieval surface; this is a north-star
LLM-pipeline operator mandated by the build brief.

The lexical list is q_text_bm25's exact output (function reuse, same
fixed term query); the dense list ranks the corpus by cosine against
one fixed query embedding (vec_id = RRF_QUERY_VEC, embeddings are
doc-aligned so vec_id == doc_id). RRF works on integer ranks only, so
the fused score 1/(60+r_lex) + 1/(60+r_dense) is bit-identical across
engines with no rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.vector import dot, norm2, to_double_array
from ..registry import register
from .dedup import WORDS_SQL
from .ir_queries import (
    _terms_in,
    BM25_B,
    BM25_K1,
    BM25_QUERY,
    BM25_TOP,
    q_text_bm25,
)

RRF_K = 60  # the standard RRF damping constant
RRF_QUERY_VEC = 3  # fixed dense query: embedding of vec_id 3
DENSE_TOP = 20  # dense list depth (lexical depth is BM25_TOP = 20)
RRF_TOP = 20  # fused output depth


@register(
    "q_hybrid_rrf",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, {WORDS_SQL} AS toks FROM documents
    ),
    dl AS (
        SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM docs
    ),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
        WHERE term IN ({_terms_in(BM25_QUERY)})
        GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ),
    scored AS (
        SELECT tf.doc_id,
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1}
                  * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
               AS s
        FROM tf
        JOIN df USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
    ),
    ltot AS (
        SELECT doc_id, round(sum(s), 6) AS bm25
        FROM scored GROUP BY doc_id
    ),
    ltop AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                    AS BIGINT) AS lex_rank
        FROM ltot ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP}
    ),
    e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE len(embedding) > 0
    ),
    qv AS (SELECT v AS q FROM e WHERE vec_id = {RRF_QUERY_VEC}),
    dtop AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                    AS BIGINT) AS dense_rank
        FROM (SELECT e.vec_id AS doc_id,
                     list_cosine_similarity(e.v, qv.q) AS cos
              FROM e, qv)
        ORDER BY cos DESC, doc_id LIMIT {DENSE_TOP}
    ),
    fused AS (
        SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
               coalesce(1.0 / ({RRF_K} + l.lex_rank), 0)
               + coalesce(1.0 / ({RRF_K} + d.dense_rank), 0) AS rrf,
               l.lex_rank, d.dense_rank
        FROM ltop l FULL OUTER JOIN dtop d ON l.doc_id = d.doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
                AS BIGINT) AS rank,
           doc_id, rrf, lex_rank, dense_rank
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT {RRF_TOP}
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuse the BM25 top-20 and the dense-cosine top-20 into one
    RRF-ranked top-20: rrf = 1/(60+lex_rank) + 1/(60+dense_rank),
    missing-list membership contributing 0. Returns (rank, doc_id,
    rrf, lex_rank, dense_rank) with NULL ranks for single-list docs.

    Scale shape: each list is produced by its own scale-correct plan —
    BM25 filters exploded tokens to the query terms BEFORE any shuffle
    (function-level reuse of q_text_bm25), and the dense side
    broadcasts ONE query vector over a single corpus pass with
    TakeOrderedAndProject for top-k (no global sort, no unpartitioned
    window over the corpus). The fusion then joins two k-row lists —
    driver-trivial at any corpus size, because RRF only ever sees the
    per-list top-k, never the corpus. Ranks are integers, so the fused
    doubles are bit-identical across engines without rounding."""
    lex = q_text_bm25(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.size("embedding") > 0)
        .select("vec_id", to_double_array("embedding").alias("v"))
    )
    q = e.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("v").alias("qv"), norm2(F.col("v")).alias("nq")
    )
    scored = e.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        (dot(F.col("qv"), F.col("v")) / (F.col("nq") * norm2(F.col("v"))))
        .alias("cos"),
    )
    dtop = scored.orderBy(F.col("cos").desc(), "doc_id").limit(DENSE_TOP)
    dw = W.orderBy(F.col("cos").desc(), "doc_id")
    dense = dtop.select(
        "doc_id",
        F.row_number().over(dw).cast("long").alias("dense_rank"),
    )
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("dense_rank")),
                F.lit(0.0),
            )
        ).alias("rrf"),
        "lex_rank",
        "dense_rank",
    )
    top = fused.orderBy(F.col("rrf").desc(), "doc_id").limit(RRF_TOP)
    w = W.orderBy(F.col("rrf").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "rrf",
        "lex_rank",
        "dense_rank",
    )
