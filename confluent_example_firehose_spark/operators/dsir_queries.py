"""DSIR-style data selection with importance resampling (Xie et al.
2023, "Data Selection for Language Models via Importance Resampling")
over `documents` (SURVEY.md §2.C, LLM-pipeline data selection).

Hashed-unigram importance weights: the target domain (lang = 'en')
and the raw pool (every other doc) each get a B-bucket hashed token
census; every pool document is scored by the log-likelihood ratio of
its tokens under the two (add-one-smoothed) distributions and the
top-N highest-weight docs are selected — the deterministic top-k
variant of DSIR's gumbel resample, which keeps the operator
oracle-checkable. Reference parity: the reference engine
(/root/reference) has no data-selection surface; this is a
north-star LLM-pipeline operator mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .dedup import WORDS_SQL, portable_hash60, words

DSIR_B = 512  # hashed-feature buckets
DSIR_TOP = 100  # selected docs (deterministic top-k resample)
DSIR_TARGET_LANG = "en"  # the target-domain predicate


@register(
    "q_dsir_sample",
    oracle=f"""
    WITH tb AS (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(term), 1, 15) AS BIGINT)
                   % {DSIR_B} AS b
        FROM (SELECT doc_id, lang, unnest({WORDS_SQL}) AS term
              FROM documents)
    ),
    p AS (
        SELECT b, count(*) AS pc FROM tb
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
    ),
    q AS (
        SELECT b, count(*) AS qc FROM tb
        WHERE lang <> '{DSIR_TARGET_LANG}' GROUP BY b
    ),
    tot AS (
        SELECT
            (SELECT count(*) FROM tb
             WHERE lang = '{DSIR_TARGET_LANG}') AS pt,
            (SELECT count(*) FROM tb
             WHERE lang <> '{DSIR_TARGET_LANG}') AS qt
    ),
    w AS (
        SELECT q.b,
               ln(CAST((coalesce(p.pc, 0) + 1) * (tot.qt + {DSIR_B})
                       AS DOUBLE)
                  / CAST((q.qc + 1) * (tot.pt + {DSIR_B}) AS DOUBLE))
                   AS w
        FROM q LEFT JOIN p USING (b) CROSS JOIN tot
    ),
    tf AS (
        SELECT doc_id, b, count(*) AS tf FROM tb
        WHERE lang <> '{DSIR_TARGET_LANG}' GROUP BY doc_id, b
    ),
    wt AS (
        SELECT doc_id, round(sum(tf * w.w), 6) AS weight,
               CAST(sum(tf) AS BIGINT) AS n_tokens
        FROM tf JOIN w USING (b) GROUP BY doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY weight DESC, doc_id)
                AS BIGINT) AS rank,
           doc_id, weight, n_tokens
    FROM wt ORDER BY weight DESC, doc_id LIMIT {DSIR_TOP}
    """,
)
def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select the DSIR_TOP pool documents whose hashed-unigram
    distribution is most target-like: weight(doc) = sum over token
    instances of ln(p_hat(bucket) / q_hat(bucket)) with add-one
    smoothing over DSIR_B buckets. Returns (rank, doc_id, weight,
    n_tokens).

    Scale shape: both censuses aggregate to <= DSIR_B rows (map-side
    combine collapses the token stream per partition first), so the
    bucket-weight table is broadcast everywhere it is joined — the
    corpus-sized data moves through exactly ONE shuffle, the per-doc
    (doc_id, bucket) term census at ~16 B/row; token text never
    shuffles (portable_hash60 buckets, DuckDB replays the md5). Top-N
    is TakeOrdered (no global sort). Determinism across engines:
    bucket weights are ln() of a quotient of EXACT int64 products
    (every product < 2^53, so the double conversion is lossless and
    both engines feed ln the same IEEE double); per-doc sums are ~50
    similar-magnitude doubles whose association-order error is
    ~1e-14, seven orders below the 6-dp rounding — same argument as
    q_text_bm25, hash-green since r4."""
    d = load_table(spark, sf_dir, "documents")
    return dsir_select(d, DSIR_TARGET_LANG, DSIR_B, DSIR_TOP)


def dsir_select(
    d: DataFrame, target_lang: str, n_buckets: int, top: int
) -> DataFrame:
    """DSIR selection kernel over a (doc_id, lang, text) frame: score
    every non-target doc by the smoothed hashed-unigram log-likelihood
    ratio against the target-lang docs; keep the `top` highest.
    Pinned against a pure-Python model in tests/test_properties.py."""
    tb = d.select(
        "doc_id",
        (F.col("lang") == target_lang).alias("tgt"),
        F.explode(words("text")).alias("term"),
    ).select(
        "doc_id",
        "tgt",
        (portable_hash60(F.col("term")) % n_buckets).alias("b"),
    )
    # ONE corpus scan: every other table is a re-aggregation of this
    # doc-level census (both per-lang censuses, both totals), so
    # persist it — exchange reuse does NOT cover the branches because
    # Catalyst pushes the tgt/~tgt filters through the aggregate into
    # five differently-filtered scans (measured: 5 scans, 0
    # ReusedExchange without the persist; plan-pinned in
    # tests/test_plans_r7.py). Same persist-without-unpersist pattern
    # as q_dedup_near's shingle table. Measured trade at sf0.1
    # local[32] (SCALE.md): the persist costs ~0.9 s of cache
    # materialization + serialization that the no-persist form hides
    # by running its five tiny redundant scans in parallel — but the
    # redundancy is 5x corpus TOKENIZATION at scale, which is the
    # side of the trade that explodes at 100 TB.
    tf_all = (
        tb.groupBy("doc_id", "tgt", "b")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    p = (
        tf_all.filter(F.col("tgt"))
        .groupBy("b")
        .agg(F.sum("tf").alias("pc"))
    )
    tf = tf_all.filter(~F.col("tgt")).select("doc_id", "b", "tf")
    q = tf.groupBy("b").agg(F.sum("tf").alias("qc"))
    tot = (
        p.agg(F.coalesce(F.sum("pc"), F.lit(0)).alias("pt"))
        .crossJoin(
            q.agg(F.coalesce(F.sum("qc"), F.lit(0)).alias("qt"))
        )
    )
    w = (
        q.join(F.broadcast(p), "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.log(
                (
                    (F.coalesce(F.col("pc"), F.lit(0)) + 1)
                    * (F.col("qt") + n_buckets)
                ).cast("double")
                / ((F.col("qc") + 1) * (F.col("pt") + n_buckets)).cast(
                    "double"
                )
            ).alias("w"),
        )
    )
    wt = (
        tf.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("tf") * F.col("w")), 6).alias("weight"),
            F.sum("tf").alias("n_tokens"),
        )
    )
    sel = wt.orderBy(F.col("weight").desc(), "doc_id").limit(top)
    rw = W.orderBy(F.col("weight").desc(), "doc_id")
    from ..caching import materialize_unpersist

    return materialize_unpersist(
        sel.select(
            F.row_number().over(rw).cast("long").alias("rank"),
            "doc_id",
            "weight",
            "n_tokens",
        ),
        tf_all,
    )
