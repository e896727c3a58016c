"""Corpus-quality heuristics beyond text_queries.py's per-document
scorers: repetition detection (the Gopher-style intra-document
repetition rules), document-length distribution profiling, and source/
domain-mix auditing — the remaining quality gates a pre-training
curation stack runs before mixing.

Reference parity note: the reference (a fixed-function Kafka->Prometheus
consumer, /root/reference/src/main/java/io/confluent/firehose/) has no
counterpart; these extend SURVEY.md §2.C's north-star operator list.

Queries are registered by import from registry.all_queries().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .dedup import WORDS_SQL, words

# Gopher-style repetition thresholds, applied to the ROUNDED fractions
# in BOTH engines so the decision frontier is quantized away from any
# ULP noise (the r3 ADVICE lesson from q_ts_anomaly).
TOP_UNIGRAM_MAX = 0.12
TOP_BIGRAM_MAX = 0.08


def repetition_profile(docs: DataFrame) -> DataFrame:
    """Per-document repetition stats over (doc_id, text): word count,
    distinct-word count, top-unigram and top-bigram mass fractions, and
    a repetition flag — the intra-document repetition rules from the
    Gopher quality pipeline, adapted to n-grams (the corpus has no line
    structure to measure duplicate lines against).

    Scale shape (r6 rewrite — ZERO shuffles): every output is a pure
    function of one document's words array, so the per-term counting
    runs ROW-LOCALLY in an Arrow-batched pandas kernel (numpy unique +
    counts per doc) instead of explode -> groupBy(doc_id, term) ->
    groupBy(doc_id). The previous shape shuffled the corpus's entire
    distinct (doc, term) multiset twice per run — map-side-combinable,
    and trimmed in r5 by recoding terms to xxhash64 longs, but still
    O(corpus vocabulary) network bytes that a per-document statistic
    never needed. The kernel replaces both aggregations AND the final
    join with one narrow map (the deliberate-UDF exception documented
    at dedup.simhash_fingerprints: vectorized Arrow batches beat
    interpreted higher-order array folds, and a narrow map keeps the
    plan shape shuffle-free at any scale). Bigrams join tokens with a
    single space — tokens cannot contain whitespace, so the encoding
    is injective and matches the oracle's w[i] || ' ' || w[i+1]
    verbatim. Output is bit-identical to the aggregation form (counts
    are integers; the two ratio divisions round at 6 digits on both
    engines)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "struct<n_words:long,n_distinct:long,top_uni:long,"
        "top_bi:long,n_bigrams:long>"
    )
    # no type annotations: the module's `from __future__ import
    # annotations` would stringify them and break pandas_udf's
    # signature inference; the decorator's returnType is authoritative
    def _doc_stats(ws):
        out = np.zeros((len(ws), 5), dtype=np.int64)
        for i, a in enumerate(ws):
            arr = np.asarray(a)
            n = len(arr)  # >= 2: the size filter runs before the UDF
            _, uc = np.unique(arr, return_counts=True)
            _, bc = np.unique(
                arr[:-1] + " " + arr[1:], return_counts=True
            )
            out[i] = (n, len(uc), uc.max(), bc.max(), n - 1)
        return pd.DataFrame(
            out,
            columns=[
                "n_words", "n_distinct", "top_uni", "top_bi", "n_bigrams"
            ],
        )

    staged = docs.select(
        "doc_id", words("text").alias("w")
    ).filter(F.size("w") >= 2)
    stats = staged.select(
        "doc_id", _doc_stats(F.col("w")).alias("s")
    ).select("doc_id", "s.*")
    top_uni_frac = F.round(
        F.col("top_uni").cast("double") / F.col("n_words"), 6
    )
    top_bi_frac = F.round(
        F.col("top_bi").cast("double") / F.col("n_bigrams"), 6
    )
    return stats.select(
        "doc_id",
        F.col("n_words"),
        F.col("n_distinct"),
        F.round(F.col("n_distinct").cast("double") / F.col("n_words"), 6)
        .alias("distinct_ratio"),
        top_uni_frac.alias("top_unigram_frac"),
        top_bi_frac.alias("top_bigram_frac"),
        (
            (top_uni_frac > TOP_UNIGRAM_MAX)
            | (top_bi_frac > TOP_BIGRAM_MAX)
        )
        .cast("long")
        .alias("flag_repetitive"),
    )


@register(
    "q_quality_repetition",
    oracle=f"""
    WITH st AS (
        SELECT doc_id, w
        FROM (SELECT doc_id, {WORDS_SQL} AS w FROM documents)
        WHERE len(w) >= 2
    ),
    uni AS (
        SELECT doc_id, t, count(*) AS c
        FROM (SELECT doc_id, unnest(w) AS t FROM st)
        GROUP BY doc_id, t
    ),
    ua AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
               CAST(max(c) AS BIGINT) AS top_uni,
               CAST(count(*) AS BIGINT) AS n_distinct
        FROM uni GROUP BY doc_id
    ),
    bg AS (
        SELECT doc_id, g, count(*) AS c
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w)),
                                         i -> w[i] || ' ' || w[i + 1])) AS g
            FROM st
        )
        GROUP BY doc_id, g
    ),
    ba AS (
        SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bi,
               CAST(sum(c) AS BIGINT) AS n_bigrams
        FROM bg GROUP BY doc_id
    )
    SELECT ua.doc_id, n_words, n_distinct,
           round(CAST(n_distinct AS DOUBLE) / n_words, 6) AS distinct_ratio,
           round(CAST(top_uni AS DOUBLE) / n_words, 6) AS top_unigram_frac,
           round(CAST(top_bi AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac,
           CAST(round(CAST(top_uni AS DOUBLE) / n_words, 6)
                    > {TOP_UNIGRAM_MAX}
                OR round(CAST(top_bi AS DOUBLE) / n_bigrams, 6)
                    > {TOP_BIGRAM_MAX} AS BIGINT) AS flag_repetitive
    FROM ua JOIN ba USING (doc_id)
    """,
)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition gate (see repetition_profile)."""
    return repetition_profile(load_table(spark, sf_dir, "documents"))


@register(
    "q_quality_length_profile",
    oracle="""
    SELECT lang, CAST(length(bin(n_chars)) AS BIGINT) AS bucket,
           count(*) AS n_docs,
           min(n_chars) AS chars_min, max(n_chars) AS chars_max,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           round(CAST(count(*) AS DOUBLE)
                 / sum(count(*)) OVER (PARTITION BY lang), 6) AS doc_share
    FROM documents
    GROUP BY lang, bucket
    """,
)
def q_quality_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution per language: power-of-two length
    buckets (bucket = bit-length of n_chars — pure integer/string ops,
    engine-exact, unlike floor(log2(x)) whose ULP at exact powers of
    two differs between libm implementations), with per-bucket count,
    range, and the bucket's share of its language's documents.

    Scale shape: one hash aggregation on (lang, bucket) — tiny key
    space, full map-side combine — then a window over the AGGREGATED
    frame (cardinality = langs x ~12 buckets, partitioned by lang), so
    the window input is bounded by construction, not by data volume."""
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select("lang", F.length(F.bin("n_chars")).cast("long").alias("bucket"),
                 "n_chars")
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("chars_min"),
            F.max("n_chars").alias("chars_max"),
            F.sum("n_chars").alias("chars_sum"),
        )
    )
    return g.select(
        "lang", "bucket", "n_docs", "chars_min", "chars_max", "chars_sum",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(W.partitionBy("lang")),
            6,
        ).alias("doc_share"),
    )


@register(
    "q_quality_domain_mix",
    oracle=f"""
    WITH g AS (
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(nw) AS BIGINT) AS n_tokens
        FROM (
            SELECT source, lang, len({WORDS_SQL}) AS nw
            FROM documents
        )
        GROUP BY source, lang
    )
    SELECT source, lang, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE)
                 / (SELECT sum(n_tokens) FROM g), 6) AS token_share
    FROM g
    """,
)
def q_quality_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/domain mix audit: documents and tokens per (source, lang)
    cell plus each cell's share of total corpus tokens — the mixing
    table a pre-training run is configured from.

    Scale shape: one hash aggregation on the tiny (source, lang) key
    space; the corpus-total denominator comes from a one-row aggregate
    crossJoin-broadcast onto the grouped frame (the q_text_tfidf
    pattern) — construction stays lazy and there is no empty-partition
    window anywhere."""
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select("source", "lang", F.size(words("text")).alias("nw"))
        .groupBy("source", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("nw").alias("n_tokens"))
    )
    tot = g.agg(F.sum("n_tokens").alias("tot"))
    return g.crossJoin(F.broadcast(tot)).select(
        "source", "lang", "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("n_tokens").cast("double") / F.col("tot"), 6).alias(
            "token_share"
        ),
    )


@register(
    "q_quality_source_norm",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, source,
               round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6)
                   AS score
        FROM (SELECT doc_id, source, {WORDS_SQL} AS ws FROM documents)
        WHERE len(ws) > 0
    ),
    p AS (
        SELECT doc_id, source, score,
               percent_rank() OVER (PARTITION BY source ORDER BY score)
                   AS pct
        FROM s
    )
    SELECT doc_id, source, score, round(pct, 6) AS src_pct
    FROM p WHERE pct >= 0.5
    """,
)
def q_quality_source_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE quality normalization: rank each document's quality
    score (type-token ratio, the q_text_quality kernel's ttr) WITHIN
    its source and keep the top half per source — the curation move
    that stops a global quality threshold from draining low-register
    sources wholesale and over-admitting high-register ones (the
    source-bias failure a mixed pre-training corpus filter must
    avoid; FineWeb/CCNet-style pipelines normalize per dump/domain
    for exactly this reason).

    Semantics: percent_rank PARTITION BY source ORDER BY score (ties
    share the min rank — a pure function of the score multiset, no
    arbitrary tiebreak), keep src_pct >= 0.5. Scores are rounded to
    6 dp BEFORE ranking on both engines so the tie structure is
    identical.

    Scale shape — the HISTOGRAM contraction (same move as the r11
    dedup contraction, applied to ranking): a naive per-source window
    sorts every document of a source in one task, the classic hot-key
    hazard when one source is half the corpus. Instead the score
    histogram (source, score -> count) is built with a map-side-
    combining agg — bounded by distinct ROUNDED scores per source,
    not docs — the window runs over histogram rows only (strictly-
    lower cumulative count / (n_src - 1) IS percent_rank under
    ORDER BY score, because ties share the min rank), and per-doc
    ranks come back via one (source, score) equi-join. Every shuffle
    is histogram- or doc-row-sized with no per-source sort of the
    corpus; single-doc sources get pct 0.0 (both engines'
    percent_rank convention)."""
    d = load_table(spark, sf_dir, "documents")
    ws = words("text")
    d = d.withColumn("ws", ws).filter(F.size("ws") > 0)
    scored = d.select(
        "doc_id",
        "source",
        F.round(
            F.size(F.array_distinct("ws")).cast("double")
            / F.size("ws"),
            6,
        ).alias("score"),
    )
    hist = scored.groupBy("source", "score").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_ord = (
        W.partitionBy("source")
        .orderBy("score")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_all = W.partitionBy("source").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    ranked = hist.select(
        "source",
        "score",
        F.coalesce(F.sum("c").over(w_ord), F.lit(0)).alias("below"),
        F.sum("c").over(w_all).alias("n_src"),
    ).select(
        "source",
        "score",
        F.when(F.col("n_src") > 1,
               F.col("below") / (F.col("n_src") - 1))
        .otherwise(F.lit(0.0))
        .alias("pct"),
    )
    # Null-SAFE source equality: DuckDB's PARTITION BY groups NULL
    # sources into one partition and the oracle ranks them; a
    # null-unsafe equi-join would silently drop those rows from the
    # Spark side (latent at the shipped SFs — no NULL sources — but a
    # corpus drift away from a hash mismatch).
    ranked = ranked.select(
        F.col("source").alias("r_source"),
        F.col("score").alias("r_score"),
        "pct",
    )
    return (
        scored.join(
            ranked,
            F.col("source").eqNullSafe(F.col("r_source"))
            & (F.col("score") == F.col("r_score")),
        )
        .filter(F.col("pct") >= 0.5)
        .select(
            "doc_id",
            "source",
            "score",
            F.round("pct", 6).alias("src_pct"),
        )
    )
