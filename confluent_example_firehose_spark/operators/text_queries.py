"""Text analysis declared queries (SURVEY.md §2.C) over `documents`:
tokenization, quality scoring, language-ID heuristic, fingerprinting.
All integer-arithmetic + single-division shapes -> oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .dedup import WORDS_SQL, words

STOPWORDS = ("a", "the")
# The corpus quality gate: a document passes with at least MIN_WORDS
# words, a stopword density (the language signal) of at least
# MIN_STOP_RATIO and a type-token ratio (the degeneracy signal) of at
# least MIN_TTR. q_corpus_curation, q_curation_stream and
# q_ingest_stream admit exactly the documents that pass it.
MIN_WORDS = 5
MIN_STOP_RATIO = 0.05
MIN_TTR = 0.3


def quality_gate(ws: Column) -> tuple[Column, Column, Column, Column]:
    """(n_words, n_stop, n_distinct, passed) over a materialized words
    column: the three BIGINT counts and the gate's pass predicate. The
    length test comes first, so a short or empty document never
    reaches a ratio's division."""
    n_words = F.size(ws).cast("long")
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS))).cast("long")
    n_distinct = F.size(F.array_distinct(ws)).cast("long")
    passed = (
        (n_words >= MIN_WORDS)
        & (n_stop.cast("double") / n_words >= MIN_STOP_RATIO)
        & (n_distinct.cast("double") / n_words >= MIN_TTR)
    )
    return n_words, n_stop, n_distinct, passed


def quality_gate_sql(ws: str) -> tuple[str, str, str, str]:
    """DuckDB twin of quality_gate over a words list `ws`: the three
    counts (uncast) and the pass predicate, as SQL text."""
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_words = f"len({ws})"
    n_stop = f"len(list_filter({ws}, x -> x IN ({stop})))"
    n_distinct = f"len(list_distinct({ws}))"
    passed = (
        f"{n_words} >= {MIN_WORDS}"
        f" AND CAST({n_stop} AS DOUBLE) / {n_words} >= {MIN_STOP_RATIO}"
        f" AND CAST({n_distinct} AS DOUBLE) / {n_words} >= {MIN_TTR}"
    )
    return n_words, n_stop, n_distinct, passed


_N_WORDS_SQL, _N_STOP_SQL, _N_DISTINCT_SQL, _PASSED_SQL = quality_gate_sql("ws")


@register(
    "q_text_tokens",
    oracle=f"""
    SELECT word, count(*) AS n
    FROM (SELECT unnest({WORDS_SQL}) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 50
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenize -> explode -> count: top-50 vocabulary.
    Explode multiplies rows but map-side combine collapses to distinct
    words per task before the shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(50)
    )


# BPE-ish pre-tokenizer: letter runs / digit runs / punctuation runs —
# the GPT-2-style split minus lookaheads, so the pattern means the same
# thing under Java regex (Spark) and RE2 (DuckDB).
_BPE_PAT = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+"


@register(
    "q_text_tokens_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-zA-Z]+$')))
                AS BIGINT) AS n_alpha,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$')))
                AS BIGINT) AS n_num,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_vocab
    FROM (
        SELECT doc_id, regexp_extract_all(text, '{_BPE_PAT}') AS toks
        FROM documents
    )
    """,
)
def q_text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex (BPE-style pre-tokenizer) token counting per document —
    the training-data token budget estimator. Tokens materialized once
    (withColumn), then counted by class; narrow plan, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn(
        "toks", F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    )
    alpha = F.size(F.filter(F.col("toks"), lambda x: x.rlike("^[a-zA-Z]+$")))
    num = F.size(F.filter(F.col("toks"), lambda x: x.rlike("^[0-9]+$")))
    return d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        alpha.cast("long").alias("n_alpha"),
        num.cast("long").alias("n_num"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_vocab"),
    )


@register(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST({_N_DISTINCT_SQL} AS BIGINT) AS n_distinct,
           CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
               / len(ws) AS avg_word_len,
           CAST({_N_STOP_SQL} AS DOUBLE) / len(ws) AS stop_ratio,
           CAST({_N_DISTINCT_SQL} AS DOUBLE) / len(ws) AS ttr
    FROM (SELECT doc_id, {WORDS_SQL} AS ws FROM documents)
    WHERE len(ws) > 0
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token counts, type-token ratio, stopword ratio,
    mean word length — the standard pre-training corpus filters. All
    per-row array math inside codegen; no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("ws", words("text")).filter(F.size("ws") > 0)
    n, n_stop, n_distinct, _ = quality_gate(F.col("ws"))
    total_len = F.aggregate(
        F.transform(F.col("ws"), lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        n.alias("n_words"),
        n_distinct.alias("n_distinct"),
        (total_len.cast("double") / n).alias("avg_word_len"),
        (n_stop.cast("double") / n).alias("stop_ratio"),
        (n_distinct.cast("double") / n).alias("ttr"),
    )


@register(
    "q_text_langid",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN CAST({_N_STOP_SQL} AS DOUBLE) / len(ws)
                     >= {MIN_STOP_RATIO}
                THEN 'en_like' ELSE 'other' END AS pred
    FROM (SELECT doc_id, lang, {WORDS_SQL} AS ws FROM documents)
    WHERE len(ws) > 0
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID n-gram/stopword heuristic (the classic cheap filter:
    stopword density thresholding). Real models plug in at the same
    spot as a pandas UDF; the Spark plumbing is identical."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("ws", words("text")).filter(F.size("ws") > 0)
    n, n_stop, _, _ = quality_gate(F.col("ws"))
    en_like = n_stop.cast("double") / n >= MIN_STOP_RATIO
    return d.select(
        "doc_id",
        "lang",
        F.when(en_like, "en_like").otherwise("other").alias("pred"),
    )


@register(
    "q_doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS fp,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(len({WORDS_SQL}) AS BIGINT) AS n_words
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 is standardized -> identical digests
    across engines (unlike engine-native hash functions). xxhash64/
    SimHash variants live in dedup.py for in-engine use."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(words("text")).cast("long").alias("n_words"),
    )


@register(
    "q_corpus_curation",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, source, md5(text) AS fp, {WORDS_SQL} AS ws
        FROM documents
    ),
    kept AS (
        SELECT doc_id, lang, source, fp,
               CAST({_N_WORDS_SQL} AS BIGINT) AS n_words,
               CAST({_N_STOP_SQL} AS BIGINT) AS n_stop
        FROM scored
        WHERE {_PASSED_SQL}
    ),
    deduped AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY fp
                                         ORDER BY doc_id) AS rn
            FROM kept
        ) WHERE rn = 1
    )
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           round(CAST(sum(n_stop) AS DOUBLE) / sum(n_words), 6) AS stop_ratio,
           round(CAST(sum(n_words) AS DOUBLE) / count(*), 6) AS mean_doc_len
    FROM deduped
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation — the composite pipeline a
    100 TB pre-training run actually executes: tokenize -> quality
    gates (min length, stopword density = language signal, type-token
    ratio = degeneracy signal) -> exact dedup on content fingerprint ->
    per-(lang, source) corpus stats.

    Scale shape: the scoring stage is one narrow codegen'd pass (array
    math per row, no shuffle); dedup is hash-groupBy with min_by (one
    row of state per distinct fingerprint — no window sort); the final
    rollup is a partial+final agg over the deduped survivors. Two
    shuffles total regardless of input size. Every aggregate is an
    integer sum (ratios derived by ONE division at the end), so the
    result is bit-identical across engines and partitionings. Both
    engines emit BIGINT sums (DuckDB's un-cast sum is HUGEINT, which
    hashes as a float) and round the two ratio doubles at 6 dp."""
    d = load_table(spark, sf_dir, "documents")
    d = d.select(
        "doc_id", "lang", "source", F.md5("text").alias("fp"),
        words("text").alias("ws"),
    )
    n_words, n_stop, _, passed = quality_gate(F.col("ws"))
    kept = d.filter(passed).select(
        "doc_id", "lang", "source", "fp",
        n_words.alias("n_words"), n_stop.alias("n_stop"),
    )
    rep = F.struct("doc_id", "lang", "source", "n_words", "n_stop")
    deduped = (
        kept.groupBy("fp")
        .agg(F.min_by(rep, F.col("doc_id")).alias("w"))
        .select("w.lang", "w.source", "w.n_words", "w.n_stop")
    )
    return (
        deduped.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.round(
                F.sum("n_stop").cast("double") / F.sum("n_words"), 6
            ).alias("stop_ratio"),
            F.round(
                F.sum("n_words").cast("double") / F.count("*"), 6
            ).alias("mean_doc_len"),
        )
        .orderBy("lang", "source")
    )
