"""Trained Naive Bayes document classifier over `documents` — the
model-based scoring stage of an LLM data pipeline (CCNet/fastText
style: train a lightweight classifier ON the corpus, apply it AT
corpus scale). Distinct from q_text_langid's fixed n-gram heuristic:
here the model parameters (per-class unigram log-likelihoods and
priors) are LEARNED from the labeled corpus by aggregation, then
applied to every document in the same job — train + apply as one
declarative plan, no ML library.

Multinomial NB with add-one smoothing, lang as the label:
score(d, c) = ln(n_c / N) + sum over token instances t of
ln((cnt(c,t) + 1) / (tot_c + V)). Every ln argument is a quotient of
EXACT int64 counts cast to double (lossless: all counts < 2^53), so
both engines feed ln identical IEEE doubles — the q_text_bm25 /
q_dsir_sample determinism argument; per-doc-class sums are rounded to
NB_ROUND (4) dp (see the constant's comment for why 6 is unsafe here)
and the argmax runs on the ROUNDED scores with a lexicographic
tie-break, so the prediction is a pure function of hash-checked
values. Reference parity: the reference engine
(/root/reference) has no model surface; this extends the build
brief's text-analysis mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .dedup import WORDS_SQL, words

# Decimal places for the hash-checked scores. 4, not the usual 6: the
# min distance of any raw score to a rounding boundary falls like
# (grid step)/(n scores) — measured 2.4e-11 at 6 dp / sf0.1, only ~5x
# the cross-engine summation error bound (~5e-12 for 56-term sums of
# magnitude ~400), and it halves for every corpus doubling. At 4 dp
# the measured margin is ~400x and stays safe past sf1. Rounded-score
# argmax ties are deterministic either way (lexicographic class).
NB_ROUND = 4


@register(
    "q_nb_classify",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, {WORDS_SQL} AS toks FROM documents
        WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    tok AS (SELECT doc_id, lang, unnest(toks) AS term FROM d),
    ct AS (SELECT lang, term, count(*) AS cnt FROM tok GROUP BY lang, term),
    tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot FROM ct GROUP BY lang),
    v AS (SELECT count(DISTINCT term) AS v FROM ct),
    lik AS (
        SELECT l.lang, t.term,
               ln(CAST(coalesce(ct.cnt, 0) + 1 AS DOUBLE)
                  / CAST(tot.tot + v.v AS DOUBLE)) AS logp
        FROM (SELECT DISTINCT term FROM ct) t
        CROSS JOIN (SELECT DISTINCT lang FROM ct) l
        LEFT JOIN ct ON ct.lang = l.lang AND ct.term = t.term
        JOIN tot ON tot.lang = l.lang
        CROSS JOIN v
    ),
    pri AS (SELECT lang, count(*) AS nd FROM d GROUP BY lang),
    ndt AS (SELECT count(*) AS nt FROM d),
    sc AS (
        SELECT tok.doc_id, tok.lang AS actual_lang, lik.lang AS cand,
               round(sum(lik.logp)
                     + any_value(ln(CAST(pri.nd AS DOUBLE)
                                    / CAST(ndt.nt AS DOUBLE))),
                     {NB_ROUND}) AS score
        FROM tok
        JOIN lik ON lik.term = tok.term
        JOIN pri ON pri.lang = lik.lang
        CROSS JOIN ndt
        GROUP BY tok.doc_id, tok.lang, lik.lang
    )
    SELECT doc_id, actual_lang, cand AS pred_lang, score,
           CAST(CASE WHEN cand = actual_lang THEN 1 ELSE 0 END
                AS BIGINT) AS is_correct
    FROM sc
    QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, cand) = 1
    """,
)
def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train multinomial NB (lang label, unigram features, add-one
    smoothing) on `documents` and classify every document with it.
    Returns (doc_id, actual_lang, pred_lang, score, is_correct) —
    prediction = argmax over classes of the NB_ROUND (4) dp rounded
    score, ties to the lexicographically smallest class.

    Scale shape: the model is aggregation-sized — the (class, term)
    census and its grid against the class list are vocabulary x
    classes bounded at ANY corpus size, so the likelihood table
    BROADCASTS into the scoring join. The corpus-sized data moves
    through two shuffles: the census build and the per-(doc, class)
    score aggregation (map-side combined, docs x classes output rows);
    the argmax is a map-side-combinable min(struct(-score, class)) —
    no window over the corpus. Cross-engine determinism: every ln
    argument is a quotient of exact int64 counts (lossless double
    casts on both sides), sums round at NB_ROUND (4) dp — a ~400x
    margin over the summation error where 6 dp measured only ~5x —
    and the argmax consumes only rounded values."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select("doc_id", "lang", "text")
    )
    tok = d.select(
        "doc_id", "lang", F.explode(words("text")).alias("term")
    )
    # (class, term) census: the ONE corpus->model aggregation; persist
    # because the grid, totals, and vocab size all re-derive from it
    # (the DSIR trade — without it each branch re-tokenizes the corpus)
    ct = (
        tok.groupBy("lang", "term")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    tot = ct.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    v = ct.select(F.countDistinct("term").alias("v"))
    lik = (
        ct.select("term")
        .distinct()
        .crossJoin(ct.select("lang").distinct())
        .join(ct, ["lang", "term"], "left")
        .join(F.broadcast(tot), "lang")
        .crossJoin(F.broadcast(v))
        .select(
            "lang",
            "term",
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                / (F.col("tot") + F.col("v")).cast("double")
            ).alias("logp"),
        )
    )
    pri = d.groupBy("lang").agg(F.count("*").alias("nd"))
    ndt = d.agg(F.count("*").alias("nt"))
    logpri = (
        pri.crossJoin(F.broadcast(ndt))
        .select(
            "lang",
            F.log(
                F.col("nd").cast("double") / F.col("nt").cast("double")
            ).alias("logpri"),
        )
    )
    sc = (
        tok.withColumnRenamed("lang", "actual_lang")
        .join(
            F.broadcast(lik.withColumnRenamed("lang", "cand")), "term"
        )
        .groupBy("doc_id", "actual_lang", "cand")
        .agg(F.sum("logp").alias("s"))
        .join(
            F.broadcast(logpri.withColumnRenamed("lang", "cand")), "cand"
        )
        .select(
            "doc_id",
            "actual_lang",
            "cand",
            F.round(F.col("s") + F.col("logpri"), NB_ROUND).alias("score"),
        )
    )
    best = (
        sc.groupBy("doc_id", "actual_lang")
        .agg(
            F.min(F.struct((-F.col("score")).alias("ns"), "cand")).alias(
                "b"
            )
        )
        .select(
            "doc_id",
            "actual_lang",
            F.col("b.cand").alias("pred_lang"),
            (-F.col("b.ns")).alias("score"),
            F.when(F.col("b.cand") == F.col("actual_lang"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_correct"),
        )
    )
    from ..caching import materialize_unpersist

    return materialize_unpersist(best, ct)
