"""UniMax-style token-budget allocation across corpus sources
(Chung et al. 2023, "UniMax: Fairer and More Effective Language
Sampling for Large-Scale Multilingual Pretraining") — the data-mixing
stage that spreads a fixed training-token budget across sources as
EVENLY as possible without allocating any source more than it has
(water-filling): small sources are taken whole (saturated), the rest
split the remaining budget equally.

Everything is INTEGER arithmetic: the saturation frontier is decided
by cross-multiplication (avail * n_unsat <= remaining budget), the
equal share by integer division with the remainder distributed to the
first sources in the deterministic (avail, source) order — so
sum(allocated) == budget EXACTLY, a law visible in the hash-checked
output. Reference parity: the reference engine (/root/reference) has
no mixing surface; this extends the build brief's mixture mandate
(source-CAPPED complement of q_mixture_sample's temperature weights).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .dedup import WORDS_SQL, words

# budget = total corpus tokens div BUDGET_DIV (integer)
BUDGET_DIV = 2


@register(
    "q_unimax_budget",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({WORDS_SQL}) AS term
        FROM documents WHERE text IS NOT NULL
    ),
    s AS (SELECT source, count(*) AS avail FROM tok GROUP BY source),
    o AS (
        SELECT source, avail,
               row_number() OVER (ORDER BY avail, source) AS rn,
               sum(avail) OVER (
                   ORDER BY avail, source
                   ROWS UNBOUNDED PRECEDING) AS pk
        FROM s
    ),
    nb AS (
        SELECT count(*) AS n, sum(avail) // {BUDGET_DIV} AS budget
        FROM s
    ),
    sat AS (
        SELECT o.*, nb.n, nb.budget,
               CASE WHEN avail * (nb.n - rn + 1) + (pk - avail)
                         <= nb.budget
                    THEN 1 ELSE 0 END AS is_sat
        FROM o CROSS JOIN nb
    ),
    kk AS (
        SELECT coalesce(max(CASE WHEN is_sat = 1 THEN rn END), 0) AS k,
               coalesce(max(CASE WHEN is_sat = 1 THEN pk END), 0) AS pkk
        FROM sat
    ),
    fin AS (
        SELECT sat.*, kk.k, kk.pkk,
               (sat.budget - kk.pkk)
                   // nullif(sat.n - kk.k, 0) AS base,
               (sat.budget - kk.pkk)
                   % nullif(sat.n - kk.k, 0) AS rem
        FROM sat CROSS JOIN kk
    )
    SELECT source, CAST(avail AS BIGINT) AS available,
           CAST(CASE WHEN rn <= k THEN avail
                     WHEN rn <= k + rem THEN base + 1
                     ELSE base END AS BIGINT) AS allocated,
           CAST(CASE WHEN rn <= k THEN 1 ELSE 0 END AS BIGINT)
               AS saturated
    FROM fin
    """,
)
def q_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-fill a training-token budget (total div BUDGET_DIV)
    across sources. Returns (source, available, allocated, saturated):
    saturated sources contribute every token they have; the others
    split the remainder into equal integer shares (first `rem` sources
    in (avail, source) order get the +1), so sum(allocated) == budget
    exactly and no source exceeds its availability — both laws pinned
    in tests/test_budget.py.

    Scale shape: the corpus moves through exactly ONE map-side-
    combined shuffle (the per-source token census, sources-bounded at
    ANY corpus size); every later step — prefix sums, the saturation
    frontier, the share split — runs on the sources-row frame (the
    partition-less window is bounded by construction, the
    q_profile_table argument). The frontier is monotone in the
    ascending-availability order (if source k saturates, every
    smaller one does), so one max() finds it — no iterative solve."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", F.explode(words("text")).alias("term"))
    )
    s = tok.groupBy("source").agg(F.count("*").alias("avail"))
    return waterfill(s, BUDGET_DIV)


def waterfill(s: DataFrame, budget_div: int) -> DataFrame:
    """Water-filling kernel over a (source, avail) frame with budget =
    sum(avail) div budget_div. Output-identical extraction of the
    query body (pinned against a pure-Python water-filler on arbitrary
    availability maps in tests/test_properties.py)."""
    w = W.orderBy("avail", "source")
    o = s.select(
        "source",
        "avail",
        F.row_number().over(w).alias("rn"),
        F.sum("avail").over(w.rowsBetween(W.unboundedPreceding, 0)).alias(
            "pk"
        ),
    )
    nb = s.agg(
        F.count("*").alias("n"),
        F.expr(f"sum(avail) div {budget_div}").alias("budget"),
    )
    sat = o.crossJoin(F.broadcast(nb)).withColumn(
        "is_sat",
        (
            F.col("avail") * (F.col("n") - F.col("rn") + 1)
            + (F.col("pk") - F.col("avail"))
            <= F.col("budget")
        ).cast("int"),
    )
    kk = sat.agg(
        F.coalesce(
            F.max(F.when(F.col("is_sat") == 1, F.col("rn"))), F.lit(0)
        ).alias("k"),
        F.coalesce(
            F.max(F.when(F.col("is_sat") == 1, F.col("pk"))), F.lit(0)
        ).alias("pkk"),
    )
    fin = (
        sat.crossJoin(F.broadcast(kk))
        .withColumn(
            "base",
            F.expr("(budget - pkk) div nullif(n - k, 0)"),
        )
        .withColumn("rem", F.expr("(budget - pkk) % nullif(n - k, 0)"))
    )
    return fin.select(
        "source",
        F.col("avail").alias("available"),
        F.when(F.col("rn") <= F.col("k"), F.col("avail"))
        .when(F.col("rn") <= F.col("k") + F.col("rem"), F.col("base") + 1)
        .otherwise(F.col("base"))
        .cast("long")
        .alias("allocated"),
        F.when(F.col("rn") <= F.col("k"), 1)
        .otherwise(0)
        .cast("long")
        .alias("saturated"),
    )
