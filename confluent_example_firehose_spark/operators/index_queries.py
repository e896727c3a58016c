"""Corpus indexing, mixture sampling, and sketch/layout operators a
training-data pipeline runs after cleaning: n-gram census, inverted
index construction, token-budget mixture sampling, key-skew
diagnostics, embedding quantization, and partial-state re-aggregation.

No reference twin (the reference is a fixed-function Kafka->Prometheus
consumer, `AbstractFirehose.java`); these extend the engine along the
brief's LLM-pipeline axis, same style as curation_queries.py.

Queries are registered by import from registry.all_queries().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .dedup import WORDS_SQL, words

NGRAM_TOPK = 15  # census rows kept per n
POSTINGS_CAP = 12  # posting-list head length in the index manifest
MIN_DF = 3  # vocabulary df cutoff
MIX_BUDGET = 20_000  # token budget per source in the mixture sample
MIX_SEED = "mix41"  # deterministic permutation salt
QUANT_LEVELS = 255  # 8-bit scalar quantization
HH_TOPK = 10  # heavy hitters reported


@register(
    "q_ngram_topk",
    oracle=f"""
    WITH st AS (
        SELECT doc_id, {WORDS_SQL} AS w FROM documents
    ),
    u AS (
        SELECT CAST(1 AS BIGINT) AS n, gram, count(*) AS cnt
        FROM (SELECT unnest(w) AS gram FROM st)
        GROUP BY gram ORDER BY cnt DESC, gram LIMIT {NGRAM_TOPK}
    ),
    b AS (
        SELECT CAST(2 AS BIGINT) AS n, gram, count(*) AS cnt
        FROM (
            SELECT unnest(list_transform(range(1, len(w)),
                          i -> w[i] || ' ' || w[i + 1])) AS gram
            FROM st WHERE len(w) >= 2
        )
        GROUP BY gram ORDER BY cnt DESC, gram LIMIT {NGRAM_TOPK}
    ),
    t AS (
        SELECT CAST(3 AS BIGINT) AS n, gram, count(*) AS cnt
        FROM (
            SELECT unnest(list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))
                   AS gram
            FROM st WHERE len(w) >= 3
        )
        GROUP BY gram ORDER BY cnt DESC, gram LIMIT {NGRAM_TOPK}
    ),
    a AS (
        SELECT * FROM u UNION ALL SELECT * FROM b UNION ALL SELECT * FROM t
    )
    SELECT n,
           CAST(row_number() OVER (
               PARTITION BY n ORDER BY cnt DESC, gram) AS BIGINT) AS rank,
           gram, cnt
    FROM a
    """,
)
def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram census: the top-{1,2,3}-gram frequency tables an
    LM-pipeline uses for contamination screens, stopword lists, and
    KenLM-style count tables. Top K per n by (count desc, gram asc) —
    a total order, so the row SET is deterministic under LIMIT.

    Scale shape: each n is explode -> map-side-combinable hash agg ->
    `orderBy().limit(K)` which plans as TakeOrderedAndProject
    (per-partition top-K, driver merge of K*P rows — the q_text_bm25 r3
    lesson: never a global row_number over the full vocabulary). The
    final rank window runs over the 3K surviving rows, partitioned by
    n. Three scans of one pruned column beat one scan + a 3x exploded
    shuffle; at 100 TB the agg shuffle dominates and is per-n smaller."""
    d = load_table(spark, sf_dir, "documents")
    st = d.select(words("text").alias("w"))

    def grams_of(n: int):
        if n == 1:
            return F.col("w")
        w = F.col("w")
        # total-expression guard (see shingle_strings)
        idx = F.when(
            F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
        ).otherwise(F.expr("array()").cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j) for j in range(n)]
            ),
        )

    frames = []
    for n in (1, 2, 3):
        frames.append(
            st.filter(F.size("w") >= n)
            .select(F.explode(grams_of(n)).alias("gram"))
            .groupBy("gram")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), "gram")
            .limit(NGRAM_TOPK)
            .select(F.lit(n).cast("long").alias("n"), "gram", "cnt")
        )
    a = frames[0].unionByName(frames[1]).unionByName(frames[2])
    rank = F.row_number().over(
        W.partitionBy("n").orderBy(F.desc("cnt"), "gram")
    )
    return a.select("n", rank.cast("long").alias("rank"), "gram", "cnt")


@register(
    "q_inverted_index",
    oracle=f"""
    WITH tf AS (
        SELECT term, doc_id, count(*) AS tf
        FROM (
            SELECT doc_id, unnest({WORDS_SQL}) AS term FROM documents
        )
        GROUP BY term, doc_id
    )
    SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_sum,
           array_to_string(
               list_transform(
                   list_slice(list(doc_id ORDER BY doc_id), 1,
                              {POSTINGS_CAP}),
                   x -> CAST(x AS VARCHAR)),
               ',') AS postings_head
    FROM tf
    GROUP BY term
    HAVING count(*) >= {MIN_DF}
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per term, document frequency, total
    term frequency, and the head of the sorted posting list — the
    manifest row an index shard writes. df < MIN_DF terms are dropped
    (hapax noise), exactly as real vocab builds do.

    Scale shape: two hash aggregations — (term, doc) tf then term —
    both map-side combinable with high-cardinality uniform keys; ONE
    shuffle each (the posting-head rank below reuses the same term
    partitioning). The posting head is rank-filtered to POSTINGS_CAP
    rows per term BEFORE collect_list, so a stopword term's full
    posting list never materializes in an agg buffer — only its first
    {POSTINGS_CAP} doc ids flow into the array (a production index
    streams full postings via sortWithinPartitions(term, doc_id)
    writes; this is the manifest twin)."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(words("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("tf_sum"),
    )
    rn = F.row_number().over(W.partitionBy("term").orderBy("doc_id"))
    heads = (
        tf.select("term", "doc_id")
        .withColumn("rn", rn)
        .filter(F.col("rn") <= POSTINGS_CAP)
        .groupBy("term")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.col("doc_id"))),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings_head")
        )
    )
    return stats.join(heads, "term").filter(F.col("df") >= MIN_DF)


@register(
    "q_mixture_sample",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len({WORDS_SQL}) AS BIGINT) AS tok,
               md5('{MIX_SEED}:' || CAST(doc_id AS VARCHAR)) AS k
        FROM documents
    ),
    c AS (
        SELECT source, doc_id, tok, k,
               COALESCE(sum(tok) OVER (
                   PARTITION BY source ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum
        FROM t
    )
    SELECT source, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tok_sum,
           round(CAST(sum(tok) AS DOUBLE) / {MIX_BUDGET}, 6) AS budget_fill,
           min(k) AS first_key, max(k) AS last_key
    FROM c
    WHERE cum < {MIX_BUDGET}
    GROUP BY source
    """,
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling: each source contributes documents
    in deterministic md5(seed||doc_id) order until its token budget is
    exhausted — how a pre-training mix hits per-domain token quotas
    with an unbiased, reproducible subset (no rand(); a new mix is a
    new salt). Selection uses the EXCLUSIVE running sum (cum < budget),
    so the first document always enters even if oversized and the
    boundary document may overflow by < one doc — the standard quota
    semantics, and a frontier quantized on exact integers.

    Scale shape: one shuffle on source (the window partition key), a
    streaming window frame, then a per-source aggregate that reuses the
    same partitioning (AQE plans it shuffle-free). Skewed sources are
    real at 100 TB: the window scans a heavy source's full permutation
    even though only ~budget tokens survive; production would pre-prune
    with an approx per-source token quantile before the sort."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(words("text")).cast("long").alias("tok"),
        F.md5(
            F.concat(F.lit(f"{MIX_SEED}:"), F.col("doc_id").cast("string"))
        ).alias("k"),
    )
    win = (
        W.partitionBy("source")
        .orderBy("k")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = t.withColumn("cum", F.coalesce(F.sum("tok").over(win), F.lit(0)))
    return (
        c.filter(F.col("cum") < MIX_BUDGET)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("tok_sum"),
            F.round(F.sum("tok").cast("double") / MIX_BUDGET, 6).alias(
                "budget_fill"
            ),
            F.min("k").alias("first_key"),
            F.max("k").alias("last_key"),
        )
    )


@register(
    "q_skew_profile",
    oracle=f"""
    WITH c AS (
        SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey
    ),
    s AS (
        SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(max(cnt) AS BIGINT) AS max_cnt
        FROM c
    )
    SELECT l_orderkey, cnt,
           round(CAST(cnt AS DOUBLE) / n_rows, 6) AS share,
           n_keys, n_rows,
           round(CAST(max_cnt AS DOUBLE) * n_keys / n_rows, 6) AS skew_ratio
    FROM (SELECT * FROM c ORDER BY cnt DESC, l_orderkey LIMIT {HH_TOPK}),
         s
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnostic: per-key cardinality profile of
    lineitem.l_orderkey — the measurement that decides whether a key
    needs salting (relational.salted_join) before a 100 TB shuffle.
    Emits the top heavy hitters with their row share plus global stats
    (key count, max/mean skew ratio) on every row.

    Scale shape: one map-side-combinable count per key; heavy hitters
    via orderBy().limit() = TakeOrderedAndProject (never a global
    window); the one-row stats frame joins back as a broadcast — the
    q_text_tfidf pattern. All ratios are exact-integer divisions
    rounded to 6 digits."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_orderkey").agg(F.count("*").alias("cnt"))
    s = c.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    top = c.orderBy(F.desc("cnt"), "l_orderkey").limit(HH_TOPK)
    return top.crossJoin(F.broadcast(s)).select(
        "l_orderkey",
        "cnt",
        F.round(F.col("cnt").cast("double") / F.col("n_rows"), 6).alias(
            "share"
        ),
        "n_keys",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(
            F.col("max_cnt").cast("double")
            * F.col("n_keys")
            / F.col("n_rows"),
            6,
        ).alias("skew_ratio"),
    )


@register(
    "q_embed_quantize",
    oracle=f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE len(embedding) > 0
    ),
    m AS (
        SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx,
               CASE WHEN list_max(v) = list_min(v) THEN 1.0
                    ELSE list_max(v) - list_min(v) END AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, v, mn, mx, scale,
               list_transform(
                   v, x -> CAST(round((x - mn) * {QUANT_LEVELS} / scale)
                                AS BIGINT)) AS codes
        FROM m
    )
    SELECT vec_id, CAST(len(v) AS INTEGER) AS n_dims,
           round(mn, 6) AS vmin, round(mx, 6) AS vmax,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           round(list_reduce(
               list_transform(range(1, len(v) + 1),
                   i -> (v[i] - (mn + codes[i] * scale / {QUANT_LEVELS}))
                      * (v[i] - (mn + codes[i] * scale / {QUANT_LEVELS}))),
               (a, b) -> a + b) * 1000000 / len(v), 6) AS mse_ppm
    FROM q
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar quantization of embedding vectors (the storage-
    side of ANN indexes: 4x smaller vectors, reconstruction error
    tracked per vector). Per-vector min/max affine codes in [0, 255],
    with the code checksum and reconstruction MSE (in ppm).

    Engine-exactness: floats are cast to double BEFORE any arithmetic
    (FLOAT-FLOAT stays single-precision in DuckDB but not Spark), both
    engines then run the identical IEEE-double expression tree, and the
    error fold is sequential left-to-right in both (F.aggregate with
    0.0 init == list_reduce from the first element — the q_ts_ewma
    argument), so values are bit-identical before the final round.
    Flat vectors (mx == mn) quantize to all-zero codes via the scale=1
    guard instead of dividing by zero; EMPTY vectors are excluded by
    contract on both sides (DuckDB's list_reduce hard-errors on an
    empty list while Spark's aggregate would emit a null row — the
    filter keeps the engines comparable instead of divergent).

    Scale shape: pure narrow map over one table — no shuffle, no
    Python; every expression is codegen'd array math."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") > 0
    )
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    mn, mx = F.array_min("v"), F.array_max("v")
    m = v.select(
        "vec_id",
        "v",
        mn.alias("mn"),
        mx.alias("mx"),
        F.when(mx == mn, F.lit(1.0)).otherwise(mx - mn).alias("scale"),
    )
    codes = F.transform(
        F.col("v"),
        lambda x: F.round(
            (x - F.col("mn")) * QUANT_LEVELS / F.col("scale"), 0
        ).cast("long"),
    )
    q = m.withColumn("codes", codes)
    recon_err = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("codes"),
            lambda x, c: (
                x - (F.col("mn") + c * F.col("scale") / QUANT_LEVELS)
            )
            * (x - (F.col("mn") + c * F.col("scale") / QUANT_LEVELS)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return q.select(
        "vec_id",
        F.size("v").alias("n_dims"),
        F.round("mn", 6).alias("vmin"),
        F.round("mx", 6).alias("vmax"),
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("code_sum"),
        F.round(recon_err * 1_000_000 / F.size("v"), 6).alias("mse_ppm"),
    )


@register(
    "q_partial_reagg",
    oracle="""
    SELECT event_type, CAST(date_trunc('month', ts) AS DATE) AS month,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / (100 * count(*)), 6) AS avg_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events
    GROUP BY event_type, month
    """,
)
def q_partial_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-state re-aggregation (the incremental-materialized-view
    pattern): daily partial aggregates per (event_type, day) are merged
    into monthly finals — count and cent-sums add, min/min and max/max
    compose, avg derives from merged sums. The ORACLE aggregates the
    raw rows directly in one pass, so the hash match PROVES the
    two-level merge is lossless. Sums run on exact integer cents
    (round(value*100)) because double addition is not associative —
    the merge order differs from the direct order by construction.

    Scale shape: this is how 100 TB rollups actually run — the daily
    partial is the stored state (tiny: days x types), each increment
    touches one day, and the monthly merge aggregates the PARTIAL
    table, not the events. Two map-side-combinable hash aggs; the
    second one's input is bounded by the calendar, not the data."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("cents").alias("cents"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    return (
        daily.groupBy(
            "event_type", F.trunc("day", "month").alias("month")
        )
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum("cents").alias("value_cents"),
            F.round(
                F.sum("cents").cast("double") / (100 * F.sum("cnt")), 6
            ).alias("avg_value"),
            F.round(F.min("mn"), 6).alias("min_value"),
            F.round(F.max("mx"), 6).alias("max_value"),
        )
        .select(
            "event_type",
            "month",
            F.col("n_events").cast("long").alias("n_events"),
            "value_cents",
            "avg_value",
            "min_value",
            "max_value",
        )
    )


@register(
    "q_hll_mergeable",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           true AS merge_consistent,
           true AS est_within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def q_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Datasketches HLL) — the
    q_partial_reagg pattern for COUNT DISTINCT, which plain counts
    cannot re-aggregate: per-(event_type, day) sketches built once are
    unioned into per-type finals (hll_union_agg), the way a 100 TB
    rollup maintains daily distincts without rescanning history.

    The sketch estimates themselves are implementation-defined, so the
    hash-checked output pins the two invariants that matter instead:
    (a) merge consistency — the unioned daily sketches estimate what
    one direct whole-table sketch estimates to within the sketch error
    envelope (5% of exact). NOT bit-equality: Datasketches' union
    gadget promotes sparse-mode sketches through a max-lgK
    intermediate, so once any input crosses into dense HLL mode the
    merged estimate can legitimately differ from the direct sketch in
    the last few counts — the r6 sf0.1 drift sweep caught exactly that
    (1500 distincts; bit-equality held at sf0.01 only because
    everything stayed in sparse mode). And (b) the direct estimate
    lands within 5% of the exact distinct count, alongside that exact
    count.

    Scale shape: two map-side-combinable sketch aggregations (state =
    one HLL register array per group, constant size) + one broadcast-
    size join of 5-row frames; the raw-data pass happens once."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "est_direct"
        ),
        F.countDistinct("user_id").alias("n_exact"),
    )
    return direct.join(merged, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("est_merged") - F.col("est_direct"))
            <= 0.05 * F.col("n_exact")
        ).alias("merge_consistent"),
        (
            F.abs(F.col("est_direct") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("est_within_5pct"),
    )


# Histogram-sketch quantiles: bin width in exact cents. 500 cents puts
# ~40 bins over the events value range — estimate error is bounded by
# one bin width by construction.
QH_BIN_CENTS = 500


@register(
    "q_quantile_mergeable",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(round(value * 100) AS BIGINT) // {QH_BIN_CENTS} AS bin,
               count(*) AS cnt
        FROM events GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT event_type, bin, CAST(sum(cnt) AS BIGINT) AS cnt
        FROM daily GROUP BY event_type, bin
    ),
    cum AS (
        SELECT event_type, bin, cnt,
               CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin)
                    AS BIGINT) AS c,
               CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n
        FROM merged
    )
    SELECT event_type, max(n) AS n,
           CAST(min(CASE WHEN 2 * c >= n THEN bin END) * {QH_BIN_CENTS}
                AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN 10 * c >= 9 * n THEN bin END)
                * {QH_BIN_CENTS} AS BIGINT) AS p90_cents,
           CAST(min(CASE WHEN 100 * c >= 99 * n THEN bin END)
                * {QH_BIN_CENTS} AS BIGINT) AS p99_cents
    FROM cum GROUP BY event_type
    """,
)
def q_quantile_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketches via fixed-bin histograms — the
    q_hll_mergeable pattern for percentiles: per-(type, day) histogram
    partials (bin = value cents div {QH_BIN_CENTS}, count) merge by
    plain count addition into per-type cumulative histograms, and the
    p50/p90/p99 estimates are each bin's lower bound at the first
    cumulative count crossing the rank — error bounded by one bin
    width, arithmetic all-integer (rank crossings are 2c >= n /
    10c >= 9n / 100c >= 99n — no float quantile math to diverge
    between engines). This is how a 100 TB rollup maintains latency
    percentiles without keeping raw values: daily partials are tiny
    (bins x groups), re-aggregable forever, and the raw-data pass
    happens once. t-digest/KLL trade the fixed bins for adaptive ones;
    the merge-by-addition shape here is identical.

    Scale shape: one map-side-combinable count agg over the raw data,
    one bins-sized merge agg, window + final agg over bins x groups
    (bounded by construction — ~40 bins x 5 types)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            # Integer `div` is sign-safe cross-engine: DuckDB's
            # integer `//` TRUNCATES exactly like Spark's `div`
            # (probed: -1234 // 500 = -2 on both, not floor's -3), so
            # the bin ids agree for any future corpus sign. (A
            # floor()-based Spark bin would be the one that diverges.)
            F.expr(
                f"CAST(round(value * 100) AS BIGINT) div {QH_BIN_CENTS}"
            ).alias("bin"),
        )
        .groupBy("event_type", "day", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    merged = daily.groupBy("event_type", "bin").agg(
        F.sum("cnt").alias("cnt")
    )
    cum = merged.select(
        "event_type",
        "bin",
        F.sum("cnt")
        .over(W.partitionBy("event_type").orderBy("bin"))
        .alias("c"),
        F.sum("cnt").over(W.partitionBy("event_type")).alias("n"),
    )
    def est(cond, name):
        return (
            F.min(F.when(cond, F.col("bin"))) * QH_BIN_CENTS
        ).cast("long").alias(name)

    return cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        est(2 * F.col("c") >= F.col("n"), "p50_cents"),
        est(10 * F.col("c") >= 9 * F.col("n"), "p90_cents"),
        est(100 * F.col("c") >= 99 * F.col("n"), "p99_cents"),
    )
