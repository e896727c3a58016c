"""Streaming maintenance twins for the remaining two mergeable
sketches — HLL distinct counts and the fixed-bin quantile histogram —
completing the incremental-maintenance story q_bloom_stream and
q_cms_stream started (SURVEY.md §2.B mergeable-sketch family; VERDICT
r8 item 2). The reference engine's whole premise is incremental state
maintenance over a micro-batched ingest
(`AbstractPrometheusFirehose.java:41-51` keyed last-value state,
`AbstractFirehose.java:107-131` micro-batch boundaries); these are its
sketch-state analogues: each foreachBatch epoch sketches ITS batch and
merges into persistent state, so the incremental build costs what the
batch build costs, paid as you ingest.

Shared shape with the Bloom/CMS twins: the events table arrives as
SK_BATCHES micro-batches (event_id % SK_BATCHES, the file-stream twin
of a Kafka ingest), state lives in RELATION form (per-epoch deltas
appended, then COMPACTED in place by the sketch's own merge —
state_dir.Relation.replace, sibling-tmp + rename-swap — so the stored
relation is physically bounded at the sketch size, r10), and the
hash-checked output pins a merge LAW the DuckDB oracle can replay
exactly — not the sketch's implementation-defined internals.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import register
from .dedup import WORDS_SQL, words
from .index_queries import QH_BIN_CENTS
from . import stream_runtime
from .state_dir import Relation
from .stream_runtime import SK_BATCHES, replay_epochs


@register(
    "q_hll_stream",
    oracle=f"""
    WITH d AS (
        SELECT user_id, event_id % {SK_BATCHES} AS b_id
        FROM events WHERE user_id IS NOT NULL
    ),
    firsts AS (SELECT user_id, min(b_id) AS fb FROM d GROUP BY user_id),
    nn AS (
        SELECT fb AS batch_id, count(*) AS n_new FROM firsts GROUP BY fb
    ),
    all_b AS (SELECT unnest(range({SK_BATCHES})) AS batch_id)
    SELECT CAST(all_b.batch_id AS BIGINT) AS batch_id,
           CAST(sum(coalesce(nn.n_new, 0)) OVER (
               ORDER BY all_b.batch_id) AS BIGINT) AS n_exact_cum,
           true AS merge_consistent,
           true AS est_within_5pct
    FROM all_b LEFT JOIN nn USING (batch_id)
    """,
)
def q_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental HLL distinct-count maintenance in a stream — the
    cardinality twin of q_bloom_stream: each foreachBatch epoch builds
    the batch's HLL sketch of user_id and APPENDS it to persistent
    sketch state (one sketch row per epoch; merge = hll_union_agg on
    read — the HLL merge law). Returns per epoch (batch_id,
    n_exact_cum, merge_consistent, est_within_5pct).

    The sketch estimate is implementation-defined (Datasketches
    register promotion, see q_hll_mergeable), so the hash-checked
    output pins the q_hll_mergeable invariants per PREFIX instead:
    (a) merge consistency — the union of the per-epoch sketches
    estimates what one direct sketch over the ingested prefix
    estimates, within 5% of exact; the direct sketch is built from an
    exact-audit relation of distinct user_ids (legitimate stand-in:
    HLL register content is max-of-hashes, so the sketch of a
    deduplicated set estimates exactly what the multiset's sketch
    estimates — pinned by tests/test_sketch_stream.py; serialized
    bytes differ in sparse mode, estimates don't). (b) the
    direct estimate lands within 5% of the exact prefix cardinality.
    The exact cumulative counts themselves are a pure function of the
    batch PARTITION (min-batch census in the oracle), the
    q_bloom_stream determinism argument.

    Scale shape: per-epoch work is one batch scan + a constant-size
    sketch aggregation; the stored sketch state is COMPACTED to ONE
    register array per epoch (hll_union_agg + rename-swap — union is
    associative, so merging the stored rows early is output-invariant;
    r10, completing the q_cms_stream pattern so the physical relation
    matches this bound, not just the merged view). The exact-audit
    relation is the naive cardinality-sized twin the sketch REPLACES
    at 100 TB — it exists so the law is checkable at test scale, and
    the 5% envelope is what you'd monitor instead. Since r13 even the
    audit follows the family's state discipline: it holds GLOBALLY
    distinct ids (left_anti append of first-seen ids only), the exact
    count is an incremental driver-side running sum of per-epoch
    first-seen counts (the q_curation_stream pattern), and no per-epoch
    job re-distincts or exact-counts the whole prefix.

    Envelope caveat (ADVICE r9 item 2): Spark's default HLL
    (lgConfigK=12) has ~1.6% relative standard error, so the 5% bound
    is only ~3 sigma — re-verify it whenever the scale factor or the
    events-table cardinality profile changes (it is NOT a correctness
    law of the code; a deterministic estimator excursion at a new SF
    would present as a hash mismatch). Verified at sf0.001/0.01/0.1 on
    the r10 testdata; tools/check_oracle.py at a new SF is the check."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_id", "user_id")
    )
    log: list[tuple[int, int, bool, bool]] = []
    n_seen = [0]  # running exact distinct count (driver-side sum)
    with stream_runtime.state_root("hll_stream_") as root:
        state = Relation(os.path.join(root, "state"), "sk binary")
        audit = Relation(os.path.join(root, "audit"), "user_id bigint")

        def per_batch(batch_df: DataFrame, b: int) -> None:
            s = batch_df.sparkSession
            state.append(
                batch_df.agg(F.hll_sketch_agg("user_id").alias("sk")).filter(
                    F.col("sk").isNotNull()
                )
            )
            # Compact: union the appended sketch rows into ONE row so
            # the stored relation matches the docstring's bound (the
            # register CONTENT of a union is grouping-invariant, so the
            # estimate — the pinned law — is unchanged; serialized
            # bytes may differ in sparse mode, which is exactly why the
            # law pins estimates, not bytes).
            state.replace(
                state.read(s)
                .agg(F.hll_union_agg("sk").alias("sk"))
                .filter(F.col("sk").isNotNull())
            )
            # Audit state holds GLOBALLY distinct ids (left_anti
            # append of first-seen ids only — the ingest-index
            # admission pattern), so the exact prefix cardinality is
            # an incremental driver-side running sum of per-epoch
            # first-seen counts (the q_curation_stream pattern) and
            # the direct sketch below aggregates the state as-is: no
            # per-epoch re-distinct of the whole prefix, no
            # prefix-sized countDistinct job.
            new_ids = (
                batch_df.select("user_id")
                .distinct()
                .join(audit.read(s), "user_id", "left_anti")
            )
            # EAGER localCheckpoint, not persist: new_ids' lineage
            # READS the audit relation, and the append below
            # invalidates every cached plan over that path
            # (recacheByPath) — a persisted frame would silently
            # recompute its left_anti against the post-append state
            # and count ZERO new ids (the r13 invalidation-cascade
            # lesson, here as a correctness hazard, not just perf).
            new_ids = new_ids.localCheckpoint(eager=True)
            n_seen[0] += new_ids.count()
            audit.append(new_ids)
            n_exact = n_seen[0]
            est_merged = (
                state.read(s)
                .agg(
                    F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                        "e"
                    )
                )
                .first()["e"]
                or 0
            )
            est_direct = (
                audit.read(s)
                .agg(
                    F.coalesce(
                        F.hll_sketch_estimate(
                            F.hll_sketch_agg("user_id")
                        ),
                        F.lit(0),
                    ).alias("e")
                )
                .first()["e"]
            )
            log.append(
                (
                    b,
                    n_exact,
                    abs(est_merged - est_direct) <= 0.05 * n_exact,
                    abs(est_direct - n_exact) <= 0.05 * n_exact,
                )
            )

        replay_epochs(ev, "event_id", root, per_batch)
    schema = T.StructType(
        [
            T.StructField("batch_id", T.LongType()),
            T.StructField("n_exact_cum", T.LongType()),
            T.StructField("merge_consistent", T.BooleanType()),
            T.StructField("est_within_5pct", T.BooleanType()),
        ]
    )
    return spark.createDataFrame(log, schema)


def histogram_percentiles(merged: DataFrame):
    """(n, p50, p90, p99) in cents from a merged (bin, cnt) histogram
    frame — the q_quantile_mergeable rank-crossing extraction as a
    reusable kernel (integer-exact: 2c >= n / 10c >= 9n / 100c >= 99n;
    estimate = the crossing bin's lower bound). Constant work: the
    window + aggregate run over the bins-bounded frame, never data.
    Pinned against a pure-Python rank model by
    tests/test_properties.py (24th law)."""
    cum = merged.select(
        "bin",
        F.sum("cnt").over(W.orderBy("bin")).alias("c"),
        F.sum("cnt").over(W.partitionBy(F.lit(1))).alias("n"),
    )

    def est(cond):
        return (
            F.min(F.when(cond, F.col("bin"))) * QH_BIN_CENTS
        ).cast("long")

    return cum.agg(
        F.max("n").alias("n"),
        est(2 * F.col("c") >= F.col("n")).alias("p50"),
        est(10 * F.col("c") >= 9 * F.col("n")).alias("p90"),
        est(100 * F.col("c") >= 99 * F.col("n")).alias("p99"),
    ).first()


@register(
    "q_quantile_stream",
    oracle=f"""
    WITH d AS (
        SELECT event_id % {SK_BATCHES} AS b_id,
               CAST(round(value * 100) AS BIGINT) // {QH_BIN_CENTS}
                   AS bin
        FROM events WHERE value IS NOT NULL
    ),
    census AS (SELECT b_id, bin, count(*) AS cnt FROM d GROUP BY 1, 2),
    all_b AS (SELECT unnest(range({SK_BATCHES})) AS batch_id),
    cum_census AS (
        SELECT a.batch_id, c.bin, CAST(sum(c.cnt) AS BIGINT) AS cnt
        FROM all_b a JOIN census c ON c.b_id <= a.batch_id
        GROUP BY 1, 2
    ),
    w AS (
        SELECT batch_id, bin,
               CAST(sum(cnt) OVER (PARTITION BY batch_id ORDER BY bin)
                    AS BIGINT) AS c,
               CAST(sum(cnt) OVER (PARTITION BY batch_id) AS BIGINT)
                   AS n
        FROM cum_census
    )
    SELECT CAST(batch_id AS BIGINT) AS batch_id,
           CAST(max(n) AS BIGINT) AS n_cum,
           CAST(min(CASE WHEN 2 * c >= n THEN bin END)
                * {QH_BIN_CENTS} AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN 10 * c >= 9 * n THEN bin END)
                * {QH_BIN_CENTS} AS BIGINT) AS p90_cents,
           CAST(min(CASE WHEN 100 * c >= 99 * n THEN bin END)
                * {QH_BIN_CENTS} AS BIGINT) AS p99_cents
    FROM w GROUP BY batch_id
    """,
)
def q_quantile_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental quantile maintenance in a stream — the percentile
    twin of q_cms_stream: each foreachBatch epoch bins its batch's
    values into the q_quantile_mergeable fixed-cent histogram and
    APPENDS the (bin, cnt) census to persistent state (merge = count
    addition on read — the histogram merge law), then reports the
    running p50/p90/p99 over everything ingested so far. Returns per
    epoch (batch_id, n_cum, p50_cents, p90_cents, p99_cents).

    Hash-checked mergeability law: histogram merge is associative AND
    commutative integer addition, so the running percentiles are a
    pure function of the batch PARTITION (prefix-cumulative census in
    the oracle) regardless of row interleaving inside each epoch. All
    arithmetic is integer-exact (bin = cents div {QH_BIN_CENTS}; rank
    crossings 2c >= n / 10c >= 9n / 100c >= 99n), so the estimates
    agree cross-engine bit-for-bit; error vs the true percentile is
    bounded by one bin width by construction. Batches are dense by
    construction (event_id % {SK_BATCHES} over a dense id domain), so
    every prefix is non-empty.

    Scale shape: per-epoch work is one batch scan + a map-side-
    combined bins-sized census; the stored state is COMPACTED per
    epoch (groupBy-bin sum + rename-swap — integer-sum associativity
    makes early merging output-invariant; r10, the q_cms_stream
    pattern) so the physical relation never exceeds the bin count
    (~40 rows at ANY corpus size) and the per-epoch percentile
    extraction (window + agg over bins) is constant work. This is how
    a 100 TB rollup serves live latency percentiles without keeping
    raw values."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            F.expr(
                f"CAST(round(value * 100) AS BIGINT) div {QH_BIN_CENTS}"
            ).alias("bin"),
        )
    )
    log: list[tuple[int, int, int, int, int]] = []
    with stream_runtime.state_root("quantile_stream_") as root:
        state = Relation(os.path.join(root, "state"), "bin bigint, cnt bigint")

        def per_batch(batch_df: DataFrame, b: int) -> None:
            s = batch_df.sparkSession
            state.append(
                batch_df.groupBy("bin").agg(F.count("*").alias("cnt"))
            )
            # Compact: merge the appended bin deltas so the stored
            # relation IS bins-bounded (integer-sum associativity).
            state.replace(
                state.read(s).groupBy("bin").agg(F.sum("cnt").alias("cnt"))
            )
            row = histogram_percentiles(state.read(s))
            log.append((b, row["n"], row["p50"], row["p90"], row["p99"]))

        replay_epochs(ev, "event_id", root, per_batch)
    schema = T.StructType(
        [
            T.StructField("batch_id", T.LongType()),
            T.StructField("n_cum", T.LongType()),
            T.StructField("p50_cents", T.LongType()),
            T.StructField("p90_cents", T.LongType()),
            T.StructField("p99_cents", T.LongType()),
        ]
    )
    return spark.createDataFrame(log, schema)


DRIFT_BIN_WORDS = 8  # histogram bin width (words per doc)


def drift_fold(
    census: DataFrame, key: str, state: Relation, b: int
) -> tuple[int, float] | None:
    """Epoch b of a drift monitor over a (key, cnt) histogram state:
    `census` is the batch's materialized (key, cb) occupancy census.
    Returns (n_arrived, tv) — the batch size and the total-variation
    distance 0.5 * sum_keys |p_batch - p_prefix| between the batch and
    the strictly-earlier prefix held in `state`, rounded to 6 dp — or
    None at epoch 0, which has no prefix; then merges the census into
    the state (append + a groupBy-key sum replace, so the stored
    relation stays bounded by the key domain). Both drift streams fold
    through this; they differ only in the key."""
    s = census.sparkSession
    out = None
    if b > 0:
        row = (
            census.join(
                state.read(s).withColumnRenamed("cnt", "cp"),
                key,
                "full_outer",
            )
            .select(
                F.coalesce("cb", F.lit(0)).alias("cb"),
                F.coalesce("cp", F.lit(0)).alias("cp"),
            )
            .agg(
                F.sum("cb").alias("nb"),
                F.sum("cp").alias("np"),
                # key-domain-bounded by construction (~tens of rows)
                F.collect_list(F.struct("cb", "cp")).alias("rows"),
            )
            .select(
                "nb",
                "np",
                F.round(
                    0.5
                    * F.aggregate(
                        "rows",
                        F.lit(0.0),
                        lambda acc, r: acc
                        + F.abs(
                            r["cb"].cast("double") / F.col("nb")
                            - r["cp"].cast("double") / F.col("np")
                        ),
                    ),
                    6,
                ).alias("tv"),
            )
            .first()
        )
        out = (row["nb"], row["tv"])
    state.append(census.select(key, F.col("cb").alias("cnt")))
    state.replace(state.read(s).groupBy(key).agg(F.sum("cnt").alias("cnt")))
    return out


@register(
    "q_drift_stream",
    oracle=f"""
    WITH w AS (
        SELECT doc_id % {SK_BATCHES} AS b,
               len({WORDS_SQL}) // {DRIFT_BIN_WORDS} AS bin
        FROM documents WHERE text IS NOT NULL
    ),
    census AS (SELECT b, bin, count(*) AS c FROM w GROUP BY 1, 2),
    later AS (SELECT DISTINCT b FROM census WHERE b > 0),
    pref AS (
        SELECT l.b, c.bin, sum(c.c) AS c
        FROM later l JOIN census c ON c.b < l.b
        GROUP BY 1, 2
    ),
    nb AS (SELECT b, sum(c) AS n FROM census GROUP BY b),
    np AS (SELECT b, sum(c) AS n FROM pref GROUP BY b),
    joined AS (
        SELECT coalesce(ba.b, pr.b) AS b,
               coalesce(ba.c, 0) AS cb, coalesce(pr.c, 0) AS cp
        FROM (SELECT * FROM census WHERE b > 0) ba
        FULL OUTER JOIN pref pr ON ba.b = pr.b AND ba.bin = pr.bin
    )
    SELECT CAST(j.b AS BIGINT) AS batch_id,
           CAST(nb.n AS BIGINT) AS n_arrived,
           round(0.5 * sum(abs(CAST(j.cb AS DOUBLE) / nb.n
                               - CAST(j.cp AS DOUBLE) / np.n)), 6)
               AS tv_drift
    FROM joined j JOIN nb ON nb.b = j.b JOIN np ON np.b = j.b
    GROUP BY j.b, nb.n, np.n
    """,
)
def q_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring at ingest — the MONITORING member
    of the streaming-maintenance family (its siblings maintain dedup /
    index / curation state; a production training-data pipeline runs a
    drift monitor beside them to catch a crawl source going bad):
    each foreachBatch epoch bins ITS batch's per-doc word counts into
    a fixed-width histogram, computes the total-variation distance
    between the batch's distribution and the distribution of
    EVERYTHING ingested before it (the strictly-earlier prefix —
    tv = 0.5 * sum_bins |p_batch - p_prefix|, the exact statistic
    behind the 'population stability' checks monitoring stacks run),
    and then merges its histogram into the state. Returns (batch_id,
    n_arrived, tv_drift) for every epoch with a prior prefix. A drift
    alarm is a threshold on tv_drift; this corpus's homogeneous
    batches sit near 0, a shifted source pushes toward 1.

    Hash-checked law: the histogram census is exact integer counting
    and histogram merge is associative integer addition, so each
    epoch's tv is a pure function of the batch PARTITION (the
    oracle's prefix-cumulative replay); the single float division and
    the 6-dp-rounded sum agree cross-engine (the repo's standard
    float-aggregate stance).

    Scale shape: per-epoch work is one batch scan + a map-side-
    combined BINS-sized census; the drift statistic is a join of two
    bins-bounded frames and a one-row aggregate; the stored state is
    COMPACTED per epoch (groupBy-bin sum + rename-swap, the
    q_quantile_stream pattern) so it is physically bounded by the
    bin count at ANY corpus size. This is the whole point of
    histogram-state monitoring at 100 TB: the monitor's cost is the
    batch scan it shares with the ingest, never the corpus."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            (F.size(words("text")) / DRIFT_BIN_WORDS)
            .cast("long")
            .alias("bin"),
        )
    )
    log: list[tuple[int, int, float]] = []
    with stream_runtime.state_root("drift_stream_") as root:
        state = Relation(os.path.join(root, "state"), "bin bigint, cnt bigint")

        def per_batch(batch_df: DataFrame, b: int) -> None:
            census = (
                batch_df.groupBy("bin")
                .agg(F.count("*").alias("cb"))
                .localCheckpoint(eager=True)
            )
            tv = drift_fold(census, "bin", state, b)
            if tv is not None:
                log.append((b, *tv))

        replay_epochs(d, "doc_id", root, per_batch)
    schema = T.StructType(
        [
            T.StructField("batch_id", T.LongType()),
            T.StructField("n_arrived", T.LongType()),
            T.StructField("tv_drift", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(log, schema)
