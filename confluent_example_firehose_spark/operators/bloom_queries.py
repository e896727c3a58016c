"""Mergeable Bloom-filter membership index over `documents`
(SURVEY.md §2.B mergeable-sketch family: HLL + histogram quantiles +
this — the three partial-aggregation sketches a 100 TB catalog
needs).

Per-source Bloom filters over document fingerprints, in RELATION form
(a bitmap as its set of set-bit positions): built with one map-side-
combined distinct, merged across sources by plain union-distinct (the
OR of bitmaps), probed by a fixed 50-key query set (25 present
fingerprints, 25 synthetic absent keys). The probe report carries the
exact answer next to the sketch answer, so zero-false-negatives and
the merge-inflates-FP-rate property are both VISIBLE in the output
and hash-checked cross-engine. The hash family is engine-portable
double hashing over portable_hash60 (dedup.py:91), so DuckDB rebuilds
the exact same bit positions. Reference parity: the reference engine
(/root/reference) has no index surface; this extends the build
brief's mergeable-sketch mandate.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import register
from . import stream_runtime
from .dedup import portable_hash60
from .state_dir import Relation
from .stream_runtime import SK_BATCHES, replay_epochs

BLOOM_M = 32768  # bits per filter (2^15)
BLOOM_K = 4  # hash functions (double hashing)
BLOOM_PROBE_N = 25  # present probes (doc_id % 20 == 0) + as many absent

# NULL-propagating form ('||', not concat): DuckDB's concat() IGNORES
# null arguments, so md5(NULL) would yield the unparseable literal
# '0x' instead of NULL — found by the drift probe's NULL-text doc.
# Docs without text carry no fingerprint and are excluded on both
# engines below.
_FP_SQL = "CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)"


def _positions(h: Column) -> Column:
    """The BLOOM_K bit positions of a 60-bit key: double hashing
    pos_i = (h + i * h2) % M with h2 = 2*(h >> 30) + 1 (odd stride).
    Pure positive-integer arithmetic — identical in any engine."""
    h2 = F.shiftright(h, 30) * 2 + 1
    return F.transform(
        F.sequence(F.lit(0), F.lit(BLOOM_K - 1)),
        lambda i: (h + i.cast("long") * h2) % BLOOM_M,
    )


@register(
    "q_bloom_probe",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source, {_FP_SQL} AS fp FROM documents
        WHERE text IS NOT NULL
    ),
    bit_src AS (
        SELECT DISTINCT source,
               (fp + i * ((fp >> 30) * 2 + 1)) % {BLOOM_M} AS pos
        FROM d, (SELECT unnest(range({BLOOM_K})) AS i)
    ),
    bit_all AS (SELECT DISTINCT pos FROM bit_src),
    probes AS (
        SELECT doc_id AS probe_id, fp AS key FROM d
        WHERE doc_id % 20 = 0
        ORDER BY doc_id LIMIT {BLOOM_PROBE_N}
    ),
    all_probes AS (
        SELECT probe_id, key FROM probes
        UNION ALL
        SELECT -(i + 1) AS probe_id,
               CAST('0x' || substr(md5(
                   'bloom-absent-' || CAST(i AS VARCHAR)), 1, 15)
                   AS BIGINT) AS key
        FROM (SELECT unnest(range({BLOOM_PROBE_N})) AS i)
    ),
    ppos AS (
        SELECT DISTINCT probe_id, key,
               (key + i * ((key >> 30) * 2 + 1)) % {BLOOM_M} AS pos
        FROM all_probes, (SELECT unnest(range({BLOOM_K})) AS i)
    ),
    pn AS (
        SELECT probe_id, key, count(*) AS np FROM ppos
        GROUP BY probe_id, key
    ),
    maybe_src AS (
        SELECT p.probe_id, b.source, count(*) AS nhit
        FROM ppos p JOIN bit_src b USING (pos)
        GROUP BY p.probe_id, b.source
    ),
    n_maybe AS (
        SELECT m.probe_id, count(*) AS n_maybe_sources
        FROM maybe_src m JOIN pn USING (probe_id)
        WHERE m.nhit = pn.np GROUP BY m.probe_id
    ),
    ghit AS (
        SELECT p.probe_id, count(*) AS nhit
        FROM ppos p JOIN bit_all b USING (pos) GROUP BY p.probe_id
    ),
    n_present AS (
        SELECT p.probe_id, count(DISTINCT d.source) AS n_present_sources
        FROM all_probes p JOIN d ON d.fp = p.key GROUP BY p.probe_id
    )
    SELECT pn.probe_id,
           coalesce(n_maybe.n_maybe_sources, 0) AS n_maybe_sources,
           CAST(CASE WHEN coalesce(ghit.nhit, 0) = pn.np
                THEN 1 ELSE 0 END AS BIGINT) AS global_maybe,
           coalesce(n_present.n_present_sources, 0) AS n_present_sources
    FROM pn
    LEFT JOIN n_maybe USING (probe_id)
    LEFT JOIN ghit USING (probe_id)
    LEFT JOIN n_present USING (probe_id)
    """,
)
def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build per-source Bloom filters over doc fingerprints, merge
    them (union of set bits = OR of bitmaps), probe a FIXED query set:
    the first BLOOM_PROBE_N present fingerprints (by doc_id, from the
    1-in-20 sample) + as many synthetic absent keys. Returns
    (probe_id, n_maybe_sources, global_maybe, n_present_sources) —
    n_maybe >= n_present always (no false negatives, asserted by
    tests), and global_maybe can exceed any single source's verdict
    (merged filters trade FP rate for mergeability).

    Scale shape: the filter is a RELATION of (source, pos) rows —
    at most sources x M rows regardless of corpus size — produced by
    ONE distinct whose map-side combine collapses each partition's
    duplicate bits before the exchange; the corpus is scanned once.
    Probe positions (50 x 4 rows) broadcast into both membership
    joins. The exact-answer join is fingerprint-keyed and
    probe-bounded. At 100 TB this is the partition-skipping recipe:
    per-bucket position sets stay tiny, merge by union, and a lookup
    touches only buckets whose filter says maybe.

    Since r14 (VERDICT r13 item 8, guide §2.1) the shared subtrees are
    PERSISTED instead of re-planned per consumer: the fingerprint
    relation `d` (narrow corpus-linear (doc_id, source, fp) — three
    consumers used to mean three parquet scans and three full-corpus
    md5 passes), the per-source bit relation (feeds the per-source
    probe AND the merged filter), the probe set (TakeOrdered job: two
    consumers), and the probe positions (three consumers). Caches are
    released at the next drain point (materialize_unpersist defer) —
    the same lifecycle every dedup headliner uses."""
    from ..caching import materialize_unpersist

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id", "source", portable_hash60(F.col("text")).alias("fp")
        )
        .persist()
    )
    bit_src = (
        d.select("source", F.explode(_positions(F.col("fp"))).alias("pos"))
        .distinct()
        .persist()
    )
    bit_all = bit_src.select("pos").distinct()
    # ADVICE r7: cap the present probes at BLOOM_PROBE_N (TakeOrdered —
    # first N by doc_id among the 1-in-20 sample, mirrored in the
    # oracle's ORDER BY doc_id LIMIT). Without the cap the probe set is
    # corpus/20-sized, and the hard broadcast hints below — justified
    # only because every probe-derived frame is <= 2*N*K rows by
    # construction — would ship a corpus-proportional side.
    present = (
        d.filter(F.col("doc_id") % 20 == 0)
        .select(F.col("doc_id").alias("probe_id"), F.col("fp").alias("key"))
        .orderBy("probe_id")
        .limit(BLOOM_PROBE_N)
    )
    absent = spark.range(BLOOM_PROBE_N).select(
        (-(F.col("id") + 1)).alias("probe_id"),
        portable_hash60(
            F.concat(F.lit("bloom-absent-"), F.col("id").cast("string"))
        ).alias("key"),
    )
    probes = present.unionByName(absent).persist()
    ppos = probes.select(
        "probe_id", "key", F.explode(_positions(F.col("key"))).alias("pos")
    ).distinct().persist()
    pn = ppos.groupBy("probe_id", "key").agg(F.count("*").alias("np"))
    maybe_src = (
        F.broadcast(ppos)
        .join(bit_src, "pos")
        .groupBy("probe_id", "source")
        .agg(F.count("*").alias("nhit"))
    )
    n_maybe = (
        maybe_src.join(F.broadcast(pn), "probe_id")
        .filter(F.col("nhit") == F.col("np"))
        .groupBy("probe_id")
        .agg(F.count("*").alias("n_maybe_sources"))
    )
    ghit = (
        F.broadcast(ppos)
        .join(bit_all, "pos")
        .groupBy("probe_id")
        .agg(F.count("*").alias("nhit"))
    )
    n_present = (
        F.broadcast(probes)
        .join(d, probes["key"] == d["fp"])
        .groupBy("probe_id")
        .agg(F.countDistinct("source").alias("n_present_sources"))
    )
    return materialize_unpersist(
        pn.join(n_maybe, "probe_id", "left")
        .join(ghit.withColumnRenamed("nhit", "gn"), "probe_id", "left")
        .join(n_present, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_maybe_sources", F.lit(0)).alias(
                "n_maybe_sources"
            ),
            F.when(F.coalesce("gn", F.lit(0)) == F.col("np"), 1)
            .otherwise(0)
            .cast("long")
            .alias("global_maybe"),
            F.coalesce("n_present_sources", F.lit(0)).alias(
                "n_present_sources"
            ),
        ),
        d,
        bit_src,
        probes,
        ppos,
        defer=True,
    )


@register(
    "q_bloom_stream",
    oracle=f"""
    WITH d AS (
        SELECT doc_id % {SK_BATCHES} AS b_id, {_FP_SQL} AS fp
        FROM documents WHERE text IS NOT NULL
    ),
    bits AS (
        SELECT DISTINCT b_id,
               (fp + i * ((fp >> 30) * 2 + 1)) % {BLOOM_M} AS pos
        FROM d, (SELECT unnest(range({BLOOM_K})) AS i)
    ),
    firsts AS (SELECT pos, min(b_id) AS fb FROM bits GROUP BY pos),
    nn AS (
        SELECT fb AS batch_id, count(*) AS n_new FROM firsts GROUP BY fb
    ),
    all_b AS (
        SELECT unnest(range({SK_BATCHES})) AS batch_id
    )
    SELECT CAST(all_b.batch_id AS BIGINT) AS batch_id,
           CAST(coalesce(nn.n_new, 0) AS BIGINT) AS n_new_bits,
           CAST(sum(coalesce(nn.n_new, 0)) OVER (
               ORDER BY all_b.batch_id) AS BIGINT) AS n_cum_bits
    FROM all_b LEFT JOIN nn USING (batch_id)
    """,
)
def q_bloom_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Bloom maintenance in a stream: the documents table
    arrives as SK_BATCHES micro-batches (doc_id % SK_BATCHES,
    file-stream twin of a Kafka ingest); each foreachBatch epoch
    computes the batch's set-bit positions and MERGES them into a
    persistent filter state (append + distinct — bitmap OR as a
    relation), the dedup-at-ingest sketch a 100 TB pipeline maintains.
    Returns (batch_id, n_new_bits, n_cum_bits) per epoch.

    Hash-checked mergeability law: because Bloom merge is associative
    AND commutative, the cumulative bit counts are a pure function of
    the batch PARTITION (min-batch census in the oracle), independent
    of how the stream interleaved rows inside each epoch — the same
    determinism argument as q_microbatch_flush's row-total invariant,
    but for sketch STATE rather than row delivery. Batch order itself
    is pinned by ascending staged mtimes (FileStreamSource orders by
    modification time — streaming/pipeline.py:81-86).

    Scale shape: per-epoch work is one batch scan + a distinct whose
    output is bounded by M bits; the STORED state relation is
    compacted per epoch (distinct + rename-swap, r10) so it never
    exceeds M rows no matter how many epochs merge into it — the
    incremental build costs the same as the batch build, paid as you
    ingest."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", portable_hash60(F.col("text")).alias("fp"))
    )
    log: list[tuple[int, int]] = []
    with stream_runtime.state_root("bloom_stream_") as root:
        state = Relation(os.path.join(root, "state"), "pos bigint")

        def per_batch(batch_df: DataFrame, b: int) -> None:
            s = batch_df.sparkSession
            state.append(
                batch_df.select(
                    F.explode(_positions(F.col("fp"))).alias("pos")
                ).distinct()
            )
            # Compact: distinct-overwrite the appended bit deltas
            # (bitmap OR idempotence/associativity) so the STORED
            # relation — not just its merged view — is bounded at M
            # rows (r10, the q_cms_stream pattern; makes the scale-
            # shape claim below physically true on disk).
            state.replace(state.read(s).distinct())
            n_cum = state.read(s).count()
            log.append((b, n_cum))

        replay_epochs(d, "doc_id", root, per_batch)
    schema = T.StructType(
        [
            T.StructField("batch_id", T.LongType()),
            T.StructField("n_new_bits", T.LongType()),
            T.StructField("n_cum_bits", T.LongType()),
        ]
    )
    rows = [
        (b, cum - (log[i - 1][1] if i else 0), cum)
        for i, (b, cum) in enumerate(log)
    ]
    return spark.createDataFrame(rows, schema)
