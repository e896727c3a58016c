"""Corpus dedup and admission control AT INGEST — the dedup, clustering,
and curation members of the streaming-maintenance family (sketches:
bloom/cms/hll/quantile; lexical index: q_index_stream; vector index:
q_ann_index_stream; near-dup index, duplicate-cluster union-find, and
quality/dedup admission here complete the set). The reference engine's premise is incremental
keyed state over a micro-batched ingest
(`AbstractPrometheusFirehose.java:41-51`,
`AbstractFirehose.java:107-131`); this is its dedup-index analogue and
the shape every 100 TB training-data pipeline actually runs: new
documents are checked against a maintained MinHash-LSH index as they
arrive — history is never re-shingled, and the all-pairs batch job
(q_dedup_near) is replaced by an O(batch x collided-buckets) probe per
epoch.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from . import stream_runtime
from .dedup import (
    NEAR_BUCKET_CAP,
    WORDS_SQL,
    doc_shingle_hashes,
    jaccard,
    jaccard_sql,
    lsh_bands,
    minhash_signature,
    shingles_sql,
    words,
)
from .similarity_queries import (
    SEM_TAU,
    _sem_k,
    centroids,
    ivf_oracle_head,
    nearest_centroid,
)
from .state_dir import Bucketed, Relation, Versioned, bucket_of
from .stream_runtime import SK_BATCHES, Overlap, replay_epochs
from .text_queries import quality_gate, quality_gate_sql

NEAR_STREAM_JAC = 0.2  # same verify threshold as q_dedup_near
NEAR_STREAM_HASHES = 32  # same 32-minhash / 8-band scheme
NEAR_STREAM_BANDS = 8
# Bucket skew cap, the q_dedup_near trade at ingest. Since the r11
# contraction the count is distinct CONTENTS (classes) per band
# bucket, measured over state PLUS the probing epoch's new classes —
# the bucket's true candidate-generation cost this epoch (new-vs-new
# class pairs must be verified on arrival, so they occupy the bucket
# too). A bucket over the cap is skipped for the epoch, and because a
# class pair is verified only when its younger class arrives, a
# suppressed bucket's pairs stay unverified — the same permanence any
# occupancy cap has on a grow-only index (the pre-r11 per-doc form
# suppressed every later arrival at that bucket too, and duplicate
# MASS can no longer be what fills it). Vacuous at the test SFs (no
# bucket approaches 64 distinct near-dup contents); the oracle
# therefore replays the uncapped semantics, and a corpus where the cap
# engages is the documented boilerplate-band recall trade, not a
# silent bug. Shares dedup.NEAR_BUCKET_CAP — the q_dedup_near
# max_bucket stance, one constant by design (ADVICE r12 item 2).
NEAR_STREAM_BUCKET_CAP = NEAR_BUCKET_CAP


def _near_pairs_sql(src: str) -> str:
    """The oracles' near-dup pair CTEs over `src` (doc_id, b, ws):
    `sh` holds the trigram shingle set of every row with at least 3
    words, and `p` every pair id_a < id_b with both epochs (ba, bb)
    and the shingle Jaccard rounded at 6 dp, at jac >= NEAR_STREAM_JAC."""
    return f"""
    sh AS (
        SELECT doc_id, b, {shingles_sql("ws")} AS s
        FROM {src} WHERE len(ws) >= 3
    ),
    p AS (
        SELECT * FROM (
            SELECT a.doc_id AS id_a, a.b AS ba, c.doc_id AS id_b, c.b AS bb,
                   round({jaccard_sql("a.s", "c.s")}, 6) AS jac
            FROM sh a JOIN sh c ON a.doc_id < c.doc_id
        ) WHERE jac >= {NEAR_STREAM_JAC}
    )"""


def _batch_mismatches(b: int) -> Column:
    """Aggregate column: the rows of micro-batch b whose doc_id %
    SK_BATCHES != b (0 on an empty batch)."""
    return F.coalesce(
        F.sum((F.col("doc_id") % SK_BATCHES != b).cast("long")), F.lit(0)
    )


def _assert_batch_membership(mis: int, b: int) -> None:
    """Raise when micro-batch b holds `mis` > 0 rows of another batch
    (_batch_mismatches(b) aggregated over the batch). The local epoch
    counter assumes the staged files replay in doc_id % SK_BATCHES
    order; a retried or replayed foreachBatch invocation, or an
    mtime-order drift in the staging, would otherwise misalign batch
    ids against the oracles' % census without a sound."""
    if mis:
        raise RuntimeError(
            f"micro-batch {b} contains {mis} rows whose doc_id % "
            f"{SK_BATCHES} != {b}: epoch counter / staged-file order "
            "drift — batch ids no longer match the oracle census"
        )


def _index_paths(root: str) -> dict[str, Bucketed]:
    """State relations of the contracted LSH ingest index — one layout
    shared by every pipeline that maintains the index, so the near-dup
    detector, the cluster maintainer, and the ingest capstone
    physically share relations when run in one foreachBatch. Each is
    pb-bucketed on its probe key and b_id-tagged."""
    rels = {
        "members": "doc_id bigint, cfp string",
        "classes": "cfp string, rep_id bigint",
        "bands": "cfp string, band_id int, band_hash bigint",
        "shingles": "cfp string, sh array<bigint>",
        "class_pairs": "cfp string, other string, jac double",
    }
    return {
        rel: Bucketed(os.path.join(root, rel), f"{cols}, b_id int, pb int")
        for rel, cols in rels.items()
    }


def _ledger_result(s: SparkSession, ledger: Relation) -> DataFrame:
    """The query's RESULT as a read of its per-epoch ledger relation
    (the sink IS the implementation — epochs append, the driver never
    accumulates rows). localCheckpoint(eager) materializes the
    partitions into executor storage so the frame survives the
    temp-state cleanup; a production deployment keeps the ledger as
    the durable output table and skips both. A never-written ledger
    (no emitting epoch) reads as an empty frame."""
    return ledger.read(s).localCheckpoint(eager=True)


def _distinct_pbs(df: DataFrame, col) -> list[int]:
    """The sorted distinct pb buckets a key column hashes into — the
    tiny driver round-trip (bounded by ROOT_PB values) that turns an
    epoch's touched-key set into the bucket list of a pruned
    state_dir scan. One global collect_set aggregate: map-side partials
    feed a single final task and one result row — measurably cheaper
    per epoch than a distinct + exchange + 32-partition collect."""
    row = df.agg(F.collect_set(col.alias("pb")).alias("pbs")).first()
    return sorted(row["pbs"])


def _lazy_pbs(df: DataFrame, col):
    """Deferred, memoized touched-bucket list: the collect_set job runs
    the FIRST time a consumer actually prunes with it (i.e. only when
    some state relation cleared PRUNE_MIN_STATE_BYTES) and its result
    is shared by every later consumer in the epoch. Callers must
    resolve it only while `df`'s caches/lineage are valid. Resolution
    is lock-guarded (optimization r14): the per-relation maintenance
    pipelines run from a thread pool and several share one bucket list
    (members/classes/shingles all prune on the batch's cfp buckets) —
    without the lock two threads would run the collect_set job twice."""
    import threading

    box: list = []
    lock = threading.Lock()

    def get() -> list[int]:
        with lock:
            if not box:
                box.append(_distinct_pbs(df, col))
        return box[0]

    return get


def _index_epoch(
    s: SparkSession,
    b: int,
    flt: DataFrame,
    ip: dict[str, Bucketed],
    jobs: Overlap,
) -> tuple[DataFrame, DataFrame, DataFrame, list[DataFrame], list[int]]:
    """ONE epoch of contracted-LSH index maintenance — the
    q_dedup_near_stream kernel, extracted in r12 so the duplicate-
    cluster maintainer and the ingest capstone run the SAME index over
    the SAME state relations instead of a demo edge window. `flt` is
    the epoch's shingleable arrivals (doc_id, text, cfp with cfp =
    md5(text)); `ip` is _index_paths.

    Per-epoch work (the r11 contraction, unchanged): map-side-
    combining class agg (duplicate text collapses BEFORE any shuffle),
    one left_anti against the class state to find FIRST-seen contents,
    shingle/minhash/band over NEW classes only, band-bucket candidate
    probe under the NEAR_STREAM_BUCKET_CAP distinct-content occupancy
    cap, exact hashed-shingle Jaccard verify ONCE per class pair (every
    candidate has a new-this-epoch side). Appends all five state
    relations epoch-tagged with b_id = b — every reader filters
    b_id < b, so the appends are invisible to this epoch's own frames
    (the r11 refreshByPath discipline).

    Every state relation is ALSO pb-bucket-partitioned on its probe key
    — classes and shingles by hash(cfp), bands by hash(band_id,
    band_hash), class_pairs and members by hash(lookup-side cfp) — and
    each per-epoch probe pushes the epoch's touched-bucket list into the
    scan as a partition predicate (Bucketed.scan): the admission
    left_anti reads only the batch's cfp buckets, the candidate probe
    only the new classes' band buckets, the verify join only the
    candidate pairs' cfp buckets. On a content-DIVERSE corpus — where
    these relations are corpus-linear — per-epoch read cost therefore
    scales with the BATCH's key footprint, not the corpus (the
    reference's own ingest never rescans its state either:
    AbstractPrometheusFirehose.java:41-51 is a keyed lookup). Returns
    (members_b, new_cls, cp_new, extra_caches, batch_pbs): the epoch's
    member rows, first-seen classes (cfp, rep_id, text), verified class
    pairs (cfp, other, jac — BOTH orientations), internal persists the
    caller must unpersist, and the batch's cfp bucket list for the
    caller's own pruned lookups.

    The five state-relation maintenance pipelines (append ->
    compaction, see below) are submitted to the caller's `jobs` handle
    and still in flight on return: the caller overlaps them with its
    own index-independent work and must close the handle before
    anything re-reads or compacts the index relations, and before it
    releases the returned caches the pipelines read."""
    rows_per_band = NEAR_STREAM_HASHES // NEAR_STREAM_BANDS
    members_b = (
        flt.select("doc_id", "cfp").withColumn("b_id", F.lit(b))
    ).persist()
    agg_b = flt.groupBy("cfp").agg(
        F.min("doc_id").alias("rep_id"),
        F.min_by("text", "doc_id").alias("text"),
    ).persist()
    batch_pbs = _lazy_pbs(agg_b, bucket_of(F.col("cfp")))
    new_cls = agg_b.join(
        ip["classes"].scan(s, batch_pbs, b).select("cfp"),
        "cfp",
        "left_anti",
    )
    # localCheckpoint, not persist: new_cls outlives this epoch's
    # appends (the cluster epoch and the ingest rep_map consume it
    # after them), and the appends INVALIDATE every cached plan that
    # references the appended paths (Spark recacheByPath) — a merely
    # persisted new_cls would silently recompute its classes-state
    # left_anti for each post-append consumer. Truncating the lineage
    # to the materialized RDD makes it immune (measured r13: the
    # invalidation cascade re-ran the candidate+verify pipeline 2-3x
    # per epoch).
    new_cls = new_cls.localCheckpoint(eager=False)
    sh_n = doc_shingle_hashes(
        new_cls.select("cfp", "text"), "cfp", "text", out="sh"
    ).select(F.col("_id").alias("cfp"), "sh").persist()
    sig = sh_n.select(
        "cfp",
        minhash_signature(F.col("sh"), NEAR_STREAM_HASHES).alias("_sig"),
    )
    bands_n = sig.select(
        "cfp",
        F.explode(
            lsh_bands(F.col("_sig"), NEAR_STREAM_BANDS, rows_per_band)
        ).alias("bb"),
    ).select("cfp", "bb.band_id", "bb.band_hash").persist()
    band_pbs = _lazy_pbs(
        bands_n, bucket_of(F.col("band_id"), F.col("band_hash"))
    )
    all_bands = (
        ip["bands"]
        .scan(s, band_pbs, b)
        .select("cfp", "band_id", "band_hash")
        .unionByName(bands_n)
    )
    # `hit` feeds both the occupancy census and the candidate join —
    # persist so the (pruned state + batch) band probe runs once.
    hit = all_bands.join(
        bands_n.select("band_id", "band_hash").distinct(),
        ["band_id", "band_hash"],
    ).persist()
    occ_ok = (
        hit.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= NEAR_STREAM_BUCKET_CAP)
        .select("band_id", "band_hash")
    )
    cand = (
        bands_n.select(
            "band_id", "band_hash", F.col("cfp").alias("cfp_n")
        )
        .join(
            hit.join(occ_ok, ["band_id", "band_hash"]).select(
                "band_id", "band_hash", F.col("cfp").alias("cfp_o")
            ),
            ["band_id", "band_hash"],
        )
        .filter(F.col("cfp_n") != F.col("cfp_o"))
        .select(
            F.least("cfp_n", "cfp_o").alias("cfp_a"),
            F.greatest("cfp_n", "cfp_o").alias("cfp_b"),
        )
        .distinct()
        .persist()
    )
    cand_pbs = _lazy_pbs(
        cand.select(
            F.explode(
                F.array(bucket_of(F.col("cfp_a")), bucket_of(F.col("cfp_b")))
            ).alias("p")
        ),
        F.col("p"),
    )
    sh_all = (
        ip["shingles"]
        .scan(s, cand_pbs, b)
        .select("cfp", "sh")
        .unionByName(sh_n)
    )
    # pv persisted: cp_new unions both orientations of it, and an
    # unpersisted pv would run the two shingle verify joins TWICE
    # (unionByName duplicates the subtree) — the single largest
    # per-epoch compute.
    pv = (
        cand.join(
            sh_all.select(
                F.col("cfp").alias("cfp_a"), F.col("sh").alias("sha")
            ),
            "cfp_a",
        )
        .join(
            sh_all.select(
                F.col("cfp").alias("cfp_b"), F.col("sh").alias("shb")
            ),
            "cfp_b",
        )
        .select(
            "cfp_a",
            "cfp_b",
            F.round(jaccard(F.col("sha"), F.col("shb")), 6).alias("jac"),
        )
        .filter(F.col("jac") >= NEAR_STREAM_JAC)
        .persist()
    )
    # EAGER localCheckpoint: cp_new is the epoch's hot output — the
    # emission, the cluster epoch's delta graph, and the class_pairs
    # append all read it, mostly AFTER the state appends below, whose
    # recacheByPath would invalidate a persisted plan and re-run the
    # whole candidate+verify pipeline per consumer. Materializing the
    # pair set once here (caches still valid) pins it for the epoch.
    cp_new = (
        pv.select(
            F.col("cfp_a").alias("cfp"),
            F.col("cfp_b").alias("other"),
            "jac",
        ).unionByName(
            pv.select(
                F.col("cfp_b").alias("cfp"),
                F.col("cfp_a").alias("other"),
                "jac",
            )
        )
    ).localCheckpoint(eager=True)
    # Appends CLUSTER rows by pb first (Bucketed.append): without the
    # repartition, every one of the ~32 upstream tasks writes a file
    # into every bucket dir it touches — ~1000 files per relation per
    # epoch, and the per-file commit renames + relistings dominated
    # the epoch wall (measured r13: q_dedup_near_stream 37 s -> 126 s
    # at sf0.1 before this fix). One batch-sized shuffle per append
    # buys one file per touched bucket per epoch.
    #
    # Each relation is one MAINTENANCE PIPELINE (append -> compaction
    # sweep of that relation), and the five run concurrently: the
    # relations are disjoint paths, every input frame is persisted or
    # checkpointed by this point, and the sweep of relation X depends
    # only on X's own files, so no pipeline reads what another writes.
    # Every touched bucket still compacts at INDEX_COMPACT_FILES parts.
    # Above the prune gate the sweep is limited to the epoch's touched
    # buckets — batch cfp buckets for the cfp-keyed relations
    # (new-class cfps are a subset), band buckets for bands, and the
    # pair frame's own cfp buckets for class_pairs (its appended rows
    # carry OLD-side cfps outside the batch); below it the full-dir
    # listdir sweep is the cheap path, same stance as the scans.
    def _maintain(rel: str, df: DataFrame, key_pbs) -> None:
        ip[rel].append(df)
        ip[rel].compact(s, key_pbs)

    for rel, df, kp in (
        (
            "members",
            members_b.withColumn("pb", bucket_of(F.col("cfp"))),
            batch_pbs,
        ),
        (
            "bands",
            bands_n.withColumn("b_id", F.lit(b)).withColumn(
                "pb", bucket_of(F.col("band_id"), F.col("band_hash"))
            ),
            band_pbs,
        ),
        (
            "shingles",
            sh_n.withColumn("b_id", F.lit(b)).withColumn(
                "pb", bucket_of(F.col("cfp"))
            ),
            batch_pbs,
        ),
        (
            "classes",
            new_cls.select("cfp", "rep_id")
            .withColumn("b_id", F.lit(b))
            .withColumn("pb", bucket_of(F.col("cfp"))),
            batch_pbs,
        ),
        (
            "class_pairs",
            cp_new.withColumn("b_id", F.lit(b)).withColumn(
                "pb", bucket_of(F.col("cfp"))
            ),
            _lazy_pbs(cp_new, bucket_of(F.col("cfp"))),
        ),
    ):
        jobs.submit(lambda rel=rel, df=df, kp=kp: _maintain(rel, df, kp))
    return (
        members_b,
        new_cls,
        cp_new,
        [sh_n, agg_b, bands_n, cand, hit, pv],
        batch_pbs,
    )


@register(
    "q_dedup_near_stream",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, doc_id % {SK_BATCHES} AS b, {WORDS_SQL} AS ws
        FROM documents
    ),{_near_pairs_sql("w")}
    SELECT CAST(greatest(ba, bb) AS BIGINT) AS batch_id,
           CASE WHEN ba > bb THEN id_a ELSE id_b END AS doc_id,
           CASE WHEN ba > bb THEN id_b ELSE id_a END AS dup_of,
           jac
    FROM p WHERE ba <> bb
    """,
)
def q_dedup_near_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection at ingest: documents arrive as
    SK_BATCHES micro-batches (doc_id % SK_BATCHES, the file-stream twin
    of a Kafka ingest); each foreachBatch epoch shingles ITS batch
    only, probes the maintained LSH index (band postings from all
    EARLIER epochs) for candidates, verifies candidates by exact
    hashed-shingle Jaccard against the maintained shingle state, emits
    the hits, and then appends its own band postings + shingle sets to
    the index. Returns (batch_id, doc_id, dup_of, jac): every new doc
    paired with every already-ingested near-duplicate (jac >=
    {NEAR_STREAM_JAC}), i.e. the rows an ingest pipeline would use to
    drop or link arrivals. Within-batch duplicates are intentionally
    not emitted (both docs are new; the strictly-earlier semantics
    make the output a pure function of the batch partition).

    Hash-checked law: the emitted set equals the exact cross-epoch
    near-dup pairs (oracle: all-pairs Jaccard with o.b_id < n.b_id) —
    the q_dedup_near recall argument applies verbatim: corpus dup
    pairs sit at jac >= 0.9 where the 32-hash/8-band scheme's miss
    probability is ~2e-4 per pair, and verification is exact Jaccard
    over hashed shingles (equal to string-shingle Jaccard modulo
    64-bit collisions), rounded at 6 dp on both engines. Determinism:
    band postings union is associative/commutative and the probe reads
    only strictly-earlier state, so each epoch's output is independent
    of row interleaving inside epochs.

    The index is CONTRACTED on an md5 content fingerprint, so
    duplicate mass cannot fill the occupancy cap (an uncontracted
    index emitted ZERO rows on a 100x-duplicated clone, every bucket
    suppressed): only the FIRST
    arrival of each distinct content is shingled, minhashed, and
    banded; later identical arrivals are resolved by one fp lookup.
    Five state relations: members (doc_id, cfp, b_id — corpus-linear,
    3 narrow columns, never text), classes (cfp, rep_id), rep band
    postings + rep shingle sets (both scaled by CONTENT DIVERSITY,
    not corpus size — the heavy arrays no longer grow with duplicate
    mass), and verified class-pairs (cfp, other, jac; both
    orientations). A class pair is verified exactly once — when its
    younger class first arrives (candidates always have one
    new-this-epoch side, so no pair is ever re-verified) — and member
    pairs inherit the class pair's Jaccard (a function of the two
    shingle SETS), same-class pairs being jac = 1.0 by identity.

    Scale shape: per-epoch maintenance is ONE batch scan -> fp ->
    map-side-combining class agg -> shingle/32-minhash/8-band fold
    over NEW classes only; the probe touches the index ONLY at the
    new classes' band buckets, with the {NEAR_STREAM_BUCKET_CAP}-CLASS
    occupancy cap counting distinct contents per bucket across state
    PLUS the arriving epoch's classes — the bucket's true candidate
    cost, see the constant's comment for the exact semantics and the
    permanence trade (genuine near-dup-diversity skew only —
    exact-duplicate mass can no longer consume cap budget or suppress
    buckets). Emission is two equi-
    joins against strictly-earlier members — the same-class join
    pruned to the batch's cfp buckets, the cross-class join to the
    incident pairs' other-side buckets. The per-epoch emission is a
    parquet LEDGER APPEND, not a driver-log collect: the pair ledger
    is QUADRATIC under duplicate mass (1.82M tuples on a 100x-cloned
    corpus), so each epoch writes
    its output-sized hits to the ledger relation and the query
    returns a read of that relation (localCheckpoint-materialized
    before the temp state is removed) — the driver never accumulates
    it, and a production run keeps the ledger as the output table
    (the reference's push sink flushes per batch the same way,
    PrometheusPusher.java:61-67). Reference parity: dedup-at-ingest
    generalizes the reference's keyed first-seen state
    (AbstractPrometheusFirehose.java:41-51) from exact keys to
    near-duplicate text."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    with stream_runtime.state_root("dedup_near_stream_") as root:
        ip = _index_paths(root)
        ledger = Relation(
            os.path.join(root, "ledger"),
            "batch_id bigint, doc_id bigint, dup_of bigint, jac double",
        )

        def per_batch(batch_df: DataFrame, b: int) -> None:
            s = batch_df.sparkSession
            _assert_batch_membership(
                batch_df.agg(_batch_mismatches(b)).first()[0], b
            )
            # Shingleable docs only (>= 3 words) — the population the
            # oracle's len(ws) >= 3 filter keeps.
            flt = batch_df.filter(F.size(words("text")) >= 3).select(
                "doc_id", "text", F.md5("text").alias("cfp")
            )
            caches: list[DataFrame] = []
            try:
                # Join point: the emission below reads the members and
                # class_pairs relations, which the index jobs append to
                # and compact — a compaction swaps bucket directories
                # under a reader, so every index job lands first. The
                # appends are epoch-tagged, so the emission's reads (all
                # filtered b_id < b) still see exactly the
                # strictly-earlier arrivals.
                with Overlap() as jobs:
                    members_b, new_cls, cp_new, extra, batch_pbs = (
                        _index_epoch(s, b, flt, ip, jobs)
                    )
                    caches += [members_b, new_cls, cp_new, *extra]
                # Emission: same-class pairs are jac = 1.0 by identity;
                # cross-class pairs inherit the class pair's Jaccard. Both
                # member lookups are bucket-pruned — batch-cfp buckets for
                # the same-class join and the stored pair probe, then the
                # incident pairs' other-side buckets (pair-bounded,
                # collected from the already-pruned incident frame) for
                # the cross-class join.
                if b > 0:
                    old_same = ip["members"].scan(s, batch_pbs, b)
                    same = (
                        members_b.select("doc_id", "cfp")
                        .join(
                            old_same.select(
                                F.col("doc_id").alias("dup_of"), "cfp"
                            ),
                            "cfp",
                        )
                        .select(
                            "doc_id", "dup_of", F.lit(1.0).alias("jac")
                        )
                    )
                    cp_all = (
                        ip["class_pairs"]
                        .scan(s, batch_pbs, b)
                        .select("cfp", "other", "jac")
                        .unionByName(cp_new.select("cfp", "other", "jac"))
                    )
                    inc = (
                        members_b.select("doc_id", "cfp")
                        .join(cp_all, "cfp")
                        .persist()
                    )
                    caches.append(inc)
                    other_pbs = _lazy_pbs(inc, bucket_of(F.col("other")))
                    cross = inc.join(
                        ip["members"].scan(s, other_pbs, b).select(
                            F.col("doc_id").alias("dup_of"),
                            F.col("cfp").alias("other"),
                        ),
                        "other",
                    ).select("doc_id", "dup_of", "jac")
                    ledger.append(
                        same.unionByName(cross).select(
                            F.lit(b).cast("long").alias("batch_id"),
                            F.col("doc_id").cast("long").alias("doc_id"),
                            F.col("dup_of").cast("long").alias("dup_of"),
                            F.col("jac").cast("double").alias("jac"),
                        )
                    )
            finally:
                for c in caches:
                    c.unpersist()

        replay_epochs(d, "doc_id", root, per_batch)
        return _ledger_result(spark, ledger)


@register(
    "q_curation_stream",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, doc_id % {SK_BATCHES} AS b, md5(text) AS fp,
               {WORDS_SQL} AS ws
        FROM documents WHERE text IS NOT NULL
    ),
    q AS (SELECT b, fp FROM w WHERE {quality_gate_sql("ws")[3]}),
    firstb AS (SELECT fp, min(b) AS fb FROM q GROUP BY fp),
    arr AS (
        SELECT doc_id % {SK_BATCHES} AS b, count(*) AS n_arrived
        FROM documents GROUP BY 1
    ),
    qa AS (SELECT b, count(*) AS n_q FROM q GROUP BY b),
    adm AS (SELECT fb AS b, count(*) AS n_admitted FROM firstb GROUP BY fb)
    SELECT CAST(arr.b AS BIGINT) AS batch_id,
           CAST(arr.n_arrived AS BIGINT) AS n_arrived,
           CAST(arr.n_arrived - coalesce(qa.n_q, 0) AS BIGINT)
               AS n_quality_fail,
           CAST(coalesce(qa.n_q, 0) - coalesce(adm.n_admitted, 0) AS BIGINT)
               AS n_dup_dropped,
           CAST(coalesce(adm.n_admitted, 0) AS BIGINT) AS n_admitted,
           CAST((SELECT count(*) FROM firstb f WHERE f.fb <= arr.b)
                AS BIGINT) AS n_corpus_cum
    FROM arr
    LEFT JOIN qa ON qa.b = arr.b
    LEFT JOIN adm ON adm.b = arr.b
    ORDER BY batch_id
    """,
)
def q_curation_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ADMISSION CONTROL at ingest — the streaming twin of
    q_corpus_curation's gate+dedup front half, and the pipeline shape a
    100 TB pre-training corpus actually runs at its front door: each
    micro-batch epoch quality-gates ITS arrivals (non-null text through
    q_corpus_curation's text_queries.quality_gate), drops content
    already admitted (md5 content fingerprint, within-batch and
    against the maintained admitted-fingerprint state), appends the
    newly admitted fingerprints to the state, and emits the epoch's
    admission ledger:
    (batch_id, n_arrived, n_quality_fail, n_dup_dropped, n_admitted,
    n_corpus_cum) — all BIGINT counts, hash-exact by construction.

    Hash-checked law: the ledger equals the DuckDB replay where a
    fingerprint is admitted exactly once, in the first epoch where a
    quality-passing copy arrives (min-batch census) — so sum(n_admitted)
    == the batch q_corpus_curation's deduped survivor count (the stream
    admits precisely what the batch curation keeps; cross-operator law
    pinned in tests/test_dedup_stream.py). Counts are pure functions of
    the batch partition: admission is per-FINGERPRINT (not per-doc), so
    within-epoch row order never matters.

    Scale shape: per-epoch work is one batch scan (gates are row-local
    array math, zero shuffle), a batch-sized fp-distinct, and ONE
    left_anti equi-join against the admitted-fp state. The state is the
    same versioned pb-bucketed layout as the cluster state: the
    left_anti probe reads ONLY the batch's fp buckets (a
    partition-pruning predicate), and the epoch's newly admitted fps
    land via Versioned.rewrite — touched partitions written fresh,
    unchanged partitions hardlinked forward — so per-epoch read AND
    write cost scale with the batch's key footprint, never total state
    (the former append+periodic-compact layout consolidated O(state)
    bytes every other epoch). History text is never rescanned or
    re-scored; the cumulative count is a driver-side running sum (state
    rows only ever grow by the epoch's admissions), so no O(state) count
    job per epoch either. The stored relation stays bounded by CONTENT
    DIVERSITY, not corpus size — the measured 100x-clone property
    (SCALE.md r10: cloned corpora add zero state rows). Reference
    parity: this is the reference's keyed first-seen admission
    (AbstractPrometheusFirehose.java:41-51, lazy series creation)
    generalized from metric keys to document content, on its micro-batch
    boundaries (AbstractFirehose.java:107-131)."""
    from pyspark.sql import types as T

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    log: list[tuple[int, int, int, int, int, int]] = []
    cum = [0]
    with stream_runtime.state_root("curation_stream_") as root:
        admitted = Versioned(
            os.path.join(root, "admitted_fps"), "fp string, pb int"
        )

        def per_batch(batch_df: DataFrame, b: int) -> None:
            s = batch_df.sparkSession
            # One aggregate over the batch scan yields the membership
            # check, the arrival count and the quality-pass count: one
            # job per epoch, and the check still covers every row and
            # raises before any state is touched.
            scored = _quality_scored(batch_df)
            census = scored.agg(
                F.count(F.lit(1)).alias("n_arrived"),
                _batch_mismatches(b).alias("mis"),
                F.coalesce(
                    F.sum(F.col("ok").cast("long")), F.lit(0)
                ).alias("n_q"),
            ).first()
            _assert_batch_membership(census["mis"], b)
            n_arrived = census["n_arrived"]
            n_q = census["n_q"]
            fps = (
                scored.filter("ok")
                .select(F.md5("text").alias("fp"))
                .distinct()
                .withColumn("pb", bucket_of(F.col("fp")))
                .persist()
            )
            # Bucket-pruned probe: an admitted fp equal to a batch fp
            # must share its pb, so scanning only the batch's buckets
            # preserves left_anti semantics exactly. The anti-join
            # result feeds two actions (count + the selective
            # rewrite); persist closes its lifecycle inside the epoch.
            new = fps.join(
                admitted.scan(
                    s, lambda: _distinct_pbs(fps, F.col("pb"))
                ).select("fp"),
                "fp",
                "left_anti",
            ).persist()
            n_adm = new.count()
            admitted.rewrite(s, new.select("fp", "pb"), ("fp",))
            new.unpersist()
            fps.unpersist()
            cum[0] += n_adm
            log.append(
                (b, n_arrived, n_arrived - n_q, n_q - n_adm, n_adm, cum[0])
            )

        replay_epochs(d, "doc_id", root, per_batch)
    schema = T.StructType(
        [
            T.StructField("batch_id", T.LongType()),
            T.StructField("n_arrived", T.LongType()),
            T.StructField("n_quality_fail", T.LongType()),
            T.StructField("n_dup_dropped", T.LongType()),
            T.StructField("n_admitted", T.LongType()),
            T.StructField("n_corpus_cum", T.LongType()),
        ]
    )
    return spark.createDataFrame(log, schema)


# ---------------------------------------------------------------------------
# q_cluster_stream: incremental duplicate-cluster maintenance at ingest
# ---------------------------------------------------------------------------

def _cluster_state(root: str) -> tuple[Versioned, Versioned]:
    """The delta-CC state relations (roots, comp) of a cluster/ingest
    run; _cluster_epoch documents their rows."""
    return (
        Versioned(
            os.path.join(root, "roots"),
            "cfp string, rep_id bigint, root bigint, pb int",
        ),
        Versioned(
            os.path.join(root, "comp"), "root bigint, cmin bigint, pb int"
        ),
    )


def _cluster_epoch(
    s: SparkSession,
    b: int,
    members_b: DataFrame,
    new_cls: DataFrame,
    cp_new: DataFrame,
    roots: Versioned,
    comp: Versioned,
    jobs: Overlap,
) -> tuple[DataFrame, list[DataFrame]]:
    """ONE epoch of incremental duplicate-cluster maintenance over the
    contracted LSH index's verified class pairs — the root-contracted
    delta-CC step at CLASS granularity (the edge source is the index the
    pipeline already maintains). Returns (hits, caches): the batch's
    at-arrival assignments (doc_id, cluster_id) as a LAZY output-sized
    frame the caller must sink within the epoch (its lineage reads this
    epoch's committed state version, which survives exactly one more
    epoch), plus the internal persists the caller must unpersist after
    that sink — no driver collect here, and the caller's ledger append
    is the single materializing action.

    State (both versioned + pb-bucketed, selectively rewritten):
      roots: (cfp, rep_id, root, pb) — one row per distinct CONTENT
             (content-diversity-bounded, strictly smaller than the r11
             corpus-linear doc-level map), root = min rep_id reachable;
      comp:  (root, cmin, pb) — one row per live component, cmin = min
             doc_id ARRIVED in the component (the serving cluster id).
    Per-epoch cost: the delta graph spans this epoch's new classes
    plus the TOUCHED state roots only (edge endpoints relabel through
    their current root, so merged history collapses to one node);
    comp-min maintenance is a min-merge over old comp rows of touched
    roots + batch per-class mins — history classes are never
    re-scanned, and each rewrite writes only the touched partitions, so
    its bytes scale with the touched roots. Epochs whose verified-pair
    set is empty skip the iterative CC entirely (identity labels — no
    merge can happen without a new edge), and quiet state relations skip
    their version bump inside Versioned.rewrite. The two state rewrites
    are submitted to the caller's `jobs` handle and still in flight on
    return: the caller closes the handle before it releases the returned
    caches, which the rewrites read."""
    from .curation_queries import connected_components

    batch_cls = (
        members_b.groupBy("cfp").agg(F.min("doc_id").alias("bmin"))
    ).persist()
    new_ids = new_cls.select("cfp", "rep_id")
    # One scan each, many consumers (cur, chg_old / old_contrib, both
    # rewrites): cache the narrow state frames for the epoch (VERDICT
    # r12 item 3) instead of re-listing the version dir per job.
    st = roots.read(s).persist()
    comp_st = comp.read(s).persist()
    # Involved classes: the batch's classes plus every verified-pair
    # endpoint (each pair has >= 1 new-this-epoch side). Node id = the
    # class's CURRENT root (state) or its own rep_id (new class) — the
    # root contraction that keeps the delta graph touched-sized.
    edges0 = cp_new.filter(F.col("cfp") < F.col("other")).select(
        "cfp", "other"
    )
    inv = (
        batch_cls.select("cfp")
        .unionByName(edges0.select("cfp"))
        .unionByName(edges0.select(F.col("other").alias("cfp")))
        .distinct()
    )
    cur = (
        inv.join(st.select("cfp", "root"), "cfp", "left")
        .join(
            new_ids.select("cfp", F.col("rep_id").alias("nrep")),
            "cfp",
            "left",
        )
        .select("cfp", F.coalesce("root", "nrep").alias("node"))
    ).persist()
    # No verified pairs this epoch -> no edge can merge anything:
    # labels are the identity and the iterative CC (one join + agg +
    # checkpoint job PER ROUND) is skipped outright — the common case
    # on a content-diverse stream, and a large slice of the r12
    # per-epoch job-count constant (VERDICT r12 item 3). cp_new is
    # already materialized (the kernel's class_pairs append), so the
    # probe reads cached partitions.
    if cp_new.isEmpty():
        labels = cur.select(
            F.col("node").alias("id"), F.col("node").alias("comp")
        ).distinct()
    else:
        e_nodes = (
            edges0.join(
                cur.select("cfp", F.col("node").alias("src")), "cfp"
            )
            .join(
                cur.select(
                    F.col("cfp").alias("other"), F.col("node").alias("dst")
                ),
                "other",
            )
            .select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        labels = connected_components(
            cur.select(F.col("node").alias("id")).distinct(),
            e_nodes.unionByName(
                e_nodes.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            ),
        )
    merged = labels.filter(F.col("comp") != F.col("id")).persist()
    # Component min-arrived-doc: old comp rows of touched roots are
    # relabeled and min-merged with the batch's per-class mins — the
    # only reads are touched-root comp rows; class history never
    # rescans.
    old_contrib = comp_st.join(
        F.broadcast(labels.withColumnRenamed("id", "root")), "root"
    ).select(F.col("comp").alias("root"), "cmin")
    batch_contrib = (
        batch_cls.join(cur, "cfp")
        .join(labels.withColumnRenamed("id", "node"), "node")
        .select(F.col("comp").alias("root"), F.col("bmin").alias("cmin"))
    )
    comp_new = (
        old_contrib.unionByName(batch_contrib)
        .groupBy("root")
        .agg(F.min("cmin").alias("cmin"))
    ).persist()
    # At-arrival emission (output-sized, LAZY): every batch doc
    # resolves through class -> node -> component label -> component
    # min; the caller's ledger append materializes it.
    hits = (
        members_b.select("doc_id", "cfp")
        .join(cur, "cfp")
        .join(labels.withColumnRenamed("id", "node"), "node")
        .join(comp_new, F.col("comp") == F.col("root"))
        .select("doc_id", F.col("cmin").alias("cluster_id"))
    )
    # Selective state rewrites (VERDICT r11 item 2). Roots: rows whose
    # root merged away (relabel through `merged` — a broadcast probe
    # over the narrow state scan) plus this epoch's new classes; rows
    # of untouched components are never rewritten (their partitions
    # hardlink forward). Quiet epochs skip the version bump inside
    # Versioned.rewrite — the former isEmpty() pre-probes are
    # gone (VERDICT r12 item 3).
    chg_old = st.join(
        F.broadcast(merged.withColumnRenamed("id", "root")), "root"
    ).select("cfp", "rep_id", F.col("comp").alias("root"))
    chg_new = (
        new_ids.join(cur, "cfp")
        .join(labels.withColumnRenamed("id", "node"), "node", "left")
        .select(
            "cfp", "rep_id", F.coalesce("comp", "node").alias("root")
        )
    )
    upserts = chg_old.unionByName(chg_new).withColumn(
        "pb", bucket_of(F.col("cfp"))
    )
    # Comp rows: upsert every touched component's (root, cmin); delete
    # absorbed roots (their label merged into another component's).
    comp_up = comp_new.withColumn("pb", bucket_of(F.col("root")))
    comp_del = merged.select(F.col("id").alias("root")).withColumn(
        "pb", bucket_of(F.col("root"))
    )
    # The two rewrites run concurrently: they write disjoint relations
    # (roots vs comp), read only this epoch's persisted/checkpointed
    # frames plus their own relation's current IMMUTABLE version dir,
    # and neither reads what the other writes.
    jobs.submit(
        lambda: roots.rewrite(s, upserts, ("cfp",))
    )
    jobs.submit(
        lambda: comp.rewrite(s, comp_up, ("root",), comp_del)
    )
    return hits, [batch_cls, cur, merged, comp_new, st, comp_st]


def _prefix_cc_sql(head: str, nodes: str, emit) -> str:
    """The per-epoch prefix-CC replay shared by the cluster and ingest
    oracles: WITH RECURSIVE `head` (which defines the pair CTE `p`),
    then for each epoch k one recursive min-label CC over the arrival
    prefix — the `nodes` rows with b <= k, linked by the p pairs inside
    it — and the UNION ALL of emit(k), epoch k's own rows read from
    comp{k}."""
    blocks = [
        f"""
    e{k}(src, dst) AS (
        SELECT id_a, id_b FROM p WHERE ba <= {k} AND bb <= {k}
        UNION ALL
        SELECT id_b, id_a FROM p WHERE ba <= {k} AND bb <= {k}
    ),
    reach{k}(id, comp) AS (
        SELECT doc_id, doc_id FROM {nodes} WHERE b <= {k}
        UNION
        SELECT e.dst, r.comp FROM reach{k} r JOIN e{k} e ON e.src = r.id
    ),
    comp{k} AS (SELECT id, min(comp) AS comp FROM reach{k} GROUP BY id)"""
        for k in range(SK_BATCHES)
    ]
    selects = [emit(k) for k in range(SK_BATCHES)]
    return (
        "WITH RECURSIVE"
        + head
        + ","
        + ",".join(blocks)
        + "\n    "
        + "\n    UNION ALL\n    ".join(selects)
    )


def _cluster_stream_oracle() -> str:
    """DuckDB replay of at-arrival cluster assignment over the full
    shingleable corpus: the near-dup pair set (shingle Jaccard >=
    NEAR_STREAM_JAC, computed once with both epoch ids) feeds one
    recursive min-label CTE per epoch over the arrival prefix b <= k,
    emitting epoch k's own docs. Identical-text docs share shingle sets
    (jac = 1.0), so exact duplicates connect without a separate
    fingerprint edge."""
    head = f"""
    w AS (
        SELECT doc_id, doc_id % {SK_BATCHES} AS b, {WORDS_SQL} AS ws
        FROM documents WHERE text IS NOT NULL
    ),{_near_pairs_sql("w")}"""
    return _prefix_cc_sql(
        head,
        "sh",
        lambda k: f"""SELECT CAST({k} AS BIGINT) AS batch_id,
           CAST(s.doc_id AS BIGINT) AS doc_id,
           CAST(c.comp AS BIGINT) AS cluster_id
    FROM sh s JOIN comp{k} c ON c.id = s.doc_id WHERE s.b = {k}""",
    )


def _final_assignment(
    spark: SparkSession,
    ip: dict[str, Bucketed],
    roots: Versioned,
    comp: Versioned,
) -> DataFrame:
    """Final doc -> cluster view of a finished cluster/ingest run:
    members expand through the class root map to the component min —
    the serving lookup a downstream consumer runs, and the frame the
    cross-operator law tests compare against batch CC."""
    return (
        ip["members"]
        .read(spark)
        .select("doc_id", "cfp")
        .join(roots.read(spark).select("cfp", "root"), "cfp")
        .join(comp.read(spark).select("root", "cmin"), "root")
        .select("doc_id", F.col("cmin").alias("cluster_id"))
    )


@register("q_cluster_stream", oracle=_cluster_stream_oracle())
def q_cluster_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental duplicate-CLUSTER maintenance at ingest — the
    transitive-closure member of the streaming dedup family (detection:
    q_dedup_near_stream; clustering: here; admission: q_curation_stream;
    one-pass composition: q_ingest_stream; batch twin:
    q_dedup_clusters). Documents arrive as SK_BATCHES micro-batches
    (doc_id % SK_BATCHES); each foreachBatch epoch runs the SHARED
    contracted-LSH index kernel (_index_epoch — the exact pipeline
    q_dedup_near_stream maintains, over the same five state relations)
    and feeds its verified class pairs into root-contracted delta CC
    (_cluster_epoch), emitting each arrival's AT-ARRIVAL cluster
    assignment: (batch_id, doc_id, cluster_id) with cluster_id = the
    minimum doc_id arrived so far in the doc's near-dup component
    (shingle Jaccard >= NEAR_STREAM_JAC) — the serving answer "which
    existing duplicate cluster does this doc join". Later merges
    intentionally do not re-emit earlier docs (the state holds the live
    clustering; the emission is the arrival ledger). This is the
    100 TB shape end-to-end: no pair window bounds the input — edge
    discovery is the index probe, the clustered universe is the FULL
    shingleable corpus, and duplicate mass contracts to content
    classes before any pairing.

    The incremental step runs at CLASS granularity: verified class
    pairs relabel through the maintained class roots, so each epoch's
    connected_components call spans this batch's new classes plus the
    TOUCHED roots only — per-epoch CC cost scales with new-edge count,
    never corpus size, and history is never re-paired (each class pair
    is verified exactly once, when its younger class arrives). State:
    the shared index relations plus roots (cfp, rep_id, root — one row
    per distinct CONTENT, content-diversity-bounded) and comp (root,
    cmin — one row per live component), both versioned + pb-bucketed
    with SELECTIVE partition rewrite (per-epoch rewritten bytes scale
    with touched roots; unchanged partitions hardlink forward).
    Reference parity: generalizes the reference's keyed first-seen
    state (AbstractPrometheusFirehose.java:41-51) from per-key
    last-value to cross-key equivalence classes.

    Determinism: min-label is associative/commutative; each epoch's
    output depends only on the arrival partition, not row
    interleaving. Hash-checked vs the per-epoch recursive-CTE replay
    over the exact pair set (LSH recall argument as q_dedup_near);
    the final state's equality with batch CC over q_dedup_near's
    pairs, the content-diversity state law, and the
    touched-partition rewrite law are pinned in
    tests/test_dedup_stream.py."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    with stream_runtime.state_root("cluster_stream_") as root:
        ip = _index_paths(root)
        roots, comp = _cluster_state(root)
        ledger = Relation(
            os.path.join(root, "ledger"),
            "batch_id bigint, doc_id bigint, cluster_id bigint",
        )

        def per_batch(batch_df: DataFrame, b: int) -> None:
            s = batch_df.sparkSession
            _assert_batch_membership(
                batch_df.agg(_batch_mismatches(b)).first()[0], b
            )
            flt = batch_df.filter(F.size(words("text")) >= 3).select(
                "doc_id", "text", F.md5("text").alias("cfp")
            )
            caches: list[DataFrame] = []
            try:
                # Join point, after the ledger append: the delta CC and
                # the append read only this epoch's checkpointed or
                # persisted frames and the CURRENT, immutable roots/comp
                # versions — never the five index paths nor the version
                # directories the rewrites create — so the index jobs
                # and both rewrites run in their shadow. Every job lands
                # before the caches it reads are released and before
                # the next epoch reads the index.
                with Overlap() as jobs:
                    members_b, new_cls, cp_new, extra, _pbs = _index_epoch(
                        s, b, flt, ip, jobs
                    )
                    caches += [members_b, new_cls, cp_new, *extra]
                    hits, cl_caches = _cluster_epoch(
                        s, b, members_b, new_cls, cp_new, roots, comp, jobs
                    )
                    caches += cl_caches
                    # The ledger append IS the emission: the per-epoch
                    # output lands in the sink relation, never a driver
                    # list, and this write is the action materializing
                    # the epoch's lazy assignment frame.
                    ledger.append(
                        hits.select(
                            F.lit(b).cast("long").alias("batch_id"),
                            F.col("doc_id").cast("long").alias("doc_id"),
                            F.col("cluster_id").cast("long").alias(
                                "cluster_id"
                            ),
                        )
                    )
            finally:
                for c in caches:
                    c.unpersist()

        replay_epochs(d, "doc_id", root, per_batch)
        return _ledger_result(spark, ledger)


# ---------------------------------------------------------------------------
# q_ingest_stream: the one-pass ingest capstone
# ---------------------------------------------------------------------------


def _quality_scored(batch_df: DataFrame) -> DataFrame:
    """The batch with its words `ws` and `ok`: q_corpus_curation's
    quality gate (text_queries.quality_gate) over non-null text — the
    one admission test of q_curation_stream and q_ingest_stream.
    Quality is a pure function of text, so every member of a content
    class passes or fails together, and the capstone's per-class
    admission is well-defined."""
    scored = batch_df.withColumn("ws", words("text"))
    passed = quality_gate(F.col("ws"))[3]
    return scored.withColumn("ok", F.col("text").isNotNull() & passed)


def _ingest_stream_oracle() -> str:
    """DuckDB replay of the one-pass ingest ledger: quality gates ->
    per-fingerprint first-arrival admission (rep = argmin (epoch,
    doc_id) over quality-passing members) -> per-epoch prefix CC over
    quality-passing docs with shingle-Jaccard >= NEAR_STREAM_JAC
    edges. One row per arrival."""
    head = f"""
    base AS (
        SELECT doc_id, doc_id % {SK_BATCHES} AS b, text, {WORDS_SQL} AS ws
        FROM documents
    ),
    q AS (
        SELECT doc_id, b, md5(text) AS fp, ws
        FROM base
        WHERE text IS NOT NULL AND {quality_gate_sql("ws")[3]}
    ),{_near_pairs_sql("q")},
    reps AS (
        SELECT fp, doc_id AS rep FROM (
            SELECT fp, doc_id,
                   row_number() OVER (PARTITION BY fp
                                      ORDER BY b, doc_id) AS rn
            FROM q
        ) WHERE rn = 1
    )"""
    fails = f"""SELECT CAST(d.doc_id % {SK_BATCHES} AS BIGINT) AS batch_id,
           CAST(d.doc_id AS BIGINT) AS doc_id,
           'quality_fail' AS status,
           CAST(NULL AS BIGINT) AS dup_of,
           CAST(NULL AS BIGINT) AS cluster_id
    FROM documents d LEFT JOIN q ON q.doc_id = d.doc_id
    WHERE q.doc_id IS NULL"""
    return _prefix_cc_sql(
        head,
        "q",
        lambda k: f"""SELECT CAST({k} AS BIGINT) AS batch_id,
           CAST(q.doc_id AS BIGINT) AS doc_id,
           CASE WHEN q.doc_id = r.rep THEN 'admitted'
                ELSE 'duplicate' END AS status,
           CASE WHEN q.doc_id = r.rep THEN CAST(NULL AS BIGINT)
                ELSE CAST(r.rep AS BIGINT) END AS dup_of,
           CAST(c.comp AS BIGINT) AS cluster_id
    FROM q JOIN reps r USING (fp) JOIN comp{k} c ON c.id = q.doc_id
    WHERE q.b = {k}""",
    ) + f"\n    UNION ALL\n    {fails}"


@register("q_ingest_stream", oracle=_ingest_stream_oracle())
def q_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INGEST CAPSTONE: ONE foreachBatch pipeline running quality
    gate -> content admission -> contracted LSH dedup index ->
    duplicate-cluster maintenance over SHARED state in a single pass
    per epoch — the production shape a 100 TB
    training-data ingest actually runs, composed from the operators
    this family already ships (q_curation_stream's gates,
    q_dedup_near_stream's index kernel, q_cluster_stream's delta CC).
    Emits a unified per-ARRIVAL ledger: (batch_id, doc_id, status,
    dup_of, cluster_id) where status is 'quality_fail' (rejected at
    the gate; no further columns), 'admitted' (first quality-passing
    arrival of its content — exactly the row q_curation_stream counts
    in n_admitted; dup_of NULL), or 'duplicate' (content already
    admitted; dup_of = the admitted representative, the class rep_id),
    and cluster_id is the at-arrival near-dup cluster (min doc_id
    arrived so far in the component, shingle Jaccard >=
    {NEAR_STREAM_JAC}) for every quality-passing arrival.

    Single-pass sharing: the quality-passing batch is classed ONCE
    (md5 fp); _index_epoch's first-seen class census IS the admission
    decision (new class = admitted content; the classes relation IS
    the admitted-fp state, carrying rep_id so duplicates can name
    their representative); its verified class pairs feed
    _cluster_epoch directly. Nothing is computed twice, and all seven
    state relations (five index + roots + comp) live in one ingest
    run. Rejected arrivals never touch the index — the gate runs
    first, so duplicate mass AND junk both stop before the heavy
    relations (gates are row-local array math, zero shuffle).

    Scale shape: per-epoch cost is the index kernel's (batch scan +
    contracted shingle/band fold over NEW classes + capped bucket
    probe) plus touched-root delta CC plus two selective partition
    rewrites — every term scales with the batch and its touched
    state, never the corpus. The ledger collect is batch-sized =
    output-sized (one row per arrival is the deliverable). Laws
    pinned in tests/test_dedup_stream.py: per-epoch admitted counts
    == q_curation_stream's ledger; final cluster state == batch CC
    over q_dedup_near pairs restricted to the quality-passing
    universe; ledger partition (every arrival exactly once).
    Reference parity: the reference's whole loop — consume, gate,
    first-seen state, keyed update, flush per micro-batch
    (AbstractFirehose.java:107-131,
    AbstractPrometheusFirehose.java:41-51) — generalized from metric
    keys to document content."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with stream_runtime.state_root("ingest_stream_") as root:
        ip = _index_paths(root)
        roots, comp = _cluster_state(root)
        ledger = Relation(
            os.path.join(root, "ledger"),
            "batch_id bigint, doc_id bigint, status string, "
            "dup_of bigint, cluster_id bigint",
        )

        def per_batch(batch_df: DataFrame, b: int) -> None:
            s = batch_df.sparkSession
            _assert_batch_membership(
                batch_df.agg(_batch_mismatches(b)).first()[0], b
            )
            qp = (
                _quality_scored(batch_df)
                .filter("ok")
                .select("doc_id", "text", F.md5("text").alias("cfp"))
            )
            caches: list[DataFrame] = []
            try:
                # Two join points. The index jobs join before the
                # rep_map build, which re-reads the classes relation
                # that an index job compacts. The two rewrites touch no
                # index relation and read only cached epoch frames and
                # their own immutable current versions, so they keep
                # running in the shadow of the rep_map scan and the
                # ledger append, and join at epoch end, before the
                # caches they read are released.
                with Overlap() as rewrites:
                    with Overlap() as index:
                        members_b, new_cls, cp_new, extra, batch_pbs = (
                            _index_epoch(s, b, qp, ip, index)
                        )
                        caches += [members_b, new_cls, cp_new, *extra]
                        hits, cl_caches = _cluster_epoch(
                            s, b, members_b, new_cls, cp_new, roots, comp,
                            rewrites,
                        )
                        caches += cl_caches
                    # Representative lookup: earlier-epoch classes from
                    # the admitted-class state — BUCKET-PRUNED to the
                    # batch's cfp buckets — this epoch's from the
                    # kernel's census.
                    rep_map = new_cls.select("cfp", "rep_id")
                    if b > 0:
                        rep_map = (
                            ip["classes"]
                            .scan(s, batch_pbs, b)
                            .select("cfp", "rep_id")
                            .unionByName(rep_map)
                        )
                    # Ledger: one row per ARRIVAL, built relation-side
                    # and APPENDED to the sink: quality-failing rows miss
                    # the members join (null rep_id); duplicates name
                    # their class representative; every quality-passing
                    # row carries its at-arrival cluster.
                    rep_id, doc_id = F.col("rep_id"), F.col("doc_id")
                    ledger.append(
                        batch_df.select("doc_id")
                        .join(
                            members_b.select("doc_id", "cfp"),
                            "doc_id",
                            "left",
                        )
                        .join(rep_map, "cfp", "left")
                        .join(hits, "doc_id", "left")
                        .select(
                            F.lit(b).cast("long").alias("batch_id"),
                            doc_id.cast("long").alias("doc_id"),
                            F.when(rep_id.isNull(), "quality_fail")
                            .when(rep_id == doc_id, "admitted")
                            .otherwise("duplicate")
                            .alias("status"),
                            F.when(rep_id != doc_id, rep_id)
                            .cast("long")
                            .alias("dup_of"),
                            F.col("cluster_id")
                            .cast("long")
                            .alias("cluster_id"),
                        )
                    )
            finally:
                for c in caches:
                    c.unpersist()

        replay_epochs(d, "doc_id", root, per_batch)
        return _ledger_result(spark, ledger)


def _semantic_stream_oracle():
    """q_dedup_semantic_stream's tail: centroids train on the FIRST
    shard only (vec_id % SK_BATCHES == 0, the q_ann_index_stream
    bootstrap) with k from that shard's count, then the strictly-
    earlier-epoch SemDeDup rule in SQL: a new vector is a duplicate
    iff some same-cluster vector from an EARLIER vec_id-residue epoch
    has cosine >= SEM_TAU, keyed to its smallest qualifying earlier
    neighbor."""
    head = ivf_oracle_head(f"vec_id % {SK_BATCHES} = 0", k=None)
    return None if head is None else f"""{head},
    dup AS (
        SELECT n.vec_id % {SK_BATCHES} AS batch_id, n.vec_id,
               o.vec_id AS o_id,
               list_cosine_similarity(n.v, o.v) AS cos
        FROM assigned n JOIN assigned o
          ON o.cluster_id = n.cluster_id
         AND o.vec_id % {SK_BATCHES} < n.vec_id % {SK_BATCHES}
        WHERE list_cosine_similarity(n.v, o.v) >= {SEM_TAU}
    )
    SELECT CAST(batch_id AS BIGINT) AS batch_id, vec_id,
           CAST(min(o_id) AS BIGINT) AS kept_by,
           arg_min(cos, o_id) AS cos
    FROM dup GROUP BY batch_id, vec_id
    """


@register("q_dedup_semantic_stream", oracle=_semantic_stream_oracle)
def q_dedup_semantic_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at ingest — the VECTOR twin of q_dedup_near_stream,
    completing the streaming dedup family across both similarity
    modalities (lexical MinHash-LSH there, embedding-cosine here; cf.
    SemDeDup, Abbas et al. 2023, and the reference's keyed first-seen
    state, AbstractPrometheusFirehose.java:41-51, generalized from
    exact keys to near-identical embeddings): embeddings arrive as
    SK_BATCHES micro-batches (vec_id % SK_BATCHES); each foreachBatch
    epoch assigns ITS batch to k-means clusters (centroids trained
    ONCE on the first shard's leading IVF_SAMPLE vectors — at
    ingest time the training sample is the first shard, the
    q_ann_index_stream bootstrap; k via _sem_k so cluster sizes stay
    ~SEM_CLUSTER_TARGET and the pairwise expansion stays linear),
    probes the maintained cluster-keyed vector state for EARLIER
    same-cluster arrivals with cosine >= SEM_TAU, emits each
    duplicate keyed to its smallest qualifying earlier neighbor, and
    appends its own vectors to the state. Returns (batch_id, vec_id,
    kept_by, cos). Within-batch duplicates are intentionally not
    emitted (both vectors are new — the q_dedup_near_stream stance),
    so the output is a pure function of the batch partition.

    The state is CONTRACTED on a vector-value fingerprint — the r11
    duplicate-mass lesson applied at the vector level: one state row
    per distinct vector VALUE (cfp, cluster_id, representative v,
    min member id, b_id), all cosine work class-against-class, member
    emissions expanded arithmetically afterwards. Exact-duplicate
    mass costs one representative instead of a quadratic batch x
    state join (the 100x all-duplicates clone probe measured a 58x
    wall step before this contraction, ~1x after; class members are
    bit-identical vectors, so every member pair's cosine equals the
    class pair's and the output is contraction-invariant). The whole
    r13 state discipline applies to the ONE class relation:
    pb-bucket-partitioned on hash(cluster_id) and appended bucket-
    clustered (Bucketed.append), the per-epoch probe planned over only
    the batch's cluster-bucket DIRECTORIES behind the adaptive gate
    (Bucketed.scan — at 100 TB a small batch touches few of thousands
    of buckets, so read cost, listing included, scales with the
    batch's cluster footprint, not the corpus), per-bucket file
    counts bounded by Bucketed.compact, and the per-epoch emission
    appended to a parquet LEDGER the query returns a read of.
    Hash-checked law: cluster membership is a
    deterministic function of the trained centroids (repr-exact
    literals in the oracle, bit-identical sequential distance fold),
    cosine is the bit-identical aggregate fold, and state union is
    associative — so each epoch's emission is a pure function of the
    ingested prefix, replayed exactly by the oracle's strictly-
    earlier-epoch SQL."""
    from ..functions.vector import cosine, to_double_array

    schema = "batch_id bigint, vec_id bigint, kept_by bigint, cos double"
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.size("embedding") > 0)
        .select("vec_id", to_double_array("embedding").alias("v"))
    )
    shard0 = e.filter(F.col("vec_id") % SK_BATCHES == 0)
    cents = centroids(shard0, _sem_k(shard0.count()))
    if cents is None:
        return spark.createDataFrame([], schema)
    nearest = nearest_centroid(spark, cents)

    with stream_runtime.state_root("semdedup_stream_") as root:
        state = Bucketed(
            os.path.join(root, "classes"),
            "cluster_id int, cfp string, v array<double>, min_id bigint, "
            "b_id int, pb int",
        )
        ledger = Relation(os.path.join(root, "ledger"), schema)

        def per_batch(batch_df: DataFrame, b: int) -> None:
            s = batch_df.sparkSession
            # EAGER localCheckpoint: the assigned batch feeds the
            # class census, the member expansion, and the touched-
            # bucket resolution — materializing once keeps the Arrow
            # assignment UDF single-run and the frame immune to the
            # append's recacheByPath invalidation.
            assigned = (
                batch_df.withColumn("cluster_id", nearest(F.col("v")))
                .withColumn(
                    "cfp", F.md5(F.to_json(F.struct(F.col("v"))))
                )
                .withColumn("pb", bucket_of(F.col("cluster_id")))
                .localCheckpoint(eager=True)
            )
            # The r11 contraction at the VECTOR level: one row per
            # distinct vector VALUE (cfp = md5 of the serialized
            # array; cluster_id is a pure function of the value, so a
            # class lives in exactly one cluster). All the epoch's
            # cosine work runs class-against-class; members expand
            # arithmetically afterwards. Exact-duplicate mass
            # therefore costs one representative, never a quadratic
            # batch x state join (the 100x all-duplicates clone
            # measured 58x wall before this contraction).
            bcls = (
                assigned.groupBy("cfp", "cluster_id", "pb")
                .agg(
                    F.min("vec_id").alias("min_id"),
                    F.min_by("v", "vec_id").alias("v"),
                )
                .localCheckpoint(eager=True)
            )
            cl_pbs = _lazy_pbs(bcls, F.col("pb"))

            def _append_classes() -> None:
                state.append(
                    bcls.select(
                        "cluster_id",
                        "cfp",
                        "v",
                        "min_id",
                        F.lit(b).alias("b_id"),
                        "pb",
                    )
                )

            # Join point, before the compaction sweep: the class append
            # and the emission both read only the eagerly checkpointed
            # epoch frames, and the appended rows carry b_id = b, so the
            # emission's b_id < b scan (its file listing fixed at plan
            # build; new files only ever ADD) never sees them. The sweep
            # must see the appended files and swaps bucket directories
            # under a reader, so it runs only after both have finished.
            with Overlap() as jobs:
                jobs.submit(_append_classes)
                if b > 0:
                    st = state.scan(s, cl_pbs, b)
                    # Earlier-class census: min member id over all earlier
                    # epochs (a class re-appearing with a smaller id in a
                    # later epoch updates the min through this aggregate);
                    # the representative vector is value-identical on
                    # every row of a class, so min_by is value-
                    # deterministic.
                    stc = st.groupBy("cluster_id", "cfp").agg(
                        F.min("min_id").alias("kept_min"),
                        F.min_by("v", "b_id").alias("ov"),
                    )
                    cdec = (
                        bcls.select("cfp", "cluster_id", "v")
                        .join(
                            stc.select(
                                "cluster_id", "kept_min", "ov"
                            ),
                            "cluster_id",
                        )
                        .select(
                            "cfp",
                            "kept_min",
                            cosine(F.col("v"), F.col("ov")).alias("cos"),
                        )
                        .filter(F.col("cos") >= SEM_TAU)
                        .groupBy("cfp")
                        .agg(
                            F.min("kept_min").alias("kept_by"),
                            F.min_by("cos", "kept_min").alias("cos"),
                        )
                    )
                    ledger.append(
                        assigned.select("vec_id", "cfp")
                        .join(cdec, "cfp")
                        .select(
                            F.lit(b).cast("long").alias("batch_id"),
                            F.col("vec_id").cast("long").alias("vec_id"),
                            F.col("kept_by").cast("long").alias("kept_by"),
                            F.col("cos").cast("double").alias("cos"),
                        )
                    )
            state.compact(s, cl_pbs)

        replay_epochs(e, "vec_id", root, per_batch)
        return _ledger_result(spark, ledger)
