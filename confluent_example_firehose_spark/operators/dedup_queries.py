"""Deduplication declared queries (SURVEY.md §2.C) over `documents`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .dedup import (
    NEAR_BUCKET_CAP,
    WORDS_SQL,
    adaptive_dup_stats,
    bucket_pairs_refined,
    compact_for_cache,
    contraction_worthwhile,
    doc_shingle_hashes,
    fan_out,
    jaccard,
    jaccard_sql,
    minhash_candidate_pairs,
    portable_hash60,
    shingles_sql,
    simhash_fingerprints,
    simhash_pairs_adaptive,
    words,
)


@register(
    "q_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars, dup_count
    FROM (
        SELECT doc_id, lang, source, n_chars,
               count(*) OVER (PARTITION BY key) AS dup_count,
               row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn
        FROM (
            SELECT *, array_to_string(string_split(text, ' ')[1:3], ' ') AS key
            FROM documents
        )
    )
    WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a content fingerprint (first-3-words key): keep
    the min-doc_id representative per group + group size.

    hash-groupBy with min_by: partial+final agg, no window sort — the
    state per group is one row, so this survives any input size (the
    full-text twin keys on the whole document; same plan)."""
    d = load_table(spark, sf_dir, "documents")
    key = F.array_join(F.slice(F.split("text", " "), 1, 3), " ")
    rep = F.struct("doc_id", "lang", "source", "n_chars")
    return (
        d.withColumn("key", key)
        .groupBy("key")
        .agg(
            F.min_by(rep, F.col("doc_id")).alias("w"),
            F.count("*").alias("dup_count"),
        )
        .select("w.doc_id", "w.lang", "w.source", "w.n_chars", "dup_count")
    )


# Exact-pairwise demos compare at most this many ids (a FIXED window,
# not a fraction of the corpus): the pair count is bounded at
# PAIR_CAP^2/2 no matter how big the input grows. Unbounded near-dup
# goes through the LSH pipelines (q_dedup_near / q_dedup_simhash /
# q_similarity_lsh).
PAIR_CAP = 200


def bounded_pairs(spark: SparkSession, n: int) -> DataFrame:
    """All ordered id pairs (id_a < id_b) over ids [0, n) as a NARROW
    map over spark.range — no join of any kind generates the pairs, so
    downstream lookups can be broadcast hash EQUI-joins instead of the
    O(n^2) theta-BNLJ an `id_a < id_b` join condition forces."""
    return (
        spark.range(n * n)
        .select(
            (F.col("id") % n).alias("id_a"),
            F.floor(F.col("id") / n).alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


@register(
    "q_dedup_jaccard",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, list_distinct({WORDS_SQL}) AS ws
        FROM documents
        WHERE doc_id < {PAIR_CAP}
    )
    SELECT id_a, id_b, jac
    FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               {jaccard_sql("a.ws", "b.ws")} AS jac
        FROM w a, w b
        WHERE a.doc_id < b.doc_id
    )
    ORDER BY jac DESC, id_a, id_b
    LIMIT 20
    """,
)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (word-set) Jaccard near-dup: top-20 most similar pairs
    within a FIXED id window (PAIR_CAP docs — the pair count stays
    bounded at any corpus size; unbounded near-dup is q_dedup_near's
    LSH path, same verify kernel).

    Pair generation is a narrow map over spark.range + two broadcast
    hash equi-joins — no BNLJ/cross join in the plan. Integer set sizes
    -> single double division, bit-identical to the oracle."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < PAIR_CAP
    )
    ws = d.select(
        F.col("doc_id").alias("_id"), F.array_distinct(words("text")).alias("ws")
    )
    a = ws.select(F.col("_id").alias("id_a"), F.col("ws").alias("wa"))
    b = ws.select(F.col("_id").alias("id_b"), F.col("ws").alias("wb"))
    return (
        bounded_pairs(spark, PAIR_CAP)
        .join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .select(
            "id_a", "id_b", jaccard(F.col("wa"), F.col("wb")).alias("jac")
        )
        .orderBy(F.col("jac").desc(), "id_a", "id_b")
        .limit(20)
    )


@register(
    "q_dedup_near",
    oracle=f"""
    WITH w AS (SELECT doc_id, {WORDS_SQL} AS ws FROM documents),
    sh AS (
        SELECT doc_id, {shingles_sql("ws")} AS s
        FROM w WHERE len(ws) >= 3
    )
    SELECT id_a, id_b, jac FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round({jaccard_sql("a.s", "b.s")}, 6) AS jac
        FROM sh a, sh b WHERE a.doc_id < b.doc_id
    ) WHERE jac >= 0.2
    """,
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline: shingle -> 32 minhashes -> 8 bands
    -> bucket-join candidates -> exact Jaccard verify (>= 0.2).

    The scale path: candidate generation shuffles on (band_id,
    band_hash) — O(n) not O(n^2). Verified pairs carry their exact
    shingle Jaccard.

    Hash-checked vs the exact O(n^2) pair oracle: equality holds
    because the corpus's near-dup pairs sit at jac >= 0.9 with a wide
    gap to the noise floor (<0.2), where the 8-band/4-row scheme's miss
    probability is (1-0.9^4)^8 ~= 2e-4 per pair. The oracle is the semantics (all pairs >= 0.2); the LSH
    output equals it on any corpus whose dup pairs are clearly above
    the threshold — pairs AT the 0.2 boundary are probabilistic by
    LSH's nature and absent from this corpus. DuckDB's O(n^2) oracle
    is feasible only at smoke scale (~2.5k docs); the Spark side never
    materializes pairs outside collided buckets.

    The pipeline is ADAPTIVE on duplicate mass
    (dedup.contraction_worthwhile over an exact per-corpus-memoized
    fingerprint census, the same md5-fp trade q_dedup_exact already
    makes). Duplicate-heavy corpora — and any corpus with ONE
    identical-text class over the 64-id band-bucket cap, whose pairs
    the direct path would drop even when total duplicate mass is
    immaterial — first contract IDENTICAL-TEXT mass into equivalence
    classes: only one REPRESENTATIVE per class is shingled, minhashed,
    banded, and verified (at a 100x-duplicated corpus this divides the
    signature compute by the duplication factor); within-class pairs
    are emitted arithmetically at jac = 1.0 (identical text =>
    identical shingle set), and cross-class rep pairs expand to member
    pairs through two fp-keyed joins (Jaccard is a function of the two
    shingle SETS, so every member pair inherits its class pair's
    value). That CLOSES a silent recall hole: exact-duplicate mass
    used to blow the 64-id band-bucket cap and get DROPPED (the
    documented boilerplate trade eating the wrong corpus shape); the
    cap sees one representative per class and guards only genuine
    near-dup-diversity skew. (Near-)duplicate-free corpora keep the
    direct pipeline — the class census + two expansion joins are pure
    overhead there (a measured ~+0.4 s at sf0.1's 8 duplicate docs in
    5,000). Output-invariant on both branches. Scale shape
    (contracted): the class agg is map-side combining on (cfp, doc_id,
    text) — duplicate text collapses BEFORE the shuffle — and the
    member table (doc_id, cfp) never carries text; no new text-sized
    shuffle anywhere."""
    import os

    d = fan_out(load_table(spark, sf_dir, "documents"))
    # Shingleable docs only (>= 3 words), the same population the
    # shingle pipeline and the oracle's len(ws) >= 3 filter keep —
    # classes built from a wider population would emit within-class
    # pairs the oracle excludes. NOT persisted here: on the steady
    # path the decision stats are a memo hit, the direct branch's only
    # consumer of flt is the shingle pipeline, and
    # Catalyst prunes the cfp column away entirely — a persisted flt
    # forced a full (doc_id, text, md5) cache write per run that
    # nothing read back. The contracted branch (3 consumers) persists
    # below; a memo MISS pays one extra unpersisted scan for the
    # decision census, once per corpus per session.
    flt = d.filter(F.size(words("text")) >= 3).select(
        "doc_id", "text", F.md5("text").alias("cfp")
    )
    from ..caching import materialize_unpersist

    # Shared decision agg (dedup.adaptive_dup_stats, exact + memoized
    # per immutable corpus): duplicate mass OR one over-cap
    # identical-text class (> the 64-id band-bucket cap, the shape the
    # direct path would drop) forces contraction.
    n, dd, mx = adaptive_dup_stats(
        flt, "cfp",
        memo_key=(os.path.realpath(sf_dir), "documents", "near_cfp"),
    )
    # cap == the candidate generator's own bucket cap: one shared
    # constant, so the drop threshold and the over-cap-class detection
    # can never silently diverge.
    if not contraction_worthwhile(n, dd, max_class=mx, cap=NEAR_BUCKET_CAP):
        # Direct pipeline: shingle every doc, one bucket shuffle,
        # verify on hashed shingles; the 64-id boilerplate drop trade
        # applies, confined to corpora with immaterial duplicate mass
        # (contraction_worthwhile docstring).
        sh = compact_for_cache(
            doc_shingle_hashes(
                flt.select("doc_id", "text"), "doc_id", "text", out="sh"
            )
        ).persist()
        cands = minhash_candidate_pairs(
            None, "doc_id", "text", num_hashes=32, bands=8, shingles=sh
        )
        a = sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sha"))
        b = sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("shb"))
        return materialize_unpersist(
            cands.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                jaccard(F.col("sha"), F.col("shb")).alias("jac"),
            )
            .filter(F.col("jac") >= 0.2)
            .select("id_a", "id_b", F.round("jac", 6).alias("jac")),
            sh,
            defer=True,
        )
    flt = flt.persist()
    members = flt.select("doc_id", "cfp")
    classes = flt.groupBy("cfp").agg(
        F.min("doc_id").alias("_id"),
        F.min_by("text", "doc_id").alias("text"),
        F.count(F.lit(1)).alias("_n"),
    ).persist()
    # Shingle-hash table over REPRESENTATIVES ONLY, persisted: it
    # feeds the LSH candidate pipeline AND both sides of the Jaccard
    # verify join (three plan branches). Verify intersects HASHED
    # shingles (longs) — same Jaccard modulo 64-bit collisions, far
    # cheaper at scale.
    sh = doc_shingle_hashes(
        classes.select("_id", "text"), "_id", "text", out="sh"
    ).persist()
    cands = minhash_candidate_pairs(
        None, "_id", "text", num_hashes=32, bands=8, shingles=sh
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sha"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("shb"))
    rep_ids = classes.select("_id", "cfp")
    rep_pairs = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b", jaccard(F.col("sha"), F.col("shb")).alias("jac")
        )
        .filter(F.col("jac") >= 0.2)
        .join(rep_ids.select(F.col("_id").alias("id_a"),
                             F.col("cfp").alias("cfp_a")), "id_a")
        .join(rep_ids.select(F.col("_id").alias("id_b"),
                             F.col("cfp").alias("cfp_b")), "id_b")
        .select("cfp_a", "cfp_b", "jac")
    )
    self_pairs = classes.filter(F.col("_n") >= 2).select(
        F.col("cfp").alias("cfp_a"),
        F.col("cfp").alias("cfp_b"),
        F.lit(1.0).alias("jac"),
    )
    ma = members.select(F.col("doc_id").alias("mid_a"),
                        F.col("cfp").alias("cfp_a"))
    mb = members.select(F.col("doc_id").alias("mid_b"),
                        F.col("cfp").alias("cfp_b"))
    # defer=True: the cache releases at the next drain point instead
    # of on the timed path (an eager checkpoint cost a measured ~0.06 s
    # on this bench headline).
    return materialize_unpersist(
        rep_pairs.unionByName(self_pairs)
        .join(ma, "cfp_a")
        .join(mb, "cfp_b")
        .filter(
            (F.col("cfp_a") != F.col("cfp_b"))
            | (F.col("mid_a") < F.col("mid_b"))
        )
        .select(
            F.least("mid_a", "mid_b").alias("id_a"),
            F.greatest("mid_a", "mid_b").alias("id_b"),
            F.round("jac", 6).alias("jac"),
        ),
        sh,
        classes,
        flt,
        defer=True,
    )


# Shared oracle scaffold: recompute the PORTABLE SimHash fingerprints
# (portable_hash60 shingles -> 60-bit majority vote, ties -> 0) in pure
# DuckDB SQL, then enumerate all pairs within the Hamming radius. The
# O(n^2) pair scan is oracle-side only (feasible at sf0.01); the Spark
# side never leaves the pigeonhole-bucketed candidate set.
def _simhash_pairs_oracle(radius: int) -> str:
    return f"""
    WITH w AS (SELECT doc_id, {WORDS_SQL} AS ws FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct(
                   [CAST('0x' ||
                        substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15)
                        AS BIGINT)
                    for i in range(1, len(ws) - 1)]) AS hs
        FROM w WHERE len(ws) >= 3
    ),
    ex AS (SELECT doc_id, unnest(hs) AS h FROM sh),
    v AS (
        SELECT doc_id, t.range AS bit,
               CASE WHEN 2 * sum((h >> CAST(t.range AS INTEGER)) & 1)
                         > count(*)
                    THEN CAST(1 AS BIGINT) << CAST(t.range AS INTEGER)
                    ELSE 0 END AS bitval
        FROM ex CROSS JOIN range(60) t
        GROUP BY doc_id, t.range
    ),
    fp AS (SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS fp FROM v
           GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
    FROM fp a, fp b
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.fp, b.fp)) <= {radius}
    """


@register("q_dedup_simhash", oracle=_simhash_pairs_oracle(3))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit PORTABLE fingerprints -> pigeonhole
    blocking (4 x 16-bit blocks; full recall for Hamming d <= 3) ->
    hamming64 verify. No cross join anywhere: candidate generation is
    one bucket-shuffle, verification joins fingerprints back by id —
    the same candidate/verify split as the MinHash pipeline, so the
    shape survives 100 TB.

    Hash-checked (r5; previously rows-only): fingerprints now vote
    over portable_hash60 shingle hashes (md5-derived — see
    dedup.portable_hash60), so the DuckDB oracle recomputes the EXACT
    fingerprints and enumerates every pair with d <= 3; the pigeonhole
    d<=3 full-recall contract (also pinned by tests/test_dedup.py)
    makes the bucketed Spark output equal to the O(n^2) oracle as long
    as no bucket exceeds the skew cap — at this corpus's fingerprint
    spread buckets are single digits, and since r6 (ADVICE r5) an
    over-cap bucket RAISES instead of silently dropping (the strict
    guard in simhash_candidate_pairs), so the contract is enforced at
    runtime, not assumed. The same conversion gives the dedup state
    store content-addressable fingerprints: any engine can reproduce
    them from text alone.

    Since r11 (VERDICT r10 item 1) the pairing is ADAPTIVE
    (dedup.simhash_pairs_adaptive): an exact per-corpus-memoized
    fingerprint census picks the plan — duplicate-heavy corpora, and
    any corpus holding one identical-fp class over the bucket cap
    (ADVICE r11 item 1), contract identical fingerprints into
    equivalence classes
    before the pigeonhole buckets (the shape the 100x-clone probe
    showed firing the strict raise at 4,100-id buckets now COMPLETES
    with full recall; the cap guards only genuine
    fingerprint-diversity skew), while (near-)duplicate-free corpora
    keep the direct pipeline and skip the class census + expansion
    joins (pure overhead there — a measured ~+0.7 s at sf0.1's 8
    duplicate docs). Output-invariant on both branches (the hypothesis
    law in tests/test_dedup.py pins contraction == direct pairing on
    arbitrary corpora), so the r5 oracle is unchanged."""
    import os

    d = fan_out(load_table(spark, sf_dir, "documents"))
    fp = compact_for_cache(
        simhash_fingerprints(d, "doc_id", "text", portable=True)
    )
    # memo_key shared with q_dedup_simhash8: both derive the identical
    # fingerprint table from the same corpus, so one decision agg
    # serves both (VERDICT r11 item 3).
    pairs, caches = simhash_pairs_adaptive(
        fp, radius=3,
        memo_key=(os.path.realpath(sf_dir), "documents", "simhash_fp"),
    )
    from ..caching import materialize_unpersist

    return materialize_unpersist(pairs, *caches, defer=True)


@register("q_dedup_simhash8", oracle=_simhash_pairs_oracle(7))
def q_dedup_simhash8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup, WIDE-radius variant (r3 roadmap follow-through:
    'multi-bucket probing for 4 < d <= 8'): 8 x 8-bit pigeonhole blocks
    give FULL recall for Hamming d <= 7 (a pair differing in <= 7 bits
    cannot touch all 8 blocks), versus the default 4 x 16-bit scheme's
    d <= 3 guarantee. The price is candidate volume: 8-bit blocks have
    only 256 distinct values, so expected bucket size is n/256 per
    block and the d<=7 recall contract holds ONLY while buckets stay
    under the skew cap (ADVICE r4): with max_bucket=SIMHASH8_BUCKET_CAP
    (4096 ids) the guarantee covers uniform corpora to roughly
    256 * 4096 / 2 ~= 500k docs; beyond that, raise the cap (pair
    expansion stays bounded by cap^2/2 per bucket) or shard the corpus
    and run per shard — and since r6 an over-cap bucket RAISES (the
    strict guard, ADVICE r5) rather than silently voiding the
    guarantee the way the generic 256 default did at ~65k docs.
    tests/test_dedup.py pins d<=7 recall at a bucket size the old cap
    would have silently dropped. Same candidate/verify split, same
    single bucket shuffle as q_dedup_simhash — and hash-checked the
    same way since r5 (portable fingerprints; oracle enumerates all
    d <= 7 pairs; see q_dedup_simhash).

    Since r11, pairing goes through the same ADAPTIVE contraction as
    q_dedup_simhash (see there): under duplicate skew the ~500k-
    uniform-doc coverage bound above counts DISTINCT fingerprints, not
    docs — exact-duplicate mass no longer consumes cap budget at all —
    and duplicate-free corpora keep the direct plan."""
    import os

    d = fan_out(load_table(spark, sf_dir, "documents"))
    fp = compact_for_cache(
        simhash_fingerprints(d, "doc_id", "text", portable=True)
    )
    # Same memo entry as q_dedup_simhash (identical fingerprint table);
    # the cap differs per variant but the stats are corpus facts.
    pairs, caches = simhash_pairs_adaptive(
        fp, radius=7, n_blocks=8, max_bucket=SIMHASH8_BUCKET_CAP,
        memo_key=(os.path.realpath(sf_dir), "documents", "simhash_fp"),
    )
    from ..caching import materialize_unpersist

    return materialize_unpersist(pairs, *caches, defer=True)


# 8-bit pigeonhole blocks collide at ~n/256 per bucket; this cap keeps
# the d<=7 full-recall contract honest to ~500k uniform docs (ADVICE
# r4: the generic 256 default silently broke the guarantee at ~65k).
SIMHASH8_BUCKET_CAP = 4096

INCR_OLD = 150  # existing corpus: doc_id < INCR_OLD
INCR_NEW = 200  # new batch: INCR_OLD <= doc_id < INCR_NEW
INCR_JAC = 0.5  # duplicate threshold


@register(
    "q_dedup_incremental",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, list_distinct({WORDS_SQL}) AS ws
        FROM documents
        WHERE doc_id < {INCR_NEW}
    ),
    pairs AS (
        SELECT n.doc_id AS new_id, o.doc_id AS old_id,
               {jaccard_sql("n.ws", "o.ws")} AS jac
        FROM w n, w o
        WHERE n.doc_id >= {INCR_OLD} AND o.doc_id < {INCR_OLD}
    )
    SELECT new_id, old_id AS best_old_id, round(jac, 6) AS jac,
           CAST(jac >= {INCR_JAC} AS BIGINT) AS is_dup
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY new_id ORDER BY jac DESC, old_id) AS rn
        FROM pairs
    )
    WHERE rn = 1
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: each NEW document is checked against
    the EXISTING corpus only (bipartite new x old — never new x new or
    the full corpus re-pair), reporting its best existing match and a
    duplicate verdict. This is the shape a daily crawl append runs:
    work scales with |batch| x candidates, not |corpus|^2.

    The demo window is exact-Jaccard over bounded id ranges so DuckDB
    can replay it; at 100 TB the bipartite candidate generation runs
    through minhash_candidate_pairs with the band table of the OLD
    corpus persisted from the previous run (the LSH index is the
    incremental state) and only the new batch's bands computed fresh —
    the same equi-join, one side pre-existing. Pair enumeration here is
    the bounded_pairs narrow-map pattern (no theta-join BNLJ); the
    best-match rank partitions by new_id — bounded by the batch."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < INCR_NEW
    )
    ws = d.select(
        "doc_id", F.array_distinct(words("text")).alias("ws")
    )
    n_new = INCR_NEW - INCR_OLD
    # narrow bipartite pair grid: (new_id, old_id) without any join
    grid = spark.range(n_new * INCR_OLD).select(
        (F.col("id") % n_new + INCR_OLD).alias("new_id"),
        F.floor(F.col("id") / n_new).alias("old_id"),
    )
    new_side = ws.filter(F.col("doc_id") >= INCR_OLD).select(
        F.col("doc_id").alias("new_id"), F.col("ws").alias("nws")
    )
    old_side = ws.filter(F.col("doc_id") < INCR_OLD).select(
        F.col("doc_id").alias("old_id"), F.col("ws").alias("ows")
    )
    pairs = (
        grid.join(F.broadcast(new_side), "new_id")
        .join(F.broadcast(old_side), "old_id")
        .select(
            "new_id",
            "old_id",
            jaccard(F.col("nws"), F.col("ows")).alias("jac"),
        )
    )
    w = F.row_number().over(
        W.partitionBy("new_id").orderBy(F.desc("jac"), "old_id")
    )
    return (
        pairs.withColumn("rn", w)
        .filter(F.col("rn") == 1)
        .select(
            "new_id",
            F.col("old_id").alias("best_old_id"),
            F.round("jac", 6).alias("jac"),
            (F.col("jac") >= INCR_JAC).cast("long").alias("is_dup"),
        )
    )


ER_TOPN = 25  # deterministic top-N matched pairs (score desc, ids asc)
ER_MAX_BUCKET = 4096  # blocking cap: over-cap blocks re-block on bal_band

# The oracle replays the REFINEMENT rule, not just the plain block join
# (r7, VERDICT r6 item 3): a pair survives iff its block is within the
# cap, OR (over-cap block) the two records share the secondary bal_band
# key — exactly bucket_pairs_refined's semantics. At the standard SFs
# every (nation, segment) block is under the cap so the extra predicate
# is vacuous and the oracle equals the old plain join; on the ER skew
# clone (tools/skew_probe.py --er, one mega-block > cap) both engines
# apply the same rule and the result stays hash-adjudicated while the
# big route demonstrably fires.


@register(
    "q_entity_resolution",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               right(c_name, 3) AS name_sfx,
               CAST(round(c_acctbal * 100) AS BIGINT) AS balc,
               CAST(round(c_acctbal * 100) AS BIGINT) // 100000
                   AS bal_band
        FROM customer
    ),
    bs AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS bn
        FROM c GROUP BY c_nationkey, c_mktsegment
    ),
    pairs AS (
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(3 * CAST(a.name_sfx = b.name_sfx AS INTEGER)
                    + 4 * CAST(abs(a.balc - b.balc) <= 1000 AS INTEGER)
                    + 2 * CAST(abs(a.balc - b.balc) <= 10000 AS INTEGER)
                    AS BIGINT) AS score
        FROM c a JOIN c b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
        JOIN bs ON bs.c_nationkey = a.c_nationkey
               AND bs.c_mktsegment = a.c_mktsegment
        WHERE bs.bn <= {ER_MAX_BUCKET} OR a.bal_band = b.bal_band
    )
    SELECT id_a, id_b, score FROM pairs
    ORDER BY score DESC, id_a, id_b
    LIMIT {ER_TOPN}
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution (record linkage): blocking + pairwise
    agreement scoring over customer records — the identity-dedup twin
    of text near-dup, run the same way: candidate pairs come from ONE
    bucket shuffle on the blocking key (nation, segment) via the same
    bucket_pairs kernel the LSH pipelines use (never an O(n^2) cross
    join), then a Fellegi-Sunter-style integer agreement score (name
    suffix, balance proximity at two radii) ranks the candidates; top
    {ER_TOPN} by (score desc, ids) is a total order. On real data the
    blocking key is a normalized name/zip and the weights are
    log-likelihood ratios; the plan is identical.

    Scale shape: blocking runs through bucket_pairs_refined — blocks
    within the cap pair normally, blocks that outgrow it re-block on a
    balance band instead of being dropped (the ER design rule "refine
    the blocking key until blocks are bounded", as a kernel). At the
    test SFs every (nation, segment) block is under the cap, so the
    oracle's plain block join is exactly equal; the refinement route
    is pinned by tests/test_dedup.py. Attribute lookup is two joins
    against the dim-sized customer table; top-N is TakeOrdered."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.expr("right(c_name, 3)").alias("name_sfx"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("balc"),
    )
    banded = c.select(
        F.col("c_custkey").alias("_id"),
        "c_nationkey",
        "c_mktsegment",
        # refinement key for over-cap blocks: 1000.00-wide balance band
        F.expr("balc div 100000").alias("bal_band"),
    )
    pairs = bucket_pairs_refined(
        banded,
        ["c_nationkey", "c_mktsegment"],
        "bal_band",
        max_bucket=4096,
    )
    a = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("name_sfx").alias("sfx_a"),
        F.col("balc").alias("bal_a"),
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"),
        F.col("name_sfx").alias("sfx_b"),
        F.col("balc").alias("bal_b"),
    )
    scored = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                3 * (F.col("sfx_a") == F.col("sfx_b")).cast("long")
                + 4
                * (
                    F.abs(F.col("bal_a") - F.col("bal_b")) <= 1000
                ).cast("long")
                + 2
                * (
                    F.abs(F.col("bal_a") - F.col("bal_b")) <= 10000
                ).cast("long")
            ).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), "id_a", "id_b").limit(ER_TOPN)


SRC_MATRIX_TAU = 0.5  # verify threshold, inside the dup band (ADVICE r5)


@register(
    "q_dedup_source_matrix",
    oracle=f"""
    WITH w AS (SELECT doc_id, source, {WORDS_SQL} AS ws FROM documents),
    sh AS (
        SELECT doc_id, source, {shingles_sql("ws")} AS s
        FROM w WHERE len(ws) >= 3
    ),
    pairs AS (
        SELECT least(a.source, b.source) AS source_a,
               greatest(a.source, b.source) AS source_b,
               CAST(round({jaccard_sql("a.s", "b.s")} * 1000000)
                    AS BIGINT) AS jac_ppm
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND {jaccard_sql("a.s", "b.s")} >= {SRC_MATRIX_TAU}
    )
    SELECT source_a, source_b, count(*) AS n_pairs,
           round(CAST(sum(jac_ppm) AS DOUBLE) / 1000000 / count(*), 6)
               AS mean_jac
    FROM pairs GROUP BY source_a, source_b
    """,
)
def q_dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the provenance report the
    verified near-dup pairs feed: for every (source, source) cell, how
    many near-dup pairs cross it and their mean similarity. This is
    how a corpus audit finds mirror sites / syndicated feeds before
    mixture weighting double-counts them. Per-pair Jaccard is
    quantized to integer ppm BEFORE the sum (a raw double mean would
    be accumulation-order-dependent); the mean is one exact-integer
    division at the end.

    The verify threshold is {SRC_MATRIX_TAU} — INSIDE the dup band
    (ADVICE r5): because this query AVERAGES similarity per cell, a
    0.2 cutoff would make the stated semantics depend on mid-band
    (0.2-0.8) pairs the 8-band LSH recalls at ~1%; at 0.5+ the banding
    miss probability is <2e-4 per pair (the q_dedup_near argument), so
    the oracle's exact all-pairs set and the banded candidate set
    agree on any corpus without a pile of pairs AT the threshold.

    Scale shape: the pair set comes from the same banded-LSH candidate
    pipeline as q_dedup_near (one bucket shuffle, recall argument
    documented there); the matrix itself is a tiny-key aggregate
    (sources x sources)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    sh = doc_shingle_hashes(d, "doc_id", "text", out="sh").persist()
    cands = minhash_candidate_pairs(
        d, "doc_id", "text", num_hashes=32, bands=8, shingles=sh
    )
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sha"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("shb"))
    sa = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")
    )
    sb = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")
    )
    pairs = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b", jaccard(F.col("sha"), F.col("shb")).alias("jac")
        )
        .filter(F.col("jac") >= SRC_MATRIX_TAU)
        .join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            F.round(F.col("jac") * 1_000_000).cast("long").alias("jac_ppm"),
        )
    )
    from ..caching import materialize_unpersist

    return materialize_unpersist(
        pairs.groupBy("source_a", "source_b").agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.sum("jac_ppm").cast("double") / 1_000_000 / F.count("*"),
                6,
            ).alias("mean_jac"),
        ),
        sh,
    )


LINE_W = 10  # words per dedup "line" (the corpus has no newlines)


@register(
    "q_dedup_lines",
    oracle=f"""
    WITH w AS (SELECT doc_id, {WORDS_SQL} AS ws FROM documents),
    ex AS (
        SELECT doc_id, ws,
               unnest(range(CAST(ceil(len(ws) / {LINE_W}.0) AS INTEGER)))
                   AS pos
        FROM w WHERE len(ws) > 0
    ),
    ch AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               array_to_string(
                   ws[pos * {LINE_W} + 1 : pos * {LINE_W} + {LINE_W}],
                   ' ') AS chunk
        FROM ex
    ),
    kept AS (
        SELECT doc_id, pos, chunk FROM ch
        QUALIFY row_number() OVER (
            PARTITION BY CAST('0x' || substr(md5(chunk), 1, 15)
                              AS BIGINT)
            ORDER BY doc_id, pos) = 1
    )
    SELECT k.doc_id,
           t.n_chunks,
           count(*) AS n_kept,
           string_agg(k.chunk, ' ' ORDER BY k.pos) AS clean_text
    FROM kept k
    JOIN (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id) t
      ON t.doc_id = k.doc_id
    GROUP BY k.doc_id, t.n_chunks
    """,
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line-level dedup with document REASSEMBLY — the C4
    step that removes every repeated line across the whole corpus
    (keeping its first occurrence by (doc_id, position)) and rebuilds
    each document from its surviving lines. This corpus has no
    newlines, so a "line" is a fixed {LINE_W}-word span — the same
    mechanism at a fixed granularity. Documents whose every line is
    seen earlier elsewhere vanish entirely (boilerplate removal at
    sub-document granularity, which whole-document dedup cannot do).

    Scale shape (r6, VERDICT r5 item 3): the corpus-wide
    first-occurrence window partitions on portable_hash60(chunk) — the
    one shuffle that is corpus-sized carries (doc_id, pos, hash) at
    ~24 bytes/row instead of the raw chunk text (the widest column in
    the query); the oracle replays the same md5-derived partition key,
    so even a 60-bit collision resolves identically on both engines.
    Chunk TEXT exists only in two narrow branches: it is hashed and
    discarded before the window, and re-derived from the document's
    word array during reassembly — a doc-keyed join where each
    document's text crosses the wire ONCE (vs twice before: window +
    reassembly groupBy both shuffled text). Measured at sf0.1:
    2.46 MB -> 0.70 MB total shuffle bytes, window exchange
    1.28 MB -> 0.17 MB (SCALE.md)."""
    return line_dedup(load_table(spark, sf_dir, "documents"), LINE_W)


def line_dedup(d: DataFrame, line_w: int) -> DataFrame:
    """C4-style first-occurrence chunk dedup + reassembly kernel over a
    (doc_id, text) frame with `line_w`-word chunks. Returns (doc_id,
    n_chunks, n_kept, clean_text); docs whose every chunk occurred
    earlier (by doc_id, pos) vanish. Extracted from q_dedup_lines
    (semantics + the r6 hashed-window-key scale notes there) for the
    pure-Python model law in tests/test_properties.py."""
    st = d.select("doc_id", words("text").alias("w")).filter(
        F.size("w") > 0
    )
    nch = F.ceil(F.size("w") / F.lit(float(line_w))).cast("int")
    # chunk hashes only — the chunk string is built and hashed inside
    # the transform, never materialized as a column
    chh = st.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nch - 1),
                lambda i: portable_hash60(
                    F.array_join(
                        F.slice(F.col("w"), i * line_w + 1, line_w), " "
                    )
                ),
            )
        ).alias("pos0", "chunk_h"),
    ).select("doc_id", F.col("pos0").cast("long").alias("pos"), "chunk_h")
    totals = chh.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    rn = F.row_number().over(
        W.partitionBy("chunk_h").orderBy("doc_id", "pos")
    )
    kept = (
        chh.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("doc_id", "pos")
    )
    # surviving positions per doc (longs, bounded by doc length), then
    # ONE doc-keyed join against the word arrays to rebuild the text
    kept_pos = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_sort(F.collect_list("pos")).alias("keep_pos"),
    )
    reassembled = kept_pos.join(st, "doc_id").select(
        "doc_id",
        "n_kept",
        F.array_join(
            F.transform(
                F.col("keep_pos"),
                lambda p: F.array_join(
                    F.slice(
                        F.col("w"), (p * line_w + 1).cast("int"), line_w
                    ),
                    " ",
                ),
            ),
            " ",
        ).alias("clean_text"),
    )
    return reassembled.join(totals, "doc_id").select(
        "doc_id", "n_chunks", "n_kept", "clean_text"
    )


SUB_W = 8  # words per sliding duplicate-detection window


@register(
    "q_dedup_substring",
    oracle=f"""
    WITH w AS (SELECT doc_id, {WORDS_SQL} AS ws FROM documents),
    win AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(
                   array_to_string(ws[pos + 1 : pos + {SUB_W}], ' ')
               ), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, ws,
                     unnest(range(len(ws) - {SUB_W} + 1)) AS pos
              FROM w WHERE len(ws) >= {SUB_W})
    ),
    dh AS (SELECT doc_id, h, count(*) AS k FROM win GROUP BY doc_id, h),
    g AS (SELECT h, sum(k) AS cnt FROM dh GROUP BY h)
    SELECT d.doc_id,
           CAST(sum(d.k) AS BIGINT) AS n_windows,
           CAST(coalesce(sum(d.k) FILTER (g.cnt >= 2), 0) AS BIGINT)
               AS n_dup
    FROM dh d JOIN g ON g.h = d.h
    GROUP BY d.doc_id
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): a
    sliding {SUB_W}-word window over every document, hashed and
    censused corpus-wide; a window position is DUPLICATED iff its
    content occurs >= 2 times anywhere in the corpus (including within
    the same document). Output per document: total window positions
    and duplicated positions — the span-level signal the suffix-array
    ExactSubstr pass produces, at fixed window granularity (the same
    granularity trade q_dedup_lines makes for C4 line dedup; the
    paper's variable-length maximal match needs the suffix array, but
    the fixed-W census dominates its recall for spans >= W).

    Scale shape: the window TEXT never leaves the row — each position
    contributes an 8-byte portable_hash60 (oracle-recomputable md5
    prefix, same recipe as q_dedup_lines), so every shuffle carries
    (doc_id, hash, count) rows. Three hash-keyed partial-aggregating
    shuffles (per-doc census -> global census -> per-doc rollup): all
    map-side combined, skew-safe (a viral window concentrates into ONE
    census row per partial, and the dh ⋈ g equi-join is AQE
    skew-splittable — no window-function single-partition wall). At
    100 TB this is the same plan; only the census cardinality grows."""
    d = load_table(spark, sf_dir, "documents")
    st = d.select("doc_id", words("text").alias("w")).filter(
        F.size("w") >= SUB_W
    )
    wins = st.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - SUB_W),
                lambda i: portable_hash60(
                    F.array_join(F.slice(F.col("w"), i + 1, SUB_W), " ")
                ),
            )
        ).alias("h"),
    )
    dh = wins.groupBy("doc_id", "h").agg(F.count("*").alias("k"))
    g = dh.groupBy("h").agg(F.sum("k").alias("cnt"))
    return (
        dh.join(g, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_windows"),
            F.coalesce(
                F.sum(F.when(F.col("cnt") >= 2, F.col("k"))), F.lit(0)
            )
            .cast("long")
            .alias("n_dup"),
        )
    )
