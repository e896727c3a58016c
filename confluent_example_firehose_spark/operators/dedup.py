"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All pure DataFrame ops (higher-order functions + xxhash64) — no Python
in the hot path. The LSH pipeline is the 100 TB path: candidate
generation is a shuffle on (band_id, band_hash) instead of an O(n^2)
cross join; exact verification runs only on bucket-collided pairs.

EXPRESSION-INLINING HAZARD (the perf rule this module is built around):
referencing a Column EXPRESSION (not a materialized column) inside a
higher-order-function lambda re-evaluates it per array element —
`element_at(words(text), i)` inside transform() re-runs the split for
every i, turning O(n) shingling into O(n^2) string work per document.
Catalyst does not CSE across lambda boundaries, and CollapseProject
deliberately refuses to merge projections that would duplicate
expensive expressions. Therefore every multi-pass consumer here is a
DataFrame-level pipeline with explicit projection steps (words ->
hashes -> signature), never one giant Column. Measured on sf0.1
documents: 9.0s -> 0.26s for the shingle pass alone.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..caching import table_identity

_LONG_MAX = 9223372036854775807

# The MinHash-LSH band-bucket occupancy cap, shared between the
# candidate generator's skew guard (minhash_candidate_pairs
# max_bucket default) and the adaptive-contraction decision's
# over-cap-class detection (q_dedup_near passes it as
# contraction_worthwhile's cap) — ADVICE r12: the two values MUST be
# the same number, or a single identical-content class sized between
# them silently re-opens the direct path's bucket-drop gap the r12
# max-class rule closed.
NEAR_BUCKET_CAP = 64


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition up to the session's parallelism when the scan yields
    fewer splits than cores (tiny files -> one row group -> one task
    serializes expensive per-row work). A no-op at real scale, where
    the scan already has more splits than cores — the condition keeps
    us from adding a shuffle there.

    The split estimate is len(inputFiles()) — pure plan metadata
    (VERDICT r4: df.rdd.getNumPartitions() materialized an RDD
    conversion per dedup query just to read a partition count). It
    undercounts when one file holds several row-group splits, which
    only makes the guard MORE willing to fan out — and the scale
    no-op case (many files >= cores) is decided identically. Non-scan
    frames (no input files) conservatively fan out."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        return df.repartition(target)
    return df


def compact_for_cache(df: DataFrame, factor: int = 8) -> DataFrame:
    """Repartition a SMALL derived frame down before persist when its
    source scan was fan_out-ed (optimization r13, guide §2.2 "fewer,
    larger partitions"): the cached relation otherwise inherits the
    compute stage's full fan-out as its partition count, and every
    downstream consumer schedules that many tasks over kilobytes of
    cached data — AQE cannot coalesce InMemoryTableScan reads, and by
    default it does not re-plan inside cached plans at all
    (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false).
    Condition mirrors fan_out exactly (input files < cores == the
    fanned-out small-corpus mode), so at real scale this is a no-op
    and the cache keeps the scan's natural partitioning. The
    repartition shuffle itself is batch-sized (runs at full upstream
    parallelism); measured on the sf0.1 bench headliners: the simhash
    pipeline's post-cache stages dropped 32 -> 4 tasks each,
    interleaved min-of-10 2.02 -> 1.48 s.

    File-less frames (len(inputFiles()) == 0 — e.g. a frame built over
    an in-memory or cached relation) pass through UNCHANGED (ADVICE r13
    item 3): fan_out conservatively fans those OUT, and compacting them
    here would be its inverse — at real scale it could wrongly collapse
    the parallelism of a persisted relation. The compaction fires only
    for the small-files case it was built for: 0 < files < cores."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if 0 < len(df.inputFiles()) < target:
        return df.repartition(max(1, target // factor))
    return df


def words(text: Column | str, lowercase: bool = True) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, r"\s+"), lambda w: w != "")


# The DuckDB twins of words(), word_shingles() and jaccard(): plain SQL
# text written against the same rules, never derived from the Spark
# expressions, so every oracle that uses them stays an independent
# reference implementation. Java's \s and this class match the same
# six ASCII whitespace characters.
WORDS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\r\\f\\v]+'), "
    "x -> x <> '')"
)


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingle STRINGS. Test/debug surface only:
    single-Column form, so the words expression is re-evaluated per
    shingle (see module docstring) — use doc_shingle_hashes() in any
    hot path. Docs shorter than n words yield an EMPTY shingle set
    (guarded: sequence(1, 0) would step backward to [1, 0] and make
    slice() throw)."""
    w = words(text)
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(w, i, n), " "))
    )


def shingles_sql(ws: str, n: int = 3) -> str:
    """DuckDB twin of word_shingles over a words list `ws`: the distinct
    space-joined n-word shingles, empty for a list shorter than n."""
    return (
        f"list_distinct([array_to_string({ws}[i:i+{n - 1}], ' ') "
        f"for i in range(1, len({ws}) - {n - 2})])"
    )


def shingle_hashes_col(w: Column, n: int = 3) -> Column:
    """Distinct 64-bit shingle hashes from a MATERIALIZED words column:
    xxhash64(w[i],...,w[i+n-1]) per position via O(1) element_at — no
    shingle strings allocated, no re-split (w must be a column
    reference, not an expression; see module docstring)."""
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(*[F.element_at(w, i + j) for j in range(n)]),
        )
    )


def portable_hash60(s: Column) -> Column:
    """Engine-portable 60-bit content hash: the first 15 hex digits of
    md5(s) parsed as an integer. Any engine or language reproduces it
    (DuckDB: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)), which
    makes fingerprints CONTENT-ADDRESSABLE across systems — the
    property a dedup state store needs when it outlives one engine
    (and the property that lets the correctness oracle recompute
    SimHash fingerprints exactly; xxhash64 is Spark-only). 60 bits
    keeps the value positive in a signed 64-bit long on both sides.
    md5 costs more than xxhash64 per shingle, but shingle hashing is a
    narrow projection — it never shuffles — so the trade buys
    portability without changing any plan shape."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def portable_shingle_hashes_col(w: Column, n: int = 3) -> Column:
    """Distinct 60-bit PORTABLE shingle hashes from a MATERIALIZED
    words column: portable_hash60 over the space-joined n-word shingle
    (the string an oracle engine can rebuild verbatim)."""
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: portable_hash60(
                F.concat_ws(
                    " ", *[F.element_at(w, i + j) for j in range(n)]
                )
            ),
        )
    )


def doc_shingle_hashes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    out: str = "sh",
    keep_empty: bool = False,
    portable: bool = False,
) -> DataFrame:
    """(id, shingle-hash array) per document, as a two-step projection
    pipeline (words materialized first) so shingling stays O(n_words).
    portable=True swaps xxhash64 for the oracle-reproducible
    portable_hash60 (see its docstring for the trade)."""
    staged = df.select(F.col(id_col).alias("_id"), words(text_col).alias("_w"))
    if not keep_empty:
        # Equivalent to filtering size(out) > 0 (>= n words <=> some
        # shingle), but pushdown-safe: a filter on the OUTPUT column
        # would be substitution-pushed below the projection and
        # re-evaluate the whole shingle expression per row.
        staged = staged.filter(F.size("_w") >= n)
    hashes = (
        portable_shingle_hashes_col(F.col("_w"), n)
        if portable
        else shingle_hashes_col(F.col("_w"), n)
    )
    return staged.select("_id", hashes.alias(out))


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """num_hashes independent min-hashes: h_i(s) = xxhash64(i, s),
    computed as ONE fold over the shingle array (aggregate + zip_with +
    least) rather than num_hashes separate array_min passes — one pass
    over the data and a codegen unit that stays small as num_hashes
    grows. `shingles` must be a materialized column reference. Empty
    shingle sets yield the LONG_MAX sentinel signature."""
    init = F.array_repeat(F.lit(_LONG_MAX), num_hashes)
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        shingles,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.transform(idx, lambda i: F.xxhash64(i, s)),
            lambda a, h: F.least(a, h),
        ),
    )


def lsh_bands(sig: Column, bands: int, rows: int) -> Column:
    """Split the signature into `bands` bands of `rows`, hash each band.
    Returns array<struct<band_id int, band_hash bigint>> for explode."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[F.element_at(sig, b * rows + r + 1) for r in range(rows)]
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = NEAR_BUCKET_CAP,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b), deduped across bands.

    Plan shape: per-doc shingle hashes (two narrow projections) ->
    signature -> explode bands (xB) -> ONE shuffle on (band_id,
    band_hash) with collect_list -> in-bucket pair expansion as an
    array expression -> distinct. No self-join: a self-join would
    inline the signature pipeline into both inputs (2x compute + a
    giant codegen unit), and at 100 TB would shuffle the banded table
    twice. The groupBy keeps per-bucket state to an id list only.

    Skew guard: buckets over `max_bucket` ids are dropped — a
    degenerate band hash (boilerplate text) would otherwise expand
    O(k^2) pairs; near-identical boilerplate is better handled by exact
    dedup upstream. Dropped buckets are the documented trade.
    """
    rows = num_hashes // bands
    sh = (
        shingles.select(F.col(shingles.columns[0]).alias("_id"),
                        F.col(shingles.columns[1]).alias("_sh"))
        if shingles is not None
        else doc_shingle_hashes(fan_out(df), id_col, text_col, shingle_n, "_sh")
    )
    sig = sh.select(
        "_id", minhash_signature(F.col("_sh"), num_hashes).alias("_sig")
    )
    banded = sig.select(
        "_id", F.explode(lsh_bands(F.col("_sig"), bands, rows)).alias("b")
    ).select("_id", "b.band_id", "b.band_hash")
    return bucket_pairs(banded, ["band_id", "band_hash"], max_bucket)


def group_buckets(banded: DataFrame, bucket_cols: list[str]) -> DataFrame:
    """The one bucket shuffle every candidate pipeline here runs:
    (bucket..., sorted id list). Exposed so guard branches can consume
    the IDENTICAL aggregate subtree — Catalyst's ReuseExchange then
    dedups the shuffle instead of re-aggregating the banded table."""
    return banded.groupBy(*bucket_cols).agg(
        F.array_sort(F.collect_list("_id")).alias("ids")
    )


def bucket_pair_instances(
    banded: DataFrame,
    bucket_cols: list[str],
    max_bucket: int = 64,
    strict_msg: str | None = None,
) -> DataFrame:
    """(id_a < id_b) pair INSTANCES from a (id, bucket...) table — one
    row per in-bucket co-occurrence, multiplicity preserved (a pair
    sharing k buckets appears k times): ONE shuffle (groupBy bucket,
    collect ids) + expression-side pair expansion. Buckets over
    max_bucket ids are dropped (skew guard — degenerate buckets are
    boilerplate, O(k^2) pair blowup). Callers that only need the
    candidate SET use bucket_pairs; callers that need co-occurrence
    COUNTS (e.g. graph projections: suppliers weighted by shared
    customers) aggregate these instances.

    strict_msg (ADVICE r5): when set, an over-cap bucket RAISES with
    that message instead of being dropped — for callers whose recall
    contract the silent drop would void (simhash pigeonhole blocking).
    The guard is an assert_true folded into the same per-bucket
    projection, so it costs one scalar comparison per bucket row: no
    extra aggregation, branch, or shuffle."""
    grouped = group_buckets(banded, bucket_cols).filter(
        F.size("ids") >= 2
    )
    if strict_msg is None:
        buckets = grouped.filter(F.size("ids") <= max_bucket)
    else:
        # assert_true returns NULL on success (the isNull() keeps the
        # expression referenced so Catalyst can't prune it) and raises
        # the query on the first over-cap bucket.
        ok = F.assert_true(
            F.size("ids") <= max_bucket,
            F.concat(
                F.lit(strict_msg + " (bucket size "),
                F.size("ids").cast("string"),
                F.lit(f" > max_bucket={max_bucket})"),
            ),
        )
        buckets = grouped.filter(ok.isNull())
    n = F.size("ids")
    # total-expression guard: sequence(1, 0) steps DOWN to [1, 0] and
    # element_at(ids, 0) errors under ANSI if a generate-inferred
    # predicate evaluates the expansion on a 1-id bucket (see
    # shingle_strings in curation_queries for the mechanism)
    _pidx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.expr("array()").cast("array<int>")
    )
    pairs = F.flatten(
        F.transform(
            _pidx,
            lambda i: F.transform(
                F.slice(F.col("ids"), i + 1, n),
                lambda other: F.struct(
                    F.element_at(F.col("ids"), i).alias("id_a"),
                    other.alias("id_b"),
                ),
            ),
        )
    )
    return buckets.select(F.explode(pairs).alias("p")).select(
        "p.id_a", "p.id_b"
    )


def bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    max_bucket: int = 64,
    strict_msg: str | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs — bucket_pair_instances
    collapsed to the set. Shared by MinHash-LSH banding, SimHash
    prefix blocking, and ER blocking."""
    return bucket_pair_instances(
        banded, bucket_cols, max_bucket, strict_msg
    ).distinct()


def simhash_candidate_pairs(
    fp: DataFrame,
    n_blocks: int = 4,
    max_bucket: int = 256,
    strict: bool = True,
) -> DataFrame:
    """Pigeonhole blocking over a (_id, fp) fingerprint table: split the
    64-bit fingerprint into n_blocks equal bit-blocks. A pair with
    Hamming distance d <= n_blocks - 1 cannot touch every block, so it
    shares at least one EXACT block and an equality bucket join on
    (block_id, block_value) finds it without the O(n^2) cross join —
    full recall for d < n_blocks, probabilistic above (the standard
    64-bit/4-block d<=3 scheme). Verify with hamming64 afterwards.

    strict=True (ADVICE r5): the d < n_blocks FULL-recall contract
    holds only while no bucket exceeds max_bucket — beyond it, buckets
    are dropped and recall silently degrades. Under strict, an
    over-cap bucket raises (assert_true folded into the pair-expansion
    projection — see bucket_pair_instances' strict_msg), so a skewed
    fingerprint distribution fails LOUDLY instead of shipping an
    incomplete pair set, at the cost of one scalar comparison per
    bucket row (no extra aggregation, branch, or shuffle — a naive
    one-row census branch measured +0.24 s on the sf0.1 headline).
    tests/test_dedup.py pins the raising path."""
    width = 64 // n_blocks
    mask = (1 << width) - 1
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("block_id"),
                F.shiftrightunsigned("fp", b * width)
                .bitwiseAND(F.lit(mask))
                .alias("block_value"),
            )
            for b in range(n_blocks)
        ]
    )
    banded = fp.select("_id", F.explode(blocks).alias("b")).select(
        "_id", "b.block_id", "b.block_value"
    )
    msg = (
        "simhash pigeonhole recall contract violated: a block bucket "
        "exceeds the cap and would be dropped; raise the cap or shard "
        "the corpus"
        if strict
        else None
    )
    return bucket_pairs(
        banded, ["block_id", "block_value"], max_bucket, strict_msg=msg
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays. Integer set sizes;
    the single double division is bit-identical across engines.
    Empty-vs-empty is 0.0 by definition: a bare 0/0 is NaN in Spark and
    engine-dependent elsewhere, and NaN-first desc ordering would
    corrupt best-match ranks on degenerate docs."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def jaccard_sql(a: str, b: str) -> str:
    """DuckDB twin of jaccard over two distinct-element lists, with the
    same empty-union rule (0.0, where DuckDB's bare x / 0 is NULL)."""
    inter = f"len(list_intersect({a}, {b}))"
    return (
        f"COALESCE(CAST({inter} AS DOUBLE) "
        f"/ nullif(len({a}) + len({b}) - {inter}, 0), 0.0)"
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """64-bit SimHash per document: majority vote per bit position over
    the shingle-hash set (bit b of fp = 1 iff more shingle hashes have
    bit b set than not; ties -> 0). portable=True votes over
    portable_hash60 shingle hashes instead of xxhash64 — those carry
    60 meaningful bits, so fp bits 60-63 vote all-zero and the
    fingerprint is effectively 60-bit; Hamming distances and the
    pigeonhole block recall argument are unchanged (equal high bits
    never add distance), and the whole fingerprint becomes
    recomputable by the DuckDB oracle.

    Shingle hashing stays JVM-side; the 64-way bit vote runs as an
    Arrow-batched pandas UDF. Deliberate exception to the
    built-ins-first rule: Spark's higher-order functions are
    CodegenFallback (interpreted, boxed per element), so a 64-bit vote
    fold over every shingle costs ~64 boxed ops per element — measured
    ~4s per pass over sf0.1 documents vs ~0.1s for the numpy bit-matrix
    version. The UDF is a narrow map (no shuffle), so the plan shape is
    unchanged at scale."""
    @pandas_udf("long")
    def _simhash(sh: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        out = np.zeros(len(sh), dtype=np.int64)
        for i, arr in enumerate(sh):
            if arr is None or len(arr) == 0:
                continue
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            votes = ((h[:, None] >> shifts) & np.uint64(1)).sum(
                axis=0, dtype=np.int64
            ) * 2 - len(h)
            fp = ((votes > 0).astype(np.uint64) << shifts).sum(
                dtype=np.uint64
            )
            out[i] = np.int64(fp.astype(np.int64))
        return pd.Series(out)

    sh = doc_shingle_hashes(df, id_col, text_col, n, "_sh", portable=portable)
    return sh.select("_id", _simhash(F.col("_sh")).alias("fp"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# Adaptive-contraction thresholds (r11, the cost-based plan choice):
# contraction pays for itself when duplicate mass is material, and is
# REQUIRED for completion when a single class could approach a bucket
# cap; on a (near-)duplicate-free corpus its class census + expansion
# joins are pure fixed overhead (measured at sf0.1: ~+0.4-0.7 s on the
# two dedup bench headliners for 8 duplicate docs out of 5,000).
CONTRACT_DUP_FRAC = 0.125  # contract when >1/8 of rows are duplicates

# Decision memo (VERDICT r11 item 3): the stats are a pure function of
# an IMMUTABLE corpus, so callers that derive `df` deterministically
# from a parquet table pass memo_key=(sf_dir, table, population) and
# every later query in the session reuses the 3 scalars instead of
# re-aggregating the same corpus (q_dedup_near/simhash/simhash8 each
# charged ~0.1-0.2 s per bench session for an identical answer; the
# simhash pair shares one entry outright). Keyed by resolved path so
# distinct test fixtures / probe ramdisks can never alias — and since
# r13 (ADVICE r12 item 1) ALSO by a file-level data identity of the
# table dir, so regenerating the parquet at a memoized path within one
# driver session invalidates the entry instead of silently routing a
# now-duplicate-heavy corpus onto the direct path. Bounded: cleared
# wholesale past _DUP_STATS_MEMO_CAP entries (stale identities of
# rewritten paths would otherwise accumulate forever).
_DUP_STATS_MEMO: dict[tuple, tuple] = {}
_DUP_STATS_MEMO_CAP = 256


def adaptive_dup_stats(
    df: DataFrame, col: str, memo_key: tuple | None = None
) -> tuple:
    """The adaptive gate's single decision aggregate, shared by every
    contraction call site: (row count, distinct count, max class size),
    all EXACT. One map-side-combining groupBy on the fingerprint column
    (the shuffle is distinct-value-sized after partial agg) feeding a
    1-row final agg — since r12 this replaces the r11 HLL estimate: the
    exact form costs ~+0.4 s at sf0.1 but runs ONCE per corpus per
    session (memoized; bench min-of-3 and every repeat query read the
    memo), and exactness is what lets max-class-size detect the
    over-cap-duplicate-class shape the estimator's error used to swamp
    (ADVICE r11 item 1)."""
    import logging

    if memo_key is not None:
        # Fold the data identity in (ADVICE r12 item 1): callers key by
        # (realpath(sf_dir), table, population); the identity component
        # makes an in-place rewrite of that table a guaranteed miss.
        memo_key = memo_key + (table_identity(memo_key[0], memo_key[1]),)
        if memo_key in _DUP_STATS_MEMO:
            return _DUP_STATS_MEMO[memo_key]
    r = (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("d"),
            F.max("c").alias("mx"),
        )
        .first()
    )
    stats = (r["n"] or 0, r["d"] or 0, r["mx"] or 0)
    logging.getLogger(__name__).info(
        "adaptive_dup_stats%s: n=%d distinct=%d max_class=%d",
        f" {memo_key}" if memo_key else "",
        *stats,
    )
    if memo_key is not None:
        if len(_DUP_STATS_MEMO) >= _DUP_STATS_MEMO_CAP:
            _DUP_STATS_MEMO.clear()
        _DUP_STATS_MEMO[memo_key] = stats
    return stats


def contraction_worthwhile(
    n_rows: int,
    n_distinct: int,
    max_class: int | None = None,
    cap: int | None = None,
) -> bool:
    """Decide contraction from the scalars adaptive_dup_stats produces:
    contract when the duplicate fraction clears CONTRACT_DUP_FRAC —
    from there the expansion joins beat re-shingling/re-pairing the
    duplicate mass, and every duplicate-SKEWED corpus (the 100x-clone
    completion shape) is far above the line — OR (r12, ADVICE r11
    item 1) when any single duplicate class exceeds the caller's
    bucket/skew cap: one over-cap identical-content class inside
    otherwise-immaterial duplicate mass is exactly the shape the
    direct path's guards mishandle (silent 64-id band-bucket drop for
    the LSH join, loud pigeonhole raise for SimHash), and with the
    exact max-class count the detection is precise, not an estimator
    bound. Duplicate-free corpora go direct — the decision is
    output-invariant either way (the contraction == direct-pairing
    law, tests/test_dedup.py); this picks only the cheaper plan."""
    if n_rows <= 0:
        return False
    if max_class is not None and cap is not None and max_class > cap:
        return True
    dup_frac = 1.0 - n_distinct / n_rows
    return dup_frac > CONTRACT_DUP_FRAC


def fp_classes(fp: DataFrame) -> DataFrame:
    """Contract a (_id, fp) fingerprint table into equivalence classes
    of IDENTICAL fingerprints: one row per distinct fp with the
    minimum member id as representative and the member count. The
    duplicate-skew completion path (VERDICT r10 item 1): a corpus
    that is 99% exact duplicates — the shape a 100 TB dedup run is
    GUARANTEED to contain — collapses to its distinct-content size
    before any bucket pairing, so pigeonhole/LSH bucket caps see one
    representative per class instead of the full duplicate mass.

    Callers should persist the result: it feeds the blocking branch,
    both rep-verify joins, and the self-pair branch of
    simhash_pairs_contracted."""
    return fp.groupBy("fp").agg(
        F.min("_id").alias("_id"), F.count(F.lit(1)).alias("_n")
    )


def simhash_pairs_contracted(
    fp: DataFrame,
    classes: DataFrame,
    radius: int,
    n_blocks: int = 4,
    max_bucket: int = 256,
    strict: bool = True,
) -> DataFrame:
    """All document pairs (id_a < id_b, hamming <= radius) from a
    (_id, fp) table, via equivalence-class contraction: pigeonhole
    blocking + Hamming verify run on ONE REPRESENTATIVE per distinct
    fingerprint, then class-level pairs expand back to member pairs
    through two fp-keyed joins. Output-invariant vs pairing the raw
    table directly (pinned by a hypothesis law in tests/test_dedup.py):

      {(a, b) : d(fp_a, fp_b) <= radius}
        = within-class pairs (d = 0, radius >= 0 always here)
        UNION (class A != class B with d(fp_A, fp_B) <= radius)
              x members(A) x members(B)

    because Hamming distance depends only on the fingerprints and all
    members of a class share one. Both cases ride the SAME two
    expansion joins: class-level rows are (fpa, fpb, hamming), with
    within-class pairs contributed as a (fp, fp, 0) self-row per
    class of size >= 2; the fpa = fpb rows keep mid_a < mid_b (each
    unordered pair once), cross-class rows canonicalize with
    least/greatest. The strict bucket-cap guard still fires — but now
    only for genuine fingerprint-DIVERSITY skew (many DISTINCT fps
    sharing a block value), which is the recall contract it exists to
    protect; exact-duplicate mass can no longer trip it. Pair output
    on a duplicate-heavy corpus is inherently quadratic in class
    sizes — that cost is the answer itself, not the algorithm.

    `classes` must be fp_classes(fp) (persisted by the caller — four
    plan branches read it; it is one row per DISTINCT fingerprint, the
    contracted size)."""
    reps = classes.select("_id", "fp")
    cands = simhash_candidate_pairs(
        reps, n_blocks=n_blocks, max_bucket=max_bucket, strict=strict
    )
    a = reps.select(F.col("_id").alias("id_a"), F.col("fp").alias("fpa"))
    b = reps.select(F.col("_id").alias("id_b"), F.col("fp").alias("fpb"))
    rep_pairs = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "fpa",
            "fpb",
            hamming64(F.col("fpa"), F.col("fpb")).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= radius)
    )
    self_pairs = classes.filter(F.col("_n") >= 2).select(
        F.col("fp").alias("fpa"),
        F.col("fp").alias("fpb"),
        F.lit(0).cast("long").alias("hamming"),
    )
    ma = fp.select(F.col("_id").alias("mid_a"), F.col("fp").alias("fpa"))
    mb = fp.select(F.col("_id").alias("mid_b"), F.col("fp").alias("fpb"))
    return (
        rep_pairs.unionByName(self_pairs)
        .join(ma, "fpa")
        .join(mb, "fpb")
        .filter(
            (F.col("fpa") != F.col("fpb"))
            | (F.col("mid_a") < F.col("mid_b"))
        )
        .select(
            F.least("mid_a", "mid_b").alias("id_a"),
            F.greatest("mid_a", "mid_b").alias("id_b"),
            "hamming",
        )
    )


def simhash_pairs_adaptive(
    fp: DataFrame,
    radius: int,
    n_blocks: int = 4,
    max_bucket: int = 256,
    memo_key: tuple | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """All document pairs within the Hamming radius, with the
    contraction decision made from the data (the r11 cost-based plan
    choice, exact + memoized since r12 — see adaptive_dup_stats):
    duplicate-heavy corpora, and any corpus holding a single
    identical-fingerprint class larger than the pigeonhole bucket cap
    (ADVICE r11 item 1 — that shape used to reach the strict raise),
    take simhash_pairs_contracted (completion under duplicate skew);
    (near-)duplicate-free corpora take the direct pigeonhole pipeline
    and skip the class census + expansion joins entirely (measured
    ~+0.7 s of pure overhead at a duplicate-free sf0.1). The strict
    guard stays as the loud backstop for genuine fingerprint-DIVERSITY
    skew. Output is identical on both branches (the contraction ==
    direct-pairing hypothesis law); only the physical plan differs —
    the engine's own little CBO. Returns (pairs, caches-to-release):
    the caller owns the persist lifecycle via materialize_unpersist."""
    fp = fp.persist()
    n, d, mx = adaptive_dup_stats(fp, "fp", memo_key=memo_key)
    if contraction_worthwhile(n, d, max_class=mx, cap=max_bucket):
        classes = fp_classes(fp).persist()
        return (
            simhash_pairs_contracted(
                fp, classes, radius, n_blocks=n_blocks,
                max_bucket=max_bucket,
            ),
            [fp, classes],
        )
    cands = simhash_candidate_pairs(
        fp, n_blocks=n_blocks, max_bucket=max_bucket
    )
    a = fp.select(F.col("_id").alias("id_a"), F.col("fp").alias("fpa"))
    b = fp.select(F.col("_id").alias("id_b"), F.col("fp").alias("fpb"))
    direct = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("fpa"), F.col("fpb"))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= radius)
    )
    return direct, [fp]


def bucket_pairs_refined(
    banded: DataFrame,
    bucket_cols: list[str],
    secondary: str,
    max_bucket: int = 64,
) -> DataFrame:
    """bucket_pairs with over-cap REFINEMENT instead of dropping:
    blocks within the cap pair normally; blocks exceeding it re-block
    on (bucket_cols + secondary) so their pair expansion stays bounded
    — the entity-resolution design rule ("refine the blocking key
    until blocks are bounded") as a kernel. The trade is explicit and
    smaller than dropping: only pairs CROSSING secondary values inside
    an over-cap block are lost, instead of the whole block.

    Scale shape: one extra block-size aggregation (tiny — one row per
    block) decides each row's route; both routes are the same single
    bucket shuffle as bucket_pairs. Distinct-union of the two pair
    sets (a block can't be in both routes, but a pair of ids can meet
    in several blocks when bucket_cols come from multi-banding).

    The refined route is STRICT (ADVICE r7): a sub-block that still
    exceeds max_bucket after adding `secondary` raises instead of
    being silently dropped — a silent second-level drop both loses
    recall invisibly and diverges from the q_entity_resolution oracle,
    which keeps every same-secondary pair. A caller hitting the raise
    must refine further (another secondary) or raise the cap; the
    guard costs one scalar comparison per sub-block row."""
    # No broadcast hint on sizes: one row per BLOCK is unbounded at
    # corpus scale (millions of blocks at 100 TB); the equi-join on
    # bucket_cols co-partitions with the groupBy that produced it, and
    # AQE still broadcasts when it is actually small.
    sizes = banded.groupBy(*bucket_cols).agg(F.count("*").alias("_bn"))
    routed = banded.join(sizes, bucket_cols)
    small = routed.filter(F.col("_bn") <= max_bucket).drop("_bn")
    big = routed.filter(F.col("_bn") > max_bucket).drop("_bn")
    pairs_small = bucket_pairs(small, bucket_cols, max_bucket)
    pairs_big = bucket_pairs(
        big,
        bucket_cols + [secondary],
        max_bucket,
        strict_msg=(
            "entity-resolution refinement contract violated: a "
            f"sub-block still exceeds the cap after refining on "
            f"'{secondary}'; refine further or raise max_bucket"
        ),
    )
    return pairs_small.unionByName(pairs_big).distinct()
