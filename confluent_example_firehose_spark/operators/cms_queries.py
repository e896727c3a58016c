"""Count-Min sketch heavy hitters over `documents` (SURVEY.md §2.B
mergeable-sketch family — HLL distinct counts, mergeable quantile
histograms, Bloom membership, and now CMS frequency estimates: the
four partial-aggregation sketches a 100 TB catalog needs).

The sketch lives in RELATION form — (row, col, count) cells, at most
CMS_D x CMS_W rows regardless of corpus size — with the same
engine-portable double-hashing family as the Bloom index
(bloom_queries._positions over portable_hash60, dedup.py:91), so the
DuckDB oracle rebuilds the exact same cells. The output pairs every
top-K term's CMS estimate with its exact count, making the
never-underestimates law (est >= exact, Cormode & Muthukrishnan 2005)
VISIBLE in the hash-checked result. Merge = cell-wise SUM (groupBy
(row, col) sum), the CMS analogue of Bloom's union-distinct — pinned
by tests/test_cms.py: per-source sketches summed equal the global
build. Reference parity: the reference engine (/root/reference) has
no sketch surface; this extends the build brief's mergeable-sketch
mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from . import stream_runtime
from .dedup import WORDS_SQL, portable_hash60, words
from .state_dir import Relation
from .stream_runtime import SK_BATCHES, replay_epochs

CMS_W = 1024  # sketch width (columns per hash row)
CMS_D = 4  # hash rows (double hashing)
CMS_TOP = 20  # terms reported (exact top-K, est vs exact side by side)


def _cms_cells(term: Column) -> Column:
    """The CMS_D (row, col) cells of a term: double hashing
    col_r = (h + r * h2) % W with h = portable_hash60(term) and
    h2 = 2*(h >> 30) + 1 (odd stride) — pure positive-integer
    arithmetic, identical in any engine (same family as
    bloom_queries._positions)."""
    h = portable_hash60(term)
    h2 = F.shiftright(h, 30) * 2 + 1
    return F.transform(
        F.sequence(F.lit(0), F.lit(CMS_D - 1)),
        lambda r: F.struct(
            r.cast("long").alias("r"),
            ((h + r.cast("long") * h2) % CMS_W).alias("pos"),
        ),
    )


@register(
    "q_cms_topk",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({WORDS_SQL}) AS term
        FROM documents WHERE text IS NOT NULL
    ),
    census AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    hh AS (
        SELECT term, cnt,
               CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h
        FROM census
    ),
    cells AS (
        SELECT term, cnt, i AS r,
               (h + i * ((h >> 30) * 2 + 1)) % {CMS_W} AS pos
        FROM hh, (SELECT unnest(range({CMS_D})) AS i)
    ),
    sketch AS (SELECT r, pos, sum(cnt) AS c FROM cells GROUP BY r, pos),
    topk AS (
        SELECT term, cnt FROM census
        ORDER BY cnt DESC, term LIMIT {CMS_TOP}
    ),
    est AS (
        SELECT p.term, min(s.c) AS e
        FROM cells p
        JOIN topk t USING (term)
        JOIN sketch s ON s.r = p.r AND s.pos = p.pos
        GROUP BY p.term
    )
    SELECT t.term, CAST(t.cnt AS BIGINT) AS exact_cnt,
           CAST(e.e AS BIGINT) AS cms_est,
           CAST(e.e - t.cnt AS BIGINT) AS overcount
    FROM topk t JOIN est e ON e.term = t.term
    """,
)
def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a CMS_D x CMS_W Count-Min sketch over the document token
    stream and report the exact top-CMS_TOP terms with their sketch
    estimate next to the exact count. Returns (term, exact_cnt,
    cms_est, overcount) — overcount >= 0 always (CMS point queries
    never underestimate; collisions only ADD).

    Scale shape: the corpus-sized data moves through exactly ONE
    shuffle — the map-side-combined term census (vocabulary-sized
    output). The sketch is a re-aggregation of that census bounded at
    CMS_D*CMS_W cells at ANY corpus size, so the hard broadcast into
    the estimate join is justified by construction (same argument as
    the Bloom probe set); top-K is TakeOrdered (no global sort). The
    census persist is the DSIR trade (dsir_queries.py): without it
    Catalyst fans the sketch/top-K branches into separate corpus
    tokenizations — the side that explodes at 100 TB."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    census = (
        d.select(F.explode(words("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    sketch = cms_sketch(census)
    topk = census.orderBy(F.col("cnt").desc(), "term").limit(CMS_TOP)
    tcells = topk.select(
        "term", "cnt", F.explode(_cms_cells(F.col("term"))).alias("rp")
    ).select("term", "cnt", "rp.r", "rp.pos")
    from ..caching import materialize_unpersist

    return materialize_unpersist(
        tcells.join(F.broadcast(sketch), ["r", "pos"])
        .groupBy("term", "cnt")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "term",
            F.col("cnt").alias("exact_cnt"),
            "cms_est",
            (F.col("cms_est") - F.col("cnt")).alias("overcount"),
        ),
        census,
    )


def cms_sketch(census: DataFrame) -> DataFrame:
    """(r, pos, c) sketch cells from a (term, cnt) census. Mergeable:
    the sketch of a union of corpora is the cell-wise SUM of their
    sketches (groupBy (r, pos) sum) — pinned by tests/test_cms.py."""
    return (
        census.select("cnt", F.explode(_cms_cells(F.col("term"))).alias("rp"))
        .groupBy("rp.r", "rp.pos")
        .agg(F.sum("cnt").alias("c"))
    )


@register(
    "q_cms_stream",
    oracle=f"""
    WITH d AS (
        SELECT doc_id % {SK_BATCHES} AS b_id, unnest({WORDS_SQL}) AS term
        FROM documents WHERE text IS NOT NULL
    ),
    census AS (
        SELECT b_id, term, count(*) AS cnt FROM d GROUP BY b_id, term
    ),
    hh AS (
        SELECT b_id, term, cnt,
               CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h
        FROM census
    ),
    cells AS (
        SELECT DISTINCT b_id, i AS r,
               (h + i * ((h >> 30) * 2 + 1)) % {CMS_W} AS pos
        FROM hh, (SELECT unnest(range({CMS_D})) AS i)
    ),
    firsts AS (SELECT r, pos, min(b_id) AS fb FROM cells GROUP BY r, pos),
    nn AS (
        SELECT fb AS batch_id, count(*) AS n_new FROM firsts GROUP BY fb
    ),
    tk AS (SELECT b_id AS batch_id, count(*) AS t FROM d GROUP BY b_id),
    all_b AS (SELECT unnest(range({SK_BATCHES})) AS batch_id)
    SELECT CAST(all_b.batch_id AS BIGINT) AS batch_id,
           CAST(coalesce(nn.n_new, 0) AS BIGINT) AS n_new_cells,
           CAST(sum(coalesce(nn.n_new, 0)) OVER (
               ORDER BY all_b.batch_id) AS BIGINT) AS n_cells_cum,
           CAST({CMS_D} * sum(coalesce(tk.t, 0)) OVER (
               ORDER BY all_b.batch_id) AS BIGINT) AS cell_mass_cum
    FROM all_b
    LEFT JOIN nn USING (batch_id)
    LEFT JOIN tk USING (batch_id)
    """,
)
def q_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CMS maintenance in a stream — the frequency-sketch
    twin of q_bloom_stream: the documents table arrives as SK_BATCHES
    micro-batches (doc_id % SK_BATCHES file-stream twin of a Kafka
    ingest); each foreachBatch epoch sketches ITS batch (token census
    -> cells) and MERGES the cells into persistent sketch state
    (append; cell-wise sum on read — the CMS merge law). Returns per
    epoch (batch_id, n_new_cells, n_cells_cum, cell_mass_cum) where
    cell_mass_cum = sum of all cell counts = CMS_D x tokens ingested.

    Hash-checked mergeability law: CMS merge is associative AND
    commutative (cell-wise integer sum), so the cumulative occupancy
    and mass are pure functions of the batch PARTITION (min-batch /
    prefix-sum censuses in the oracle) regardless of how rows
    interleaved inside each epoch — the q_bloom_stream argument for
    counts instead of bits. Scale shape: per-epoch work is one batch
    scan + a vocabulary-bounded census; the state relation never
    exceeds CMS_D x CMS_W rows after compaction (bounded at ANY corpus
    size), so incremental build costs what the batch build costs,
    paid as you ingest."""
    import os

    from pyspark.sql import types as T

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(words("text")).alias("term"))
    )
    log: list[tuple[int, int, int]] = []
    with stream_runtime.state_root("cms_stream_") as root:
        state = Relation(
            os.path.join(root, "state"), "r bigint, pos bigint, c bigint"
        )

        def per_batch(batch_df: DataFrame, b: int) -> None:
            s = batch_df.sparkSession
            state.append(
                cms_sketch(
                    batch_df.groupBy("term").agg(F.count("*").alias("cnt"))
                )
            )
            # COMPACT the state every epoch: merge appended deltas by
            # the CMS cell-wise sum so the stored relation actually IS
            # bounded at CMS_D x CMS_W rows (r9; r10 swaps the bounded
            # collect-then-overwrite for the shared sibling-tmp +
            # rename-swap helper — no driver round-trip, no torn-state
            # window on a mid-write failure, ADVICE r9 item 3).
            # Output-invariant (sum associativity), driver-rechecked.
            state.replace(
                state.read(s).groupBy("r", "pos").agg(F.sum("c").alias("c"))
            )
            st = state.read(s)
            # coalesce: an empty epoch (a doc_id residue class with no
            # docs at a filtered/tiny SF) leaves the state empty, and
            # sum() over zero rows is NULL where the oracle's
            # coalesce(..., 0) says 0 (ADVICE r8).
            agg = st.agg(
                F.countDistinct("r", "pos").alias("nc"),
                F.coalesce(F.sum("c"), F.lit(0)).alias("mass"),
            ).first()
            log.append((b, agg["nc"], agg["mass"]))

        replay_epochs(d, "doc_id", root, per_batch)
    schema = T.StructType(
        [
            T.StructField("batch_id", T.LongType()),
            T.StructField("n_new_cells", T.LongType()),
            T.StructField("n_cells_cum", T.LongType()),
            T.StructField("cell_mass_cum", T.LongType()),
        ]
    )
    rows = [
        (b, nc - (log[i - 1][1] if i else 0), nc, mass)
        for i, (b, nc, mass) in enumerate(log)
    ]
    return spark.createDataFrame(rows, schema)
