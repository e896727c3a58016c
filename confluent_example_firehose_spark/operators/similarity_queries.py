"""Similarity search declared queries (SURVEY.md §2.C) over `embeddings`.

Cosine scores are computed with sequential double folds (functions/
vector.py) and are bit-identical to DuckDB's list_cosine_similarity on
DOUBLE[] — verified empirically — so no rounding is needed anywhere.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import DEFAULT_SF_DIR, load_table
from ..functions.vector import cosine, dot, norm2, to_double_array
from ..registry import register
from .dedup_queries import PAIR_CAP, bounded_pairs

N_QUERY_VECS = 5
TOP_K = 10


@register(
    "q_similarity_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE len(embedding) > 0),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id < {N_QUERY_VECS})
    SELECT query_id, neighbor_id, cos
    FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(q.qv, e.v) AS cos,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id
               ) AS rn
        FROM q, e
        WHERE e.vec_id <> q.query_id
    )
    WHERE rn <= {TOP_K}
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force ANN baseline: top-k cosine neighbors for each query
    vector. The query set broadcasts; the corpus streams through one
    pass (no shuffle of the big side); per-query top-k via window over
    the small post-join set.

    At 100 TB the exact same plan holds with a bounded query set; for
    large query sets switch to q_similarity_lsh's bucketed variant."""
    # Norms precomputed per side (materialized columns) so the
    # interpreted fold (HOFs are CodegenFallback) runs once per vector,
    # not once per pair; cos = dot/(nq*nv) keeps the exact association
    # order of cosine() -> still bit-identical to the oracle.
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") > 0
    ).select("vec_id", to_double_array("embedding").alias("v"))
    e = e.select("vec_id", "v", norm2(F.col("v")).alias("nv"))
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot(F.col("qv"), F.col("v"))
                / (F.col("nq") * F.col("nv"))
            ).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos")
    )


@register(
    "q_dedup_embed",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < {PAIR_CAP} AND len(embedding) > 0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_cosine_similarity(a.v, b.v) AS cos
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
    ORDER BY cos DESC, id_a, id_b
    LIMIT 20
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: top-20 most similar pairs within a
    FIXED id window (PAIR_CAP vectors — bounded pair count at any
    corpus size; a production near-dup filter is the same plan with
    `cos > tau`, and the unbounded path is the LSH-bucketed variant,
    q_similarity_lsh). Pair generation is a narrow map + two broadcast
    hash equi-joins — no BNLJ/cross join in the plan."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") < PAIR_CAP) & (F.size("embedding") > 0)
    ).select("vec_id", to_double_array("embedding").alias("v"))
    e = e.select("vec_id", "v", norm2(F.col("v")).alias("nv"))
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    return (
        bounded_pairs(spark, PAIR_CAP)
        .join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "id_a", "id_b")
        .limit(20)
    )


def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded PRNG, generated on the
    driver, shipped as literals — tiny)."""
    rng = random.Random(42)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _lsh_bucket_sql(planes: list[list[float]]) -> str:
    """The sign-bucket expression as DuckDB SQL with the SAME plane
    literals the Spark side uses (repr() round-trips doubles exactly,
    so both engines parse the identical IEEE value), and the same
    sequential-fold dot product (list_dot_product ≡ the vector.py
    fold, the bit-identity q_similarity_topk already relies on). Bits
    are disjoint powers of two, so + is the bitwise OR."""
    terms = [
        f"(CASE WHEN list_dot_product([{', '.join(repr(x) for x in p)}]"
        f", v) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return " + ".join(terms)


def _lsh_oracle(multiprobe: bool) -> str:
    planes = _hyperplanes(8, 64)
    probe = (
        """
    m(mask) AS (VALUES (0), (1), (2), (4), (8), (16), (32), (64), (128)),
    p AS (SELECT query_id, qv, xor(qbucket, mask) AS probe_bucket
          FROM q CROSS JOIN m)"""
        if multiprobe
        else """
    p AS (SELECT query_id, qv, qbucket AS probe_bucket FROM q)"""
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE len(embedding) > 0),
    b AS (
        SELECT vec_id, v, {_lsh_bucket_sql(planes)} AS bucket FROM e
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
          FROM b WHERE vec_id < {N_QUERY_VECS}),{probe}
    SELECT query_id, neighbor_id, cos FROM (
        SELECT p.query_id, b.vec_id AS neighbor_id,
               list_cosine_similarity(p.qv, b.v) AS cos,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY list_cosine_similarity(p.qv, b.v) DESC,
                            b.vec_id) AS rn
        FROM p JOIN b ON b.bucket = p.probe_bucket
                     AND b.vec_id <> p.query_id
    ) WHERE rn <= {TOP_K}
    """


IVF_K, IVF_NPROBE, IVF_SAMPLE, IVF_ITERS = 16, 4, 512, 8


SEM_TAU = 0.35  # dup threshold: inside this synthetic corpus's
# similarity TAIL (cos p99.9 ~= 0.38, max ~0.5-0.6 across SFs) so the
# result is non-empty at every test SF; a real embedding space uses
# ~0.9+ with the identical plan.
SEM_CLUSTER_TARGET = 32  # target cluster SIZE: k scales with the corpus


def _sem_k(n: int) -> int:
    """SemDeDup's cluster count as a function of corpus size: k scales
    so cluster sizes stay ~SEM_CLUSTER_TARGET, which keeps the
    intra-cluster pair expansion LINEAR in n (sum of size^2 over n/t
    clusters of size t = n*t). A fixed k makes pairs grow
    quadratically — the r7 10x-clone probe measured exactly that
    (42x wall at 10x data with k=16) before this rule. Capped at
    IVF_SAMPLE because centroids train on a bounded sample; shared by
    the Spark query and the oracle builder so both engines derive the
    identical k from the identical count."""
    return max(1, min(n // SEM_CLUSTER_TARGET, IVF_SAMPLE))


def _ivf_train(sample: np.ndarray, k: int = IVF_K) -> np.ndarray:
    """Seeded k-means shared by the Spark query AND the oracle builder,
    so the centroid literals the oracle embeds can never drift from the
    centroids the query trains. Training itself need not be
    fold-replicable (only its OUTPUT is shared across engines), so the
    pairwise-sum numpy forms are fine here."""
    # Degrade gracefully on tiny corpora (r7, ADVICE r6): with fewer
    # than k non-empty embeddings, rng.choice(replace=False) would
    # crash — train k_eff = len(sample) centroids instead. Both the
    # Spark query and the oracle builder share this function, so the
    # degraded centroid set stays engine-consistent.
    k_eff = min(k, len(sample))
    rng = np.random.RandomState(42)
    cents = sample[rng.choice(len(sample), k_eff, replace=False)]
    for _ in range(IVF_ITERS):
        d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        for k in range(k_eff):
            m = sample[assign == k]
            if len(m):
                cents[k] = m.mean(0)
    return cents


def _seq_sqdist(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(batch x K) squared distances accumulated dimension-by-dimension:
    a sequential left fold over dims with 0.0 init — the exact order
    DuckDB's list_reduce((v[i]-c[i])*(v[i]-c[i]), +) replays (0.0 + t1
    == t1 in IEEE since squares are non-negative) — so near-tie argmin
    assignments cannot flip between engines. Each step is still a
    vectorized (batch x K) op; 64 steps per Arrow batch."""
    d2 = np.zeros((x.shape[0], c.shape[0]))
    for i in range(c.shape[1]):
        t = x[:, i, None] - c[None, :, i]
        d2 += t * t
    return d2


# The IVF centroid model every vector query shares, in both engines.
# Centroids are _ivf_train over the first IVF_SAMPLE non-empty vectors
# of a slice in vec_id order; a vector's list is the nearest centroid
# by the dimension-ordered squared-distance fold, ties to the lower
# cluster id. centroids() and nearest_centroid() are the Spark side,
# ivf_oracle_head() the DuckDB side.


def centroids(vecs: DataFrame, k: int = IVF_K) -> np.ndarray | None:
    """The trained centroids of a (vec_id, v) slice, or None when the
    slice is empty. IVF training is always a sample, so the collect is
    bounded at any corpus size."""
    rows = vecs.orderBy("vec_id").limit(IVF_SAMPLE).collect()
    return _ivf_train(np.array([r["v"] for r in rows]), k) if rows else None


def nearest_centroid(spark: SparkSession, cents: np.ndarray):
    """The assignment UDF: v -> the id of its nearest centroid (int),
    vectorized per Arrow batch over broadcast centroids.

    Worker-safety invariant: the nested kernel reads only numpy, pandas
    and its broadcast. It inlines the _seq_sqdist fold instead of
    calling it, because a module-level helper pickles by name and
    breaks on workers whose cwd cannot import the package; _seq_sqdist
    stays module-level for the probe lists and the unit tests. The
    fold is dimension-sequential, so its distances are bit-identical
    to the oracle's list_reduce, and argmin keeps the first (lowest)
    id on a tie."""
    cents_b = spark.sparkContext.broadcast(cents)

    @pandas_udf("int")
    def nearest(vs: pd.Series) -> pd.Series:
        c = cents_b.value
        x = np.stack(vs.to_numpy())
        d2 = np.zeros((x.shape[0], c.shape[0]))
        for i in range(c.shape[1]):
            t = x[:, i, None] - c[None, :, i]
            d2 += t * t
        return pd.Series(d2.argmin(1).astype(np.int32))

    return nearest


def probe_lists(
    spark: SparkSession, vecs: DataFrame, cents: np.ndarray
) -> DataFrame:
    """The fixed query workload (vec_id < N_QUERY_VECS) as (query_id,
    cluster_id, qv) rows, one per probed list: each query's IVF_NPROBE
    nearest lists by a stable sort, so d2 ties go to the lower
    cluster_id like IVF_PROBES_SQL's ORDER BY d2, cluster_id."""
    rows = []
    for r in vecs.filter(F.col("vec_id") < N_QUERY_VECS).collect():
        d2 = _seq_sqdist(np.asarray(r["v"], dtype=np.float64)[None, :], cents)
        for c in np.argsort(d2[0], kind="stable")[:IVF_NPROBE]:
            rows.append((r["vec_id"], int(c), r["v"]))
    return spark.createDataFrame(
        rows, "query_id long, cluster_id int, qv array<double>"
    )


def ivf_oracle_head(where: str, k: int | None = IVF_K) -> str | None:
    """The DuckDB twin of centroids() + nearest_centroid(): the CTE
    prefix `WITH e, c, d, ranked, assigned` every centroid-literal
    oracle opens with. `where` is the training slice's predicate on
    embeddings; k=None derives k by _sem_k from the slice's count.
    It replays the same sample and the exact same _ivf_train call,
    renders the centroids as repr-exact double literals (repr
    round-trips IEEE doubles) and ranks every (vector, centroid)
    distance by the list_reduce fold: `ranked` holds each pair's rank
    rn (d2, then cluster_id), `assigned` the (vec_id, v, cluster_id)
    rows of rank 1.

    Centroids are data-dependent, so oracles call this lazily at
    oracle_sqls() time, on the embeddings under
    SPARK_GRAFT_ORACLE_SF_DIR (sf0.01 beside the default sf dir unless
    a tool pins it to the dir it compares). None (-> rows-only
    fallback) when that parquet is absent or the slice is empty."""
    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR",
        os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01"),
    )
    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import duckdb

    src = f"FROM '{path}' WHERE len(embedding) > 0 AND {where}"
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT embedding {src} ORDER BY vec_id LIMIT {IVF_SAMPLE}"
        ).fetchall()
        if k is None:
            k = _sem_k(con.execute(f"SELECT count(*) {src}").fetchone()[0])
    finally:
        con.close()
    if not rows:
        return None
    # float32 -> Python float is exact IEEE widening, the same value
    # the Spark side's cast-to-double collect sees.
    cents = _ivf_train(np.array([r[0] for r in rows], dtype=np.float64), k)
    vals = ",\n        ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}])"
        for i, c in enumerate(cents)
    )
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE len(embedding) > 0
    ),
    c(cluster_id, cv) AS (VALUES
        {vals}
    ),
    d AS (
        SELECT e.vec_id, e.v, c.cluster_id,
               list_reduce(
                   list_transform(range(1, {cents.shape[1] + 1}),
                       i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),
                   (a, b) -> a + b) AS d2
        FROM e CROSS JOIN c
    ),
    ranked AS (
        SELECT vec_id, v, cluster_id,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
        FROM d
    ),
    assigned AS (SELECT vec_id, v, cluster_id FROM ranked WHERE rn = 1)"""


# probe_lists replayed as a tail CTE over ivf_oracle_head's `ranked`
IVF_PROBES_SQL = f"""
    probes AS (
        SELECT vec_id AS query_id, v AS qv, cluster_id
        FROM ranked
        WHERE vec_id < {N_QUERY_VECS} AND rn <= {IVF_NPROBE}
    )"""


def _ivf_oracle():
    """q_similarity_ivf's tail: every query's TOP_K cosines over its
    probed lists."""
    head = ivf_oracle_head("TRUE")
    return None if head is None else f"""{head},{IVF_PROBES_SQL}
    SELECT query_id, neighbor_id, cos FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               list_cosine_similarity(p.qv, a.v) AS cos,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY list_cosine_similarity(p.qv, a.v) DESC,
                            a.vec_id) AS rn
        FROM probes p JOIN assigned a
          ON a.cluster_id = p.cluster_id AND a.vec_id <> p.query_id
    ) WHERE rn <= {TOP_K}
    """


@register("q_similarity_ivf", oracle=_ivf_oracle)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the other standard scale path next to
    LSH: k-means centroids partition the corpus into inverted lists;
    queries probe only the nprobe nearest lists.

    Spark mapping: centroids train on a bounded driver-side sample
    (centroids()), assignment is an Arrow-batched vectorized distance
    per corpus batch (narrow map), and the search is an equi-join on
    cluster_id — shuffle-partitioned by list, never a cross join.

    Hash-checked (r6): list membership is a deterministic function of
    the trained centroids, which the oracle (ivf_oracle_head) embeds
    as repr-exact literals with the same sequential-fold assignment;
    the NPROBE probe ranking is stable on both sides (d2 then
    cluster_id), and the cosine is the bit-identical fold of
    q_similarity_topk."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") > 0
    ).select("vec_id", to_double_array("embedding").alias("v"))
    cents = centroids(e)
    if cents is None:  # no non-empty embeddings: nothing to index
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos double"
        )
    listed = e.withColumn(
        "cluster_id", nearest_centroid(spark, cents)(F.col("v"))
    )
    scored = (
        listed.join(F.broadcast(probe_lists(spark, e, cents)), "cluster_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos")
    )


@register("q_similarity_lsh", oracle=_lsh_oracle(multiprobe=False))
def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN — the 100 TB path: bucket vectors by
    sign-pattern (8 planes -> 256 buckets), search only within the
    query's bucket. Shuffles on bucket id instead of cross-joining.

    Recall is traded for the O(n^2) -> O(n) candidate cut; the
    multi-bucket production variant is q_similarity_lsh_multiprobe.
    Hash-checked (r5; previously rows-only): bucket membership is a
    deterministic function of the seeded plane literals and the
    bit-identical dot fold, so the oracle recomputes the EXACT buckets
    from the same literals (see _lsh_bucket_sql) and replays the
    bucket-restricted top-k."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") > 0
    ).select("vec_id", to_double_array("embedding").alias("v"))
    planes = _hyperplanes(8, 64)
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        bit = F.when(dot(plane, F.col("v")) > 0, F.lit(1 << i)).otherwise(0)
        bucket = bucket.bitwiseOR(bit)
    bucketed = e.withColumn("bucket", bucket)
    q = bucketed.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        bucketed.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos")
    )


@register(
    "q_similarity_lsh_multiprobe", oracle=_lsh_oracle(multiprobe=True)
)
def q_similarity_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (the q_similarity_lsh docstring's 'production
    would probe multi-bucket' follow-through, r3 roadmap): each query
    probes its own sign bucket PLUS every 1-bit-flip neighbor bucket —
    9 of 256 buckets for 8 planes. A near neighbor lands in a different
    bucket exactly when some hyperplane splits the pair, and the
    single-plane split is by far the most likely miss, so probing
    Hamming-1 buckets recovers most of the recall single-probe loses
    at ~9x the candidate cost (still O(n * 9/256), nowhere near the
    brute-force cross join). tests/test_similarity_multiprobe.py
    measures recall@k against the exact oracle and pins
    multiprobe >= single-probe.

    Scale shape: identical to single-probe — candidate generation is an
    equi-join of the corpus against a broadcast (query x probe-bucket)
    frame (bounded: queries x 9), then a query-partitioned rank. Each
    corpus vector sits in ONE bucket, so probes never duplicate a
    candidate pair and no dedup pass is needed."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") > 0
    ).select("vec_id", to_double_array("embedding").alias("v"))
    planes = _hyperplanes(8, 64)
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        bit = F.when(dot(plane, F.col("v")) > 0, F.lit(1 << i)).otherwise(0)
        bucket = bucket.bitwiseOR(bit)
    bucketed = e.withColumn("bucket", bucket)
    # probe set: own bucket + all Hamming-1 flips, exploded to rows
    flips = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << i))
            for i in range(len(planes))
        ],
    )
    q = (
        bucketed.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("bucket").alias("qbucket"),
        )
        .select(
            "query_id", "qv", F.explode(flips).alias("probe_bucket")
        )
    )
    scored = (
        bucketed.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("probe_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos")
    )


MMR_K = 8          # selections
MMR_L = 0.7        # lambda: relevance weight (diversity weight = 0.3)


def _mmr_oracle() -> str:
    sql = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE len(embedding) > 0),
    rel AS (
        SELECT e.vec_id,
               list_cosine_similarity(
                   (SELECT v FROM e WHERE vec_id = 0), e.v) AS rel,
               e.v
        FROM e WHERE e.vec_id <> 0
    ),
    p1 AS (SELECT 1 AS rank, vec_id, rel AS score, v FROM rel
           ORDER BY rel DESC, vec_id LIMIT 1),
    s1 AS MATERIALIZED (SELECT rank, vec_id, score, v FROM p1)"""
    # Each selection reads the previous s{k} twice; inlined rather than
    # MATERIALIZED, the plan doubles per step (2^MMR_K scans) and does
    # not finish in minutes even at sf0.001.
    for k in range(2, MMR_K + 1):
        sql += f""",
    p{k} AS (
        SELECT {k} AS rank, r.vec_id,
               {MMR_L} * r.rel
                 - {round(1 - MMR_L, 1)} * (
                     SELECT max(list_cosine_similarity(r.v, s.v))
                     FROM s{k - 1} s) AS score,
               r.v
        FROM rel r
        WHERE r.vec_id NOT IN (SELECT vec_id FROM s{k - 1})
        ORDER BY score DESC, r.vec_id LIMIT 1
    ),
    s{k} AS MATERIALIZED (
        SELECT * FROM s{k - 1} UNION ALL SELECT * FROM p{k})"""
    return sql + f"""
    SELECT CAST(rank AS BIGINT) AS rank, vec_id, round(score, 6) AS score
    FROM s{MMR_K}"""


def mmr_select(
    rel: DataFrame, k: int, lam: float = MMR_L
) -> list[tuple[int, int, float]]:
    """Greedy MMR over a (vec_id, rel, v, nv) relevance frame: returns
    [(rank, vec_id, score)] with step 1 = pure-relevance argmax and
    later steps argmax(lam*rel - (1-lam)*max_cos_to_selected), vec_id
    tiebreak. Stops early if candidates run out."""
    first = (
        rel.orderBy(F.desc("rel"), "vec_id")
        .limit(1)
        .select("vec_id", F.col("rel").alias("score"))
        .first()
    )
    if first is None:
        return []
    picked = [(1, first["vec_id"], first["score"])]
    for step in range(2, k + 1):
        sel_ids = [p[1] for p in picked]
        sel = rel.filter(F.col("vec_id").isin(sel_ids)).select(
            F.col("vec_id").alias("sid"),
            F.col("v").alias("sv"),
            F.col("nv").alias("sn"),
        )
        cand = (
            rel.filter(~F.col("vec_id").isin(sel_ids))
            .join(F.broadcast(sel))
            .select(
                "vec_id",
                "rel",
                (
                    dot(F.col("sv"), F.col("v"))
                    / (F.col("sn") * F.col("nv"))
                ).alias("sim"),
            )
            .groupBy("vec_id")
            .agg(
                F.first("rel").alias("rel"),
                F.max("sim").alias("maxsim"),
            )
            .select(
                "vec_id",
                (
                    F.lit(lam) * F.col("rel")
                    - F.lit(round(1 - lam, 1)) * F.col("maxsim")
                ).alias("score"),
            )
        )
        row = cand.orderBy(F.desc("score"), "vec_id").limit(1).first()
        if row is None:
            break
        picked.append((step, row["vec_id"], row["score"]))
    return picked


@register("q_similarity_mmr", oracle=_mmr_oracle())
def q_similarity_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: greedily select {MMR_K} results for
    query vector 0 balancing relevance against redundancy — step 1
    takes the most relevant vector (score = rel), each later step takes
    argmax of {MMR_L}*rel - {1-MMR_L}*max_cos_to_selected over the
    remainder (vec_id tiebreak) — the diversified-retrieval primitive
    RAG rerankers and eval-set samplers run after ANN recall. All
    cosines are the bit-identical sequential double folds of
    q_similarity_topk, and lambda arithmetic is the same IEEE
    expression on both engines, so the argmax frontier cannot diverge;
    the oracle unrolls the greedy loop as {MMR_K} CTE stages.

    Scale shape: the relevance table (one broadcast-query corpus pass)
    persists across rounds; each round joins the {MMR_K}-row selected
    set (broadcast) to compute the marginal penalty and takes a global
    TakeOrdered(1) — k passes over a corpus-sized frame, the honest
    cost of exact MMR (production systems run it on the ANN top-N,
    which is q_similarity_lsh composed in front of this)."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") > 0
    ).select("vec_id", to_double_array("embedding").alias("v"))
    e = e.select("vec_id", "v", norm2(F.col("v")).alias("nv"))
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    rel = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            (dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv")))
            .alias("rel"),
            "v",
            "nv",
        )
        .persist()
    )
    try:
        picked = mmr_select(rel, MMR_K)
    finally:
        rel.unpersist()
    return spark.createDataFrame(
        [(k, vid, float(s)) for k, vid, s in picked],
        "rank long, vec_id long, score double",
    ).select("rank", "vec_id", F.round("score", 6).alias("score"))


ADC_LEVELS = 255  # 8-bit codes (q_embed_quantize's scheme)
ADC_TOPK = 10


@register(
    "q_similarity_adc",
    oracle=f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE len(embedding) > 0
    ),
    m AS (
        SELECT vec_id, v, list_min(v) AS mn,
               CASE WHEN list_max(v) = list_min(v) THEN 1.0
                    ELSE list_max(v) - list_min(v) END AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, v, mn, scale,
               list_transform(
                   v, x -> CAST(round((x - mn) * {ADC_LEVELS} / scale)
                                AS BIGINT)) AS codes
        FROM m
    ),
    qry AS (SELECT vec_id AS query_id, v AS qv FROM v
            WHERE vec_id < {N_QUERY_VECS})
    SELECT query_id, neighbor_id, score FROM (
        SELECT y.query_id, x.vec_id AS neighbor_id,
               round(list_reduce(
                   list_transform(range(1, len(y.qv) + 1),
                       i -> y.qv[i] * (x.mn + x.codes[i] * x.scale
                                       / {ADC_LEVELS})),
                   (a, b) -> a + b), 6) AS score,
               row_number() OVER (
                   PARTITION BY y.query_id
                   ORDER BY list_reduce(
                       list_transform(range(1, len(y.qv) + 1),
                           i -> y.qv[i] * (x.mn + x.codes[i] * x.scale
                                           / {ADC_LEVELS})),
                       (a, b) -> a + b) DESC, x.vec_id) AS rn
        FROM qry y, q x
        WHERE x.vec_id <> y.query_id
    ) WHERE rn <= {ADC_TOPK}
    """,
)
def q_similarity_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation over 8-bit quantized vectors —
    the search side of q_embed_quantize's storage scheme and the inner
    loop of IVF-ADC indexes: the CORPUS lives as per-vector affine
    codes (4x smaller, the 100 TB memory trade), queries stay float,
    and each score is the dot of the float query with the
    code-reconstructed corpus vector. Top-{ADC_TOPK} per query with
    vec_id tiebreak.

    Engine-exactness: the q_embed_quantize rules — cast to double
    before arithmetic, identical IEEE expression trees, sequential
    left folds on both sides (F.aggregate 0.0-init == list_reduce) —
    make the scores bit-identical before the final round.

    Scale shape: the quantized corpus streams through ONE pass against
    the broadcast query set (same plan as q_similarity_topk, minus 4x
    the bytes); the reconstruction happens inside the score fold — the
    codes are never inflated to a float array in storage."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") > 0
    ).select("vec_id", to_double_array("embedding").alias("v"))
    m = e.select(
        "vec_id",
        "v",
        F.array_min("v").alias("mn"),
        F.when(
            F.array_max("v") == F.array_min("v"), F.lit(1.0)
        ).otherwise(F.array_max("v") - F.array_min("v")).alias("scale"),
    )
    q = m.select(
        "vec_id",
        "v",
        "mn",
        "scale",
        F.transform(
            "v",
            lambda x: F.round(
                (x - F.col("mn")) * ADC_LEVELS / F.col("scale")
            ).cast("long"),
        ).alias("codes"),
    )
    qry = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    recon_dot = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("codes"),
            lambda a, c: a
            * (F.col("mn") + c * F.col("scale") / ADC_LEVELS),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        q.join(F.broadcast(qry), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            recon_dot.alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("score"), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ADC_TOPK)
        .select(
            "query_id", "neighbor_id", F.round("score", 6).alias("score")
        )
    )


def _semdedup_oracle():
    """q_dedup_semantic's tail: the SemDeDup rule replayed in SQL —
    within-cluster pairs only, cos >= SEM_TAU, each dup keyed to its
    smallest qualifying earlier neighbor."""
    head = ivf_oracle_head("TRUE", k=None)
    return None if head is None else f"""{head},
    dup AS (
        SELECT a.vec_id, b.vec_id AS b_id,
               list_cosine_similarity(a.v, b.v) AS cos
        FROM assigned a JOIN assigned b
          ON b.cluster_id = a.cluster_id AND b.vec_id < a.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= {SEM_TAU}
    )
    SELECT vec_id, min(b_id) AS kept_by, arg_min(cos, b_id) AS cos
    FROM dup GROUP BY vec_id
    """


@register("q_dedup_semantic", oracle=_semdedup_oracle)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup at embedding level
    — k-means-cluster the corpus, then mark a vector as a duplicate iff
    some SAME-CLUSTER vector with a smaller id has cosine >= SEM_TAU;
    output (vec_id, kept_by, cos) for every dropped vector, kept_by =
    the smallest qualifying neighbor. The cluster restriction is the
    whole point: pairwise comparison runs within clusters only, never
    across the corpus — the paper's recipe for dedup at LAION scale.

    Scale shape: centroid training is a bounded driver-side sample
    (identical to q_similarity_ivf — k-means training is always a
    sample), assignment is an Arrow-vectorized narrow map, and the
    pairwise stage is ONE equi-join on cluster_id whose expansion is
    sum(cluster_size^2). k is NOT fixed: _sem_k scales it with the
    corpus count so cluster sizes stay ~SEM_CLUSTER_TARGET and the
    pair expansion stays LINEAR in n (the paper's configuration; the
    r7 10x-clone probe measured 42x wall at 10x data with a fixed k
    before this rule, ~linear after). Never an all-pairs cross join;
    skewed clusters split under AQE. At extreme corpus scale the
    O(n*k) flat assignment becomes the next cost — production IVF
    assigns hierarchically; the join shape is unchanged. Hash-checked
    end-to-end: both engines derive k from the same non-empty count,
    assignment replays the _seq_sqdist sequential fold, cos is the
    bit-identical aggregate fold of q_similarity_topk, and the
    >= SEM_TAU threshold therefore agrees bit-for-bit across engines."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") > 0
    ).select("vec_id", to_double_array("embedding").alias("v"))
    cents = centroids(e, _sem_k(e.count()))
    if cents is None:
        return spark.createDataFrame(
            [], "vec_id long, kept_by long, cos double"
        )

    # Persisted: BOTH sides of the within-cluster self-join read the
    # assignment, and the O(n*k) distance UDF is the dominant cost —
    # without the cache it runs twice (measured 2x wall at the 10x
    # clone). Same persist-without-unpersist pattern as q_dedup_near's
    # shingle table: the cache is corpus-bounded and session-LRU'd.
    listed = e.withColumn(
        "cluster_id", nearest_centroid(spark, cents)(F.col("v"))
    ).persist()
    a = listed.select("cluster_id", "vec_id", "v")
    b = listed.select(
        "cluster_id",
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
    )
    dup = (
        a.join(b, "cluster_id")
        .filter(F.col("b_id") < F.col("vec_id"))
        .select(
            "vec_id", "b_id", cosine(F.col("v"), F.col("bv")).alias("cos")
        )
        .filter(F.col("cos") >= SEM_TAU)
    )
    from ..caching import materialize_unpersist

    return materialize_unpersist(
        dup.groupBy("vec_id").agg(
            F.min("b_id").alias("kept_by"),
            F.min_by("cos", "b_id").alias("cos"),
        ),
        listed,
    )


def _embed_ingest_oracle():
    """q_dedup_embed_ingest's tail: centroids train on the CORPUS side
    only (vec_id % 10 != 0), k from the corpus count, then the batch x
    corpus within-cluster rule in SQL."""
    head = ivf_oracle_head("vec_id % 10 <> 0", k=None)
    return None if head is None else f"""{head},
    batch AS (SELECT * FROM assigned WHERE vec_id % 10 = 0),
    corpus AS (SELECT * FROM assigned WHERE vec_id % 10 <> 0),
    dup AS (
        SELECT b.vec_id, o.vec_id AS dup_of,
               list_cosine_similarity(b.v, o.v) AS cos
        FROM batch b JOIN corpus o ON o.cluster_id = b.cluster_id
        WHERE list_cosine_similarity(b.v, o.v) >= {SEM_TAU}
    )
    SELECT vec_id, min(dup_of) AS dup_of, arg_min(cos, dup_of) AS cos
    FROM dup GROUP BY vec_id
    """


@register("q_dedup_embed_ingest", oracle=_embed_ingest_oracle)
def q_dedup_embed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic-dedup INGEST — the batch-vs-corpus twin of
    q_dedup_semantic (and the embedding twin of q_dedup_incremental's
    text pipeline): an arriving batch (vec_id % 10 == 0, an
    interleaved 10% slice standing in for the day's crawl) is checked
    against the EXISTING corpus only; a new vector is a duplicate iff
    some same-cluster corpus vector has cosine >= SEM_TAU. Output
    (vec_id, dup_of, cos), dup_of = the smallest qualifying corpus id.

    Scale shape: centroids and k come from the CORPUS side alone
    (training must not see the batch, or yesterday's assignments
    would shift); per-ingest work is batch-assignment (narrow Arrow
    map) + ONE batch x corpus equi-join on cluster_id — work scales
    with the BATCH, the corpus side streams from its stored
    cluster-keyed layout, and batch-side broadcast applies when the
    batch is small (AQE decides). No batch x batch comparison: intra-
    batch dups fall out of the next day's run by the corpus growing —
    or compose with q_dedup_semantic over the batch alone."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") > 0
    ).select("vec_id", to_double_array("embedding").alias("v"))
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    batch = e.filter(F.col("vec_id") % 10 == 0)
    cents = centroids(corpus, _sem_k(corpus.count()))
    if cents is None:
        return spark.createDataFrame(
            [], "vec_id long, dup_of long, cos double"
        )
    nearest = nearest_centroid(spark, cents)
    b = batch.select(nearest(F.col("v")).alias("cluster_id"), "vec_id", "v")
    o = corpus.select(
        nearest(F.col("v")).alias("cluster_id"),
        F.col("vec_id").alias("dup_of"),
        F.col("v").alias("ov"),
    )
    dup = (
        b.join(o, "cluster_id")
        .select(
            "vec_id", "dup_of", cosine(F.col("v"), F.col("ov")).alias("cos")
        )
        .filter(F.col("cos") >= SEM_TAU)
    )
    return dup.groupBy("vec_id").agg(
        F.min("dup_of").alias("dup_of"),
        F.min_by("cos", "dup_of").alias("cos"),
    )
