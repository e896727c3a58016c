"""Incremental inverted-index maintenance with live BM25 serving —
the retrieval-stack member of the streaming-maintenance family
(Bloom/CMS/HLL/quantile twins in bloom_queries / cms_queries /
sketch_stream_queries). The reference engine's premise is incremental
state maintenance over a micro-batched ingest
(`AbstractPrometheusFirehose.java:41-51`,
`AbstractFirehose.java:107-131`); this is its search-index analogue,
and the shape every real 100 TB retrieval system has: the index is
built AT ingest (per-epoch posting deltas appended to state — postings
merge by plain union, the structure is mergeable by construction) and
QUERIES are served from the maintained state between batches, never by
rescanning history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import register
from . import stream_runtime
from .dedup import WORDS_SQL, words
from .ir_queries import _terms_in, BM25_B, BM25_K1, BM25_QUERY
from .similarity_queries import (
    IVF_PROBES_SQL,
    TOP_K,
    centroids,
    ivf_oracle_head,
    nearest_centroid,
    probe_lists,
)
from .sketch_stream_queries import drift_fold
from .state_dir import Bucketed, Relation, bucket_of
from .stream_runtime import SK_BATCHES, Overlap, replay_epochs

IX_TOP = 5  # served results per epoch (per-prefix BM25 top-k)


@register(
    "q_index_stream",
    oracle=f"""
    WITH all_b AS (SELECT unnest(range({SK_BATCHES})) AS batch_id),
    docs AS (
        SELECT doc_id % {SK_BATCHES} AS b_id, doc_id,
               {WORDS_SQL} AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    pre AS (
        SELECT a.batch_id, d.doc_id, d.toks
        FROM all_b a JOIN docs d ON d.b_id <= a.batch_id
    ),
    dl AS (
        SELECT batch_id, doc_id, CAST(len(toks) AS DOUBLE) AS dl
        FROM pre
    ),
    stats AS (
        SELECT batch_id, CAST(count(*) AS DOUBLE) AS n_docs,
               avg(dl) AS avgdl
        FROM dl GROUP BY batch_id
    ),
    tf AS (
        SELECT batch_id, doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT batch_id, doc_id, unnest(toks) AS term FROM pre)
        WHERE term IN ({_terms_in(BM25_QUERY)})
        GROUP BY batch_id, doc_id, term
    ),
    df AS (
        SELECT batch_id, term, CAST(count(*) AS DOUBLE) AS df
        FROM tf GROUP BY batch_id, term
    ),
    scored AS (
        SELECT tf.batch_id, tf.doc_id,
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1}
                  * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
               AS s
        FROM tf
        JOIN df ON df.batch_id = tf.batch_id AND df.term = tf.term
        JOIN dl ON dl.batch_id = tf.batch_id AND dl.doc_id = tf.doc_id
        JOIN stats ON stats.batch_id = tf.batch_id
    ),
    totals AS (
        SELECT batch_id, doc_id, round(sum(s), 6) AS bm25
        FROM scored GROUP BY batch_id, doc_id
    ),
    ranked AS (
        SELECT batch_id, doc_id, bm25,
               row_number() OVER (
                   PARTITION BY batch_id ORDER BY bm25 DESC, doc_id
               ) AS rank
        FROM totals
    )
    SELECT CAST(batch_id AS BIGINT) AS batch_id,
           CAST(rank AS BIGINT) AS rank, doc_id, bm25
    FROM ranked WHERE rank <= {IX_TOP}
    """,
)
def q_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance with live BM25 serving:
    documents arrive as SK_BATCHES micro-batches (doc_id %
    SK_BATCHES file-stream twin of a Kafka ingest); each foreachBatch
    epoch tokenizes ITS batch only and appends its posting deltas
    (term, doc_id, tf) and doc lengths to persistent index state
    (postings merge by plain union — the inverted index is mergeable
    by construction), then SERVES the fixed BM25_QUERY from the
    maintained state, returning the top-IX_TOP results over everything
    ingested so far. Returns (batch_id, rank, doc_id, bm25) — the
    search results as the corpus grows.

    Hash-checked law: because posting union is associative and
    commutative, each epoch's served ranking is a pure function of the
    ingested PREFIX (the oracle replays BM25 over each doc_id-residue
    prefix), independent of row interleaving inside epochs. Score
    determinism is q_text_bm25's proven recipe verbatim: ln of
    quotients of exact counts, integer-valued doc lengths (sums exact
    in double), round(.,6) before ranking, ties on doc_id.

    Scale shape: per-epoch maintenance cost is ONE batch scan +
    tokenize (the index build, paid as you ingest — history is never
    re-tokenized); corpus stats (n_docs, sum_dl) are maintained as a
    ONE-ROW running state updated from the batch aggregate and
    rename-swapped per epoch (re-aggregating the full doc-length
    relation every epoch would be O(corpus) maintenance where this is
    O(batch)+O(1)), and each posting row
    carries its doc's length, so the serve path reads the postings
    state filtered to the query terms. Since r13 the postings relation
    IS term-bucketed (pb = hash(term) % ROOT_PB partitions, the
    dedup-index layout): the serve scan prunes to the query terms'
    buckets — computed ONCE per run from the constant BM25_QUERY, so
    unlike the dedup probes this pruning costs no per-epoch job — so
    per-epoch serve read bytes scale with the query terms' buckets,
    never the posting corpus. The scan then joins the tiny df aggregate
    and the one-row stats, and TakeOrdereds IX_TOP rows — no doc-length
    join against a corpus-sized relation anywhere. avgdl = sum_dl/n_docs
    is bit-identical to the oracle's avg(dl): integer-valued lengths sum
    exactly in int64/double and the final division is the same IEEE op.
    The corpus-sized text never enters the serve path."""
    from pyspark.sql import types as T

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    log: list[tuple[int, int, int, float]] = []
    with stream_runtime.state_root("index_stream_") as root:
        postings = Bucketed(
            os.path.join(root, "postings"),
            "doc_id bigint, term string, dl double, tf double, pb int",
        )
        stats = Relation(
            os.path.join(root, "stats"), "n_docs bigint, sum_dl bigint"
        )
        # The serve predicate's term buckets — BM25_QUERY is a run
        # constant, so ONE tiny job resolves the partition list for
        # every epoch's pruned read.
        qpbs = sorted(
            r["pb"]
            for r in spark.createDataFrame(
                [(t,) for t in BM25_QUERY], "term string"
            )
            .select(bucket_of(F.col("term")).alias("pb"))
            .distinct()
            .collect()
        )

        def per_batch(batch_df: DataFrame, b: int) -> None:
            s = batch_df.sparkSession
            toks = batch_df.select(
                "doc_id", words("text").alias("toks")
            )
            # Posting rows carry their doc's length (dl is functionally
            # dependent on doc_id, so grouping by it is free) — the
            # serve path then never joins a corpus-sized doc-length
            # relation.
            def _append_postings() -> None:
                postings.append(
                    toks.select(
                        "doc_id",
                        F.explode("toks").alias("term"),
                        F.size("toks").cast("double").alias("dl"),
                    )
                    .groupBy("doc_id", "term", "dl")
                    .agg(F.count("*").cast("double").alias("tf"))
                    .withColumn("pb", bucket_of(F.col("term")))
                )

            # Running (n_docs, sum_dl): O(batch) aggregate + O(1) merge
            # into the one-row stats state, instead of re-aggregating
            # the full doc-length relation every epoch.
            def _merge_stats() -> None:
                batch_stats = toks.agg(
                    F.count("*").alias("n_docs"),
                    F.coalesce(
                        F.sum(F.size("toks").cast("long")), F.lit(0)
                    ).alias("sum_dl"),
                )
                stats.replace(
                    stats.read(s)
                    .unionByName(batch_stats)
                    .agg(
                        F.sum("n_docs").alias("n_docs"),
                        F.sum("sum_dl").alias("sum_dl"),
                    )
                )

            # Join point: the postings append and the stats merge write
            # disjoint state paths and read only the micro-batch, so
            # they overlap each other; the serve read depends on both
            # (its prefix-inclusive listing must see this epoch's
            # posting files, its scoring the merged stats).
            with Overlap() as jobs:
                jobs.submit(_append_postings)
                jobs.submit(_merge_stats)

            corpus = stats.read(s).select(
                F.col("n_docs").cast("double").alias("n_docs"),
                (
                    F.col("sum_dl").cast("double")
                    / F.col("n_docs").cast("double")
                ).alias("avgdl"),
            )
            # Touched-dirs plan: the serve read is planned over only
            # the query terms' bucket DIRECTORIES, so the per-epoch
            # file listing — not just the scan — scales with the
            # query's buckets, never the posting corpus.
            tf = postings.scan(s, qpbs).filter(
                F.col("term").isin(*BM25_QUERY)
            )
            df_ = tf.groupBy("term").agg(
                F.count("*").cast("double").alias("df")
            )
            scored = (
                tf.join(F.broadcast(df_), "term")
                .crossJoin(F.broadcast(corpus))
                .select(
                    "doc_id",
                    (
                        F.log(
                            (F.col("n_docs") - F.col("df") + 0.5)
                            / (F.col("df") + 0.5)
                            + 1
                        )
                        * F.col("tf")
                        * (BM25_K1 + 1)
                        / (
                            F.col("tf")
                            + BM25_K1
                            * (
                                1
                                - BM25_B
                                + BM25_B * F.col("dl") / F.col("avgdl")
                            )
                        )
                    ).alias("s"),
                )
            )
            top = (
                scored.groupBy("doc_id")
                .agg(F.round(F.sum("s"), 6).alias("bm25"))
                .orderBy(F.col("bm25").desc(), "doc_id")
                .limit(IX_TOP)
                .collect()
            )
            for i, r in enumerate(
                sorted(top, key=lambda r: (-r["bm25"], r["doc_id"]))
            ):
                log.append((b, i + 1, r["doc_id"], r["bm25"]))

        replay_epochs(d, "doc_id", root, per_batch)
    schema = T.StructType(
        [
            T.StructField("batch_id", T.LongType()),
            T.StructField("rank", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("bm25", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(log, schema)


def _ann_stream_oracle():
    """q_ann_index_stream's tail — the q_similarity_ivf oracle applied
    per ingest prefix: centroids from the FIRST batch, and each
    batch_id's serving ranked over the vec_id-residue prefix."""
    head = ivf_oracle_head(f"vec_id % {SK_BATCHES} = 0")
    return None if head is None else f"""{head},{IVF_PROBES_SQL},
    all_b AS (SELECT unnest(range({SK_BATCHES})) AS batch_id),
    hits AS (
        SELECT ab.batch_id, p.query_id, a.vec_id AS neighbor_id,
               list_cosine_similarity(p.qv, a.v) AS cos,
               row_number() OVER (
                   PARTITION BY ab.batch_id, p.query_id
                   ORDER BY list_cosine_similarity(p.qv, a.v) DESC,
                            a.vec_id) AS rn
        FROM all_b ab
        JOIN assigned a ON a.vec_id % {SK_BATCHES} <= ab.batch_id
        JOIN probes p ON a.cluster_id = p.cluster_id
                     AND a.vec_id <> p.query_id
    )
    SELECT CAST(batch_id AS BIGINT) AS batch_id, query_id,
           neighbor_id, cos
    FROM hits WHERE rn <= {TOP_K}
    """


@register("q_ann_index_stream", oracle=_ann_stream_oracle)
def q_ann_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF vector-index maintenance with live ANN serving —
    the vector twin of q_index_stream, completing the streaming-
    maintenance family across sketches, lexical index and vector
    index: centroids train ONCE on the first ingested batch's leading
    IVF_SAMPLE vectors (IVF training is always a sample — at
    ingest time that sample is the first shard), then each foreachBatch
    epoch assigns ITS batch to inverted lists (Arrow-vectorized
    sequential-fold distances, the q_similarity_ivf kernel) and appends
    the (cluster_id, vec_id, v) postings to index state; a fixed
    external query workload (vec_id < N_QUERY_VECS with their NPROBE
    probe lists) is served from the maintained state after every epoch.
    Returns (batch_id, query_id, neighbor_id, cos) — each query's
    TOP_K over everything ingested so far.

    Hash-checked law: list membership is a deterministic function of
    the trained centroids and posting union is associative/commutative,
    so each epoch's serving is a pure function of the ingested PREFIX
    (the oracle replays assignment + ranking per vec_id-residue prefix
    with repr-exact centroid literals). Cosines use the bit-identical
    sequential fold; ranking ties break on neighbor_id.

    Scale shape: training is a bounded first-shard sample (driver-side
    by definition); per-epoch maintenance is one batch scan + a narrow
    Arrow assignment map + an append; the serve path joins the
    broadcast probe set to the postings state on cluster_id (at 100 TB
    the state is list-partitioned so a query touches NPROBE lists) and
    TakeOrdereds TOP_K per query. History is never re-assigned."""
    from pyspark.sql import types as T

    from ..functions.vector import cosine, to_double_array

    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.size("embedding") > 0)
        .select("vec_id", to_double_array("embedding").alias("v"))
    )
    cents = centroids(e.filter(F.col("vec_id") % SK_BATCHES == 0))
    if cents is None:
        return spark.createDataFrame(
            [], "batch_id long, query_id long, neighbor_id long, cos double"
        )
    nearest = nearest_centroid(spark, cents)
    # Fixed external query workload: probe lists from centroids only
    # (no prefix dependence).
    probes = probe_lists(spark, e, cents)

    log: list[tuple[int, int, int, float]] = []
    with stream_runtime.state_root("ann_index_stream_") as root:
        postings = Relation(
            os.path.join(root, "postings"),
            "vec_id bigint, v array<double>, cluster_id int",
        )

        def per_batch(batch_df: DataFrame, b: int) -> None:
            s = batch_df.sparkSession
            postings.append(
                batch_df.withColumn("cluster_id", nearest(F.col("v")))
            )
            listed = postings.read(s)
            scored = (
                listed.join(F.broadcast(probes), "cluster_id")
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
            top = (
                scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= TOP_K)
                .select("query_id", "neighbor_id", "cos")
                .collect()
            )
            for r in sorted(
                top, key=lambda r: (r["query_id"], -r["cos"], r["neighbor_id"])
            ):
                log.append((b, r["query_id"], r["neighbor_id"], r["cos"]))

        replay_epochs(e, "vec_id", root, per_batch)
    schema = T.StructType(
        [
            T.StructField("batch_id", T.LongType()),
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(log, schema)


def _embed_drift_oracle():
    """q_drift_embed_stream's tail: first-shard centroids (the
    q_ann_index_stream bootstrap), then the per-epoch cluster-occupancy
    census and the total-variation distance of each later epoch's
    occupancy distribution against its strictly-earlier prefix's."""
    head = ivf_oracle_head(f"vec_id % {SK_BATCHES} = 0")
    return None if head is None else f"""{head},
    census AS (
        SELECT vec_id % {SK_BATCHES} AS b, cluster_id, count(*) AS c
        FROM assigned GROUP BY 1, 2
    ),
    later AS (SELECT DISTINCT b FROM census WHERE b > 0),
    pref AS (
        SELECT l.b, c.cluster_id, sum(c.c) AS c
        FROM later l JOIN census c ON c.b < l.b
        GROUP BY 1, 2
    ),
    nb AS (SELECT b, sum(c) AS n FROM census GROUP BY b),
    np AS (SELECT b, sum(c) AS n FROM pref GROUP BY b),
    joined AS (
        SELECT coalesce(ba.b, pr.b) AS b,
               coalesce(ba.c, 0) AS cb, coalesce(pr.c, 0) AS cp
        FROM (SELECT * FROM census WHERE b > 0) ba
        FULL OUTER JOIN pref pr
          ON ba.b = pr.b AND ba.cluster_id = pr.cluster_id
    )
    SELECT CAST(j.b AS BIGINT) AS batch_id,
           CAST(nb.n AS BIGINT) AS n_arrived,
           round(0.5 * sum(abs(CAST(j.cb AS DOUBLE) / nb.n
                               - CAST(j.cp AS DOUBLE) / np.n)), 6)
               AS tv_drift
    FROM joined j JOIN nb ON nb.b = j.b JOIN np ON np.b = j.b
    GROUP BY j.b, nb.n, np.n
    """


@register("q_drift_embed_stream", oracle=_embed_drift_oracle)
def q_drift_embed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitoring at ingest — the VECTOR twin of
    q_drift_stream, completing monitoring across both modalities the
    way q_dedup_semantic_stream completes dedup: each foreachBatch
    epoch assigns ITS batch of embeddings to the fixed k-means
    centroids (first-shard bootstrap, the q_ann_index_stream recipe —
    a drift monitor MUST hold its reference frame fixed, which is
    exactly what the frozen coarse quantizer is), computes the
    total-variation distance between the batch's cluster-occupancy
    distribution and the strictly-earlier prefix's, and merges its
    occupancy census into the state. Returns (batch_id, n_arrived,
    tv_drift) per epoch with a prior prefix — an embedding source
    going off-distribution (new language, new modality, encoder
    regression) shows up as occupancy mass moving between lists even
    when text-level stats look flat.

    Hash-checked law: assignment is a deterministic function of the
    repr-exact centroid literals (bit-identical sequential fold),
    occupancy census is exact integer counting, merge is associative
    addition — each epoch's tv is a pure function of the batch
    partition, replayed by the oracle's prefix-cumulative census; the
    one float division and 6-dp-rounded sum agree cross-engine.

    Scale shape: per-epoch work is one batch scan + a narrow Arrow
    assignment map + a K-bounded census and merge; stored state is
    COMPACTED per epoch to <= K rows (the q_quantile_stream pattern).
    The monitor's cost is the assignment the ingest already pays
    (q_ann_index_stream maintains its lists from the same map);
    occupancy state never scales with the corpus."""
    from pyspark.sql import types as T

    from ..functions.vector import to_double_array

    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.size("embedding") > 0)
        .select("vec_id", to_double_array("embedding").alias("v"))
    )
    schema = T.StructType(
        [
            T.StructField("batch_id", T.LongType()),
            T.StructField("n_arrived", T.LongType()),
            T.StructField("tv_drift", T.DoubleType()),
        ]
    )
    cents = centroids(e.filter(F.col("vec_id") % SK_BATCHES == 0))
    if cents is None:
        return spark.createDataFrame([], schema)
    nearest = nearest_centroid(spark, cents)

    log: list[tuple[int, int, float]] = []
    with stream_runtime.state_root("embed_drift_stream_") as root:
        state = Relation(
            os.path.join(root, "state"), "cluster_id int, cnt bigint"
        )

        def per_batch(batch_df: DataFrame, b: int) -> None:
            census = (
                batch_df.select(
                    nearest(F.col("v")).alias("cluster_id")
                )
                .groupBy("cluster_id")
                .agg(F.count("*").alias("cb"))
                .localCheckpoint(eager=True)
            )
            tv = drift_fold(census, "cluster_id", state, b)
            if tv is not None:
                log.append((b, *tv))

        replay_epochs(e, "vec_id", root, per_batch)
    return spark.createDataFrame(log, schema)
