"""Corpus-frequency boilerplate removal over `documents` (SURVEY.md
§2.C, LLM-pipeline text cleaning).

Distinct from q_dedup_lines (first-occurrence line dedup, which KEEPS
one copy of every repeated line): the boilerplate rule removes EVERY
occurrence of any line that appears in >= BOILER_MIN distinct
documents — the C4/RefinedWeb cleaning step for navigation chrome,
cookie banners and license footers, which by definition repeat across
many pages and should survive in zero of them. Reference parity: the
reference engine (/root/reference) has no text-cleaning surface; this
is a north-star LLM-pipeline operator mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .dedup import WORDS_SQL, portable_hash60, words

BOILER_W = 10  # words per "line" (corpus has no newlines; same
#                granularity as q_dedup_lines' LINE_W)
BOILER_MIN = 2  # a chunk seen in >= this many DISTINCT docs is
#                boilerplate and is removed everywhere


@register(
    "q_text_boilerplate",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {WORDS_SQL} AS ws FROM documents
    ),
    ex AS (
        SELECT doc_id, ws,
               unnest(range(CAST(ceil(len(ws) / {BOILER_W}.0) AS INTEGER)))
                   AS pos
        FROM w WHERE len(ws) > 0
    ),
    ch AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               CAST('0x' || substr(md5(array_to_string(
                   ws[pos * {BOILER_W} + 1 : pos * {BOILER_W} + {BOILER_W}],
                   ' ')), 1, 15) AS BIGINT) AS h
        FROM ex
    ),
    census AS (
        SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY h
    ),
    kept AS (
        SELECT doc_id, pos FROM ch JOIN census USING (h)
        WHERE nd < {BOILER_MIN}
    ),
    reassembled AS (
        SELECT k.doc_id,
               count(*) AS n_kept,
               string_agg(array_to_string(
                   w.ws[k.pos * {BOILER_W} + 1
                        : k.pos * {BOILER_W} + {BOILER_W}], ' '),
                   ' ' ORDER BY k.pos) AS clean_text
        FROM kept k JOIN w USING (doc_id)
        GROUP BY k.doc_id
    )
    SELECT r.doc_id, t.n_chunks, r.n_kept, r.clean_text
    FROM reassembled r
    JOIN (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id) t
      USING (doc_id)
    """,
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove every line whose corpus-wide distinct-document frequency
    is >= BOILER_MIN, then rebuild each document from its surviving
    lines (docs that were pure boilerplate vanish). Returns (doc_id,
    n_chunks, n_kept, clean_text).

    Scale shape (mirrors q_dedup_lines' r6 design): chunk TEXT never
    shuffles — each chunk is reduced to portable_hash60 in a narrow
    projection, so the census groupBy moves (doc_id omitted after the
    partial) ~8 bytes/row with map-side combine. The boilerplate-hash
    set (census rows with nd >= BOILER_MIN) is the FREQUENT-chunk set,
    which is small by nature (boilerplate is few distinct lines
    repeated many times); it is left unhinted so AQE broadcasts it
    when small and falls back to a hash-only shuffle anti-join when
    not (same call as dedup.py's block-size table). Reassembly
    re-derives chunk text from each doc's word array in ONE doc-keyed
    join — document text crosses the wire once. A 60-bit md5 collision
    merges two chunks' census counts identically on both engines (the
    oracle replays the same key)."""
    return boilerplate_filter(
        load_table(spark, sf_dir, "documents"), BOILER_W, BOILER_MIN
    )


def boilerplate_filter(
    d: DataFrame, line_w: int, min_docs: int
) -> DataFrame:
    """Boilerplate-removal kernel over a (doc_id, text) frame: drop all
    occurrences of any `line_w`-word chunk present in >= `min_docs`
    distinct documents; reassemble (doc_id, n_chunks, n_kept,
    clean_text). Pinned against a pure-Python model in
    tests/test_properties.py."""
    st = d.select("doc_id", words("text").alias("w")).filter(
        F.size("w") > 0
    )
    nch = F.ceil(F.size("w") / F.lit(float(line_w))).cast("int")
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
    boiler = (
        chh.groupBy("chunk_h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("chunk_h")
    )
    kept = chh.join(boiler, "chunk_h", "left_anti")
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
