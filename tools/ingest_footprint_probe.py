#!/usr/bin/env python
"""Diverse-corpus ingest footprint probe (r13): measure the r13
bucket-pruned state probes at their DESIGN POINT — a large accumulated
content-DIVERSE index state probed by a SMALL incremental batch — which
the 100x-clone probe structurally cannot reach (clones are duplicates,
so the contracted index state stays content-bounded and under the
adaptive prune gate, and each SK_BATCHES=4 epoch is 25% of the corpus,
touching every bucket).

What it does, using the REAL shared kernel (`_index_epoch`,
dedup_stream_queries.py) over its real five-relation state layout:

1. Builds a content-diverse corpus: --copies disjoint copies of the
   sf0.1 documents table with EVERY WORD suffixed per copy
   (regexp_replace '(\\S+)' -> '\\1_k<k>'), so copies share no shingles
   — zero cross-copy similarity, classes == docs (the corpus-linear
   state shape the r12 verdict named as the pruning motivation).
2. Bulk-ingests it as epoch 0 (the accumulated state).
3. Ingests a small tail batch as epoch 1: --tail new diverse docs
   (copy k=copies) plus --near one-token-appended variants of epoch-0
   docs (new cfp, near-duplicate content — so the candidate/verify path
   and its shingle-state probe are non-vacuous).
4. Runs epoch 1 TWICE on independent copies of the epoch-0 state:
   leg A with the prune gate forced OPEN (PRUNE_MIN_STATE_BYTES=0,
   every probe bucket-pruned) and leg B forced SHUT (full scans —
   the pre-r13 plan). Same kernel, same state, same batch; the legs
   differ only in scan pruning. Reports per-relation
   (touched, total) read bytes, touched-bucket counts, epoch walls,
   and asserts the two legs' verified pair sets are IDENTICAL (the
   pruning-is-a-pure-plan-choice law, re-pinned on this shape).

ROOT_PB is raised (default 2048 here vs the demo 32) via the state_dir
module attribute — the deploy-time sizing rule the constant's comment states:
buckets >> a typical epoch's key footprint. State lives in per-probe
temp roots, so the override never touches any registered query's state.

Usage:
  python tools/ingest_footprint_probe.py [--copies=50] [--tail=128]
      [--near=16] [--root-pb=2048]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from urllib.parse import unquote, urlparse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from confluent_example_firehose_spark.operators import (  # noqa: E402
    dedup_stream_queries as dsq,
    state_dir as sd,
)
from confluent_example_firehose_spark.operators.stream_runtime import (  # noqa: E402
    Overlap,
)
from confluent_example_firehose_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1/documents.parquet"

COPIES = 50
TAIL = 128
NEAR = 16
ROOT_PB = 2048
TAIL_EPOCHS = 0
COMPACT_FILES = 4
for _a in list(sys.argv[1:]):
    if _a.startswith("--copies="):
        COPIES = int(_a.split("=", 1)[1])
    elif _a.startswith("--tail="):
        TAIL = int(_a.split("=", 1)[1])
    elif _a.startswith("--near="):
        NEAR = int(_a.split("=", 1)[1])
    elif _a.startswith("--root-pb="):
        ROOT_PB = int(_a.split("=", 1)[1])
    elif _a.startswith("--tail-epochs="):
        # After the A/B legs, keep ingesting this many further small
        # epochs on the pruned state — the steady-state series: state
        # grows, per-epoch touched bytes and wall should stay
        # batch-sized, and Bucketed.compact (threshold forced to
        # --compact-files) must hold per-bucket file counts flat.
        TAIL_EPOCHS = int(_a.split("=", 1)[1])
    elif _a.startswith("--compact-files="):
        COMPACT_FILES = int(_a.split("=", 1)[1])
    else:
        sys.exit(f"unknown arg {_a!r}")


def build_corpus(root: str) -> tuple[str, str]:
    """Write bulk.parquet (epoch 0: COPIES diverse copies) and
    tail.parquet (epoch 1: TAIL new diverse docs + NEAR near-dup
    variants of epoch-0 docs). Diversity = per-copy word suffix, so
    no bigram shingle survives across copies."""
    bulk = os.path.join(root, "bulk.parquet")
    tail = os.path.join(root, "tail.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT doc_id, text FROM '{BASE}' "
        "WHERE text IS NOT NULL"
    )
    diverse = "\nUNION ALL\n".join(
        "SELECT CAST(doc_id AS BIGINT) + {k} * 10000000::BIGINT AS doc_id, "
        "regexp_replace(text, '(\\S+)', '\\1_k{k}', 'g') AS text "
        "FROM t".format(k=k)
        for k in range(COPIES)
    )
    con.execute(f"COPY ({diverse}) TO '{bulk}' (FORMAT PARQUET)")
    # Tail: TAIL genuinely new contents (copy COPIES) + NEAR near-dup
    # variants (epoch-0 copy-0 text with one token appended -> new cfp,
    # high Jaccard to its base).
    con.execute(
        f"""
        COPY (
          SELECT CAST(doc_id AS BIGINT) + {COPIES} * 10000000::BIGINT
                     AS doc_id,
                 regexp_replace(text, '(\\S+)', '\\1_k{COPIES}', 'g')
                     AS text
          FROM (SELECT * FROM t ORDER BY doc_id LIMIT {TAIL})
          UNION ALL
          SELECT CAST(doc_id AS BIGINT) + {COPIES + 1} * 10000000::BIGINT
                     AS doc_id,
                 regexp_replace(text, '(\\S+)', '\\1_k0', 'g')
                     || ' probetoken' AS text
          FROM (SELECT * FROM t ORDER BY doc_id LIMIT {NEAR})
        ) TO '{tail}' (FORMAT PARQUET)
        """
    )
    con.close()
    return bulk, tail


def shingleable(df):
    from confluent_example_firehose_spark.operators.dedup import words

    return df.filter(F.size(words("text")) >= 3).select(
        "doc_id", "text", F.md5("text").alias("cfp")
    )


def record_state_io() -> tuple[list, list]:
    """Wrap the state scans and compactions for the probe: each scan of
    a relation with data appends (relation, touched, total) bytes to
    the first list — touched from the returned frame's input files, a
    driver-side listing that runs no job; total from the relation's
    current files — and each compaction its written bytes to the
    second."""
    reads: list[tuple[str, int, int]] = []
    compacted: list[int] = []
    scan, compact = sd.Bucketed.scan, sd.Bucketed.compact

    def scan_recorded(self, s, buckets, b=None):
        df = scan(self, s, buckets, b)
        d = self._data_dir()
        if d is not None:
            touched = sum(
                os.path.getsize(unquote(urlparse(f).path))
                for f in df.inputFiles()
            )
            name = os.path.basename(self.path)
            reads.append((name, touched, sd.dir_bytes(d)))
        return df

    def compact_recorded(self, *args, **kwargs):
        compacted.append(compact(self, *args, **kwargs))
        return compacted[-1]

    sd.Bucketed.scan = scan_recorded
    sd.Bucketed.compact = compact_recorded
    return reads, compacted


def run_epoch(s, b: int, flt, ip: dict) -> float:
    t0 = time.monotonic()
    with Overlap() as jobs:
        members_b, new_cls, cp_new, extra, _pbs = dsq._index_epoch(
            s, b, flt, ip, jobs
        )
    wall = time.monotonic() - t0
    for c in (members_b, *extra):
        c.unpersist()
    return wall


def main() -> None:
    sd.ROOT_PB = ROOT_PB
    reads, compacted = record_state_io()
    spark = get_spark("ingest-footprint-probe")
    root = tempfile.mkdtemp(prefix="footprint_probe_")
    try:
        bulk_p, tail_p = build_corpus(root)
        bulk = shingleable(spark.read.parquet(bulk_p))
        tail = shingleable(spark.read.parquet(tail_p))
        n_bulk, n_tail = bulk.count(), tail.count()
        print(
            f"corpus: {n_bulk} diverse docs in state, "
            f"{n_tail} tail arrivals ({NEAR} near-dup variants), "
            f"ROOT_PB={ROOT_PB}"
        )

        # Epoch 0: bulk load the accumulated state once, then copy it
        # per leg so both legs probe IDENTICAL state.
        state0 = os.path.join(root, "state0")
        os.makedirs(state0)
        sd.PRUNE_MIN_STATE_BYTES = 0
        ip0 = dsq._index_paths(state0)
        t_bulk = run_epoch(spark, 0, bulk, ip0)
        rel_bytes = {r: sd.dir_bytes(rel.path) for r, rel in ip0.items()}
        print(f"epoch-0 bulk load: {t_bulk:.1f} s; state bytes: " + ", ".join(
            f"{r}={v / 1e6:.1f}MB" for r, v in rel_bytes.items()
        ))

        legs = {}
        for leg, gate in (("pruned", 0), ("full", 1 << 60)):
            st = os.path.join(root, f"state_{leg}")
            shutil.copytree(state0, st)
            ip = dsq._index_paths(st)
            sd.PRUNE_MIN_STATE_BYTES = gate
            reads.clear()
            wall = run_epoch(spark, 1, tail, ip)
            pairs = sorted(
                (r["cfp"], r["other"], r["jac"])
                for r in ip["class_pairs"]
                .read(spark)
                .filter(F.col("b_id") == 1)
                .collect()
            )
            legs[leg] = (wall, list(reads), pairs)
            spark.catalog.clearCache()

        assert legs["pruned"][2] == legs["full"][2], (
            "pruned and full-scan epoch emitted DIFFERENT verified "
            "pair sets — pruning is supposed to be a pure plan choice"
        )
        n_pairs = len(legs["pruned"][2])
        print(
            f"\nepoch-1 verified class pairs identical across legs: "
            f"{n_pairs} rows (orientation-doubled)"
        )
        print("\n| relation | pruned read MB | full read MB | saved |")
        print("|---|---|---|---|")
        for rel in ("classes", "bands", "shingles"):
            pt = sum(t for r, t, _ in legs["pruned"][1] if r == rel)
            ft = sum(t for r, t, _ in legs["full"][1] if r == rel)
            tot = sum(t2 for r, _, t2 in legs["full"][1] if r == rel)
            saved = (1 - pt / ft) if ft else 0.0
            print(
                f"| {rel} | {pt / 1e6:.2f} | {ft / 1e6:.2f} "
                f"| {saved:.0%} (total {tot / 1e6:.1f} MB) |"
            )
        print(
            f"\nepoch-1 wall: pruned {legs['pruned'][0]:.2f} s, "
            f"full-scan {legs['full'][0]:.2f} s"
        )

        if TAIL_EPOCHS:
            # Steady-state series on the pruned leg's state: each
            # further epoch ingests TAIL brand-new diverse docs.
            # Per-epoch touched bytes and wall must stay batch-sized
            # while total state grows; the forced compaction
            # threshold must hold per-bucket file counts flat.
            import duckdb

            st = os.path.join(root, "state_pruned")
            ip = dsq._index_paths(st)
            sd.PRUNE_MIN_STATE_BYTES = 0
            sd.INDEX_COMPACT_FILES = COMPACT_FILES
            con = duckdb.connect()
            con.execute(
                f"CREATE VIEW t AS SELECT doc_id, text FROM '{BASE}' "
                "WHERE text IS NOT NULL"
            )

            def max_files(rel):
                path = ip[rel].path
                best = 0
                for e2 in os.listdir(path):
                    if not e2.startswith("pb="):
                        continue
                    n = sum(
                        1
                        for fn in os.listdir(os.path.join(path, e2))
                        if fn.startswith("part-")
                    )
                    best = max(best, n)
                return best

            print(
                f"\nsteady-state series ({TAIL_EPOCHS} epochs x "
                f"{TAIL} new docs, compact-files={COMPACT_FILES}):"
            )
            print(
                "| epoch | wall s | classes touched/total MB "
                "| compact MB | max files/bucket bands | classes |"
            )
            print("|---|---|---|---|---|---|")
            for j in range(TAIL_EPOCHS):
                k = COPIES + 2 + j
                bp = os.path.join(root, f"series_{j}.parquet")
                con.execute(
                    f"""
                    COPY (
                      SELECT CAST(doc_id AS BIGINT)
                                 + {k} * 10000000::BIGINT AS doc_id,
                             regexp_replace(text, '(\\S+)',
                                            '\\1_k{k}', 'g') AS text
                      FROM (SELECT * FROM t ORDER BY doc_id
                            LIMIT {TAIL})
                    ) TO '{bp}' (FORMAT PARQUET)
                    """
                )
                flt = shingleable(spark.read.parquet(bp))
                reads.clear()
                compacted.clear()
                wall = run_epoch(spark, 2 + j, flt, ip)
                cls = [(t, t2) for r, t, t2 in reads if r == "classes"]
                t_mb = sum(t for t, _ in cls) / 1e6
                tot_mb = sum(t2 for _, t2 in cls) / 1e6
                comp_mb = sum(compacted) / 1e6
                print(
                    f"| {2 + j} | {wall:.1f} | {t_mb:.2f}/{tot_mb:.1f}"
                    f" | {comp_mb:.1f} | {max_files('bands')}"
                    f" | {max_files('classes')} |"
                )
            con.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
