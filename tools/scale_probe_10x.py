#!/usr/bin/env python
"""10x-clone scale probe (VERDICT r4/r5): clone the sf0.1 corpus 10x
with DISJOINT key remaps (10 independent copies — more data, same
distribution) and time target queries against both, same warm session.

Ratios near 1x say the query is still overhead-bound at sf0.1 on 32
cores; ratios near 10x say it is data-bound and scaling linearly; a
markedly superlinear ratio flags a plan to re-audit. Results land in
SCALE.md.

Cloned tables: documents (doc_id += k*1e7), orders (o_orderkey and
o_custkey offset per copy), lineitem (l_orderkey and l_suppkey offset
in lockstep) — so the purchase graph becomes 10 disjoint copies of
itself. Every other table is symlinked unchanged.

Usage: python tools/scale_probe_10x.py [--copies=N] [query ...]

--copies=N (default 10) clones N disjoint copies instead — r10 used
--copies=100 to push a dedup headliner past its banding cap's design
point (q_dedup_simhash8's SIMHASH8_BUCKET_CAP=4096 engages at ~500k
docs/shard = exactly 100 x sf0.1's 5,000 docs; ADVICE r10 corrected
the earlier 50k misstatement here to match SCALE.md), exercising the
strict over-cap raise path on real data rather than by unit test. A
raise from the recall-contract guard is a CONTRACTED outcome and is
printed as such, not a crash. Since r11 the equivalence-class
contraction (dedup.simhash_pairs_contracted) makes the all-duplicates
clone COMPLETE instead: the cap sees one representative per distinct
fingerprint, so the same --copies=100 run is now the completion-path
measurement, not a raise demonstration.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from confluent_example_firehose_spark.registry import query_fns  # noqa: E402
from confluent_example_firehose_spark.schema import TABLE_NAMES  # noqa: E402
from confluent_example_firehose_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"
COPIES = 10
CLONE_TABLES: set | None = None  # None = clone every _CLONES table
MATERIALIZE = "collect"
for _a in list(sys.argv[1:]):
    if _a.startswith("--copies="):
        COPIES = int(_a.split("=", 1)[1])
        sys.argv.remove(_a)
    elif _a.startswith("--clone-tables="):
        # Only clone these tables (symlink the rest) — keeps a 100x
        # build cheap when the probed query reads one table.
        CLONE_TABLES = set(_a.split("=", 1)[1].split(","))
        sys.argv.remove(_a)
    elif _a.startswith("--materialize="):
        # count|collect (default collect, the historical probe shape).
        # Use count for output-QUADRATIC probes: the r11 contraction
        # makes the 100x all-duplicates clone COMPLETE, and its answer
        # is ~25M pair rows — driver-collecting that measures CPython
        # row materialization, not the engine. Both legs of a run use
        # the same materialization, so step ratios stay comparable
        # within the run (noted in SCALE.md where it changes a row).
        MATERIALIZE = _a.split("=", 1)[1]
        if MATERIALIZE not in ("count", "collect"):
            sys.exit(
                f"--materialize must be count|collect, got "
                f"{MATERIALIZE!r} (a typo here would silently collect "
                "the output-quadratic answer and measure CPython row "
                "materialization instead of the engine)"
            )
        sys.argv.remove(_a)
CLONE = f"/tmp/sf0.1_x{COPIES}"

DEFAULT = [
    "q_dedup_lines",
    "q_bpe_merges",
    "q_split_leakage",
    "q_graph_bfs",
    "q_graph_pagerank",
    # r9 (VERDICT r8 item 5): the bench's two slowest headliners — their
    # banding caps (max_bucket=64 drop / 4096 strict raise) are the
    # recall trade, so a superlinear step here is the likeliest silent
    # scale break.
    "q_dedup_near",
    "q_dedup_simhash",
]

# (table, select-with-{k} template); key offsets keep copies disjoint
# Offsets are BIGINT arithmetic: the base parquet ids are INT32, and
# k * 1e8 overflows INT32 at k >= 22 — a --copies=100 build crashed on
# exactly that before the casts (r10).
_CLONES = {
    "documents": (
        "SELECT CAST(doc_id AS BIGINT) + {k} * 10000000::BIGINT "
        "AS doc_id, * EXCLUDE (doc_id) FROM t"
    ),
    "orders": (
        "SELECT CAST(o_orderkey AS BIGINT) + {k} * 100000000::BIGINT "
        "AS o_orderkey, "
        "CAST(o_custkey AS BIGINT) + {k} * 10000000::BIGINT "
        "AS o_custkey, "
        "* EXCLUDE (o_orderkey, o_custkey) FROM t"
    ),
    "lineitem": (
        "SELECT CAST(l_orderkey AS BIGINT) + {k} * 100000000::BIGINT "
        "AS l_orderkey, "
        "CAST(l_suppkey AS BIGINT) + {k} * 10000000::BIGINT "
        "AS l_suppkey, "
        "* EXCLUDE (l_orderkey, l_suppkey) FROM t"
    ),
    # r7: clone embeddings too (disjoint vec_id ranges) so the
    # embedding-side operators (q_dedup_semantic, ANN) get a real 10x
    # measurement instead of reading the symlinked original.
    "embeddings": (
        "SELECT CAST(vec_id AS BIGINT) + {k} * 10000000::BIGINT "
        "AS vec_id, * EXCLUDE (vec_id) FROM t"
    ),
    # r9: clone events (disjoint event and user id ranges) so the
    # events-side operators (sessions, time-series, q_hll_stream /
    # q_quantile_stream) get a real 10x measurement — before this the
    # symlink made those rows vacuous (warm-run noise on identical
    # data).
    "events": (
        "SELECT CAST(event_id AS BIGINT) + {k} * 100000000::BIGINT "
        "AS event_id, "
        "CAST(user_id AS BIGINT) + {k} * 10000000::BIGINT AS user_id, "
        "* EXCLUDE (event_id, user_id) FROM t"
    ),
}


def build_clone() -> None:
    if os.path.isdir(CLONE):
        return
    os.makedirs(CLONE)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        src = f"{BASE}/{t}.parquet"
        dst = f"{CLONE}/{t}.parquet"
        tmpl = _CLONES.get(t)
        if CLONE_TABLES is not None and t not in CLONE_TABLES:
            tmpl = None
        if tmpl is None:
            os.symlink(src, dst)
            continue
        con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{src}'")
        union = "\nUNION ALL\n".join(
            tmpl.format(k=k) for k in range(COPIES)
        )
        con.execute(f"COPY ({union}) TO '{dst}' (FORMAT PARQUET)")
    con.close()


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    build_clone()
    fns = query_fns()
    spark = get_spark("scale-probe-10x")
    fns["q_agg_basic"](spark, BASE).collect()  # JVM warm
    print(f"| query | sf0.1 s | {COPIES}x s | ratio |")
    print("|---|---|---|---|")
    for name in names:
        times = []
        raised = None
        for d in (BASE, CLONE):
            t0 = time.monotonic()
            try:
                out = fns[name](spark, d)
                if MATERIALIZE == "count":
                    print(f"  [{name} @ {d}: {out.count()} rows]")
                else:
                    out.collect()
            except Exception as e:  # noqa: BLE001
                msg = str(e)
                if "bucket" in msg and (
                    "cap" in msg or "max_bucket" in msg or "recall" in msg
                ):
                    raised = msg.splitlines()[0][:160]
                    times.append(time.monotonic() - t0)
                    break
                raise
            times.append(time.monotonic() - t0)
            spark.catalog.clearCache()
        if raised and len(times) == 1:
            # raised on the BASE run: report and move on
            print(f"| {name} | RAISED: {raised} | — | — |")
        elif raised:
            print(
                f"| {name} | {times[0]:.2f} | CONTRACTED RAISE after "
                f"{times[1]:.2f}s: {raised} | — |"
            )
        else:
            print(
                f"| {name} | {times[0]:.2f} | {times[1]:.2f} "
                f"| {times[1] / times[0]:.1f}x |"
            )


if __name__ == "__main__":
    main()
