"""Cache-lifecycle hygiene gate (VERDICT r9 item 7 / ADVICE r8 item 4).

Two pins:
1. DYNAMIC: every query that persists a builder census now materializes
   its result and unpersists the builders (caching.py). After running
   each such query, any NEW entry in the context's persistent-RDD map
   must be a locally-checkpointed result block (owned by the returned
   frame, reclaimed with it by the ContextCleaner) — never a leaked
   .persist() that would live until session end.
2. STATIC: a source lint over the whole package — any function that
   calls .persist() must also release it in the same function
   (unpersist / materialize_unpersist), so a future operator can't
   silently reintroduce the leak.
"""

from __future__ import annotations

import ast
import os
import re

import pytest

from confluent_example_firehose_spark.registry import query_fns

# Queries whose plans persist a builder frame (shingle hashes, SimHash
# fingerprints, term censuses, cluster assignments, range-partitioned
# layouts). Each must come back with zero non-checkpoint cache residue.
PERSISTING = [
    "q_cms_topk",
    "q_nb_classify",
    "q_dsir_sample",
    "q_dedup_semantic",
    "q_dedup_near",
    "q_dedup_simhash",
    "q_dedup_simhash8",
    "q_dedup_source_matrix",
    "q_split_leakage",
    "q_zorder_layout",
]

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "confluent_example_firehose_spark",
)


def _persistent_ids(spark) -> dict[int, "object"]:
    out = {}
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        e = it.next()
        out[e.getKey()] = e.getValue()
    return out


@pytest.mark.parametrize("name", PERSISTING)
def test_no_leaked_persists(spark, sf_dir, name):
    """After collect + the next drain point, zero non-checkpoint cache
    residue. Queries on the r11 DEFERRED path (materialize_unpersist
    defer=True) hold their builder caches until drain_pending() — the
    production drain points are the driver-contract wrapper, the bench
    loop, and the suite's per-test autouse fixture — so the property
    is asserted exactly where the production session would stand
    before the NEXT query runs."""
    from confluent_example_firehose_spark.caching import drain_pending

    before = set(_persistent_ids(spark))
    fns = query_fns()
    df = fns[name](spark, sf_dir)
    df.collect()
    drain_pending()
    leaked = []
    for rid, jrdd in _persistent_ids(spark).items():
        if rid in before:
            continue
        if not jrdd.rdd().isLocallyCheckpointed():
            leaked.append(rid)
    assert not leaked, (
        f"{name} left non-checkpoint persisted RDDs {leaked} — a "
        "builder cache outlived the query+drain lifecycle; release it "
        "via caching.materialize_unpersist / drain_pending"
    )


def test_every_persist_site_released_in_function():
    """AST lint: in every package module, a function whose source
    contains a .persist( call must also contain unpersist or
    materialize_unpersist — the cache's lifecycle must close where it
    opens."""
    offenders = []
    for dirpath, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as f:
                src = f.read()
            if ".persist(" not in src:
                continue
            tree = ast.parse(src)
            for node in ast.walk(tree):
                if not isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    continue
                body = ast.get_source_segment(src, node) or ""
                if ".persist(" in body and not (
                    "unpersist" in body or "materialize_unpersist" in body
                ):
                    offenders.append(f"{fname}:{node.lineno} {node.name}")
    assert not offenders, (
        "persist() without same-function release: " + ", ".join(offenders)
    )


def test_stream_scaffolding_lives_only_in_stream_runtime():
    """Regrowth lint: under operators/, thread pools and the file-stream
    trigger options belong to the one epoch runtime. A stream that
    needs concurrency submits to an Overlap handle, and a keyed-batch
    stream replays through replay_epochs — a second copy of either
    protocol must not grow back. Package-wide, every finite stream runs
    to completion through stream_runtime.drain, the one place that sets
    its trigger, and every process-lifetime temp root comes from
    stream_runtime.process_root, the one place that registers its
    removal."""
    ops = os.path.join(PKG, "operators")
    words = ("ThreadPoolExecutor", "maxFilesPerTrigger")
    offenders = []
    for fname in sorted(os.listdir(ops)):
        if not fname.endswith(".py") or fname == "stream_runtime.py":
            continue
        with open(os.path.join(ops, fname)) as f:
            src = f.read()
        for word in words:
            if word in src:
                offenders.append(f"{fname}: {word}")
    runtime = os.path.join(ops, "stream_runtime.py")
    cleanup = "atexit.register("
    for base, _, files in os.walk(PKG):
        for fname in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(base, fname)
            with open(path) as f:
                src = f.read()
            rel = os.path.relpath(path, PKG)
            if path != runtime and "availableNow" in src:
                offenders.append(f"{rel}: availableNow")
            n = src.count(cleanup)
            if n > (path == runtime):
                offenders.append(f"{rel}: {cleanup} x{n}")
    assert not offenders, (
        "stream scaffolding outside operators/stream_runtime.py: "
        + ", ".join(offenders)
    )


STREAM_MODULES = (
    "bloom_queries.py",
    "cms_queries.py",
    "dedup_stream_queries.py",
    "index_stream_queries.py",
    "sketch_stream_queries.py",
)


def test_state_io_lives_only_in_state_dir():
    """Regrowth lint: under operators/, the rename/hardlink/remove steps
    of a state swap belong to the one state module, and the stream
    modules read no parquet directly — every state read goes through a
    handle that passes the relation's declared schema, so no second
    swap protocol and no schema-inferring state read can grow back."""
    ops = os.path.join(PKG, "operators")
    offenders = []
    for fname in sorted(os.listdir(ops)):
        if not fname.endswith(".py") or fname == "state_dir.py":
            continue
        with open(os.path.join(ops, fname)) as f:
            src = f.read()
        words = ["os.rename", "os.link", "shutil.rmtree"]
        if fname in STREAM_MODULES:
            words += [
                ".read.parquet(", ".read.schema(", '.read.option("basePath"'
            ]
        offenders += [f"{fname}: {w}" for w in words if w in src]
    assert not offenders, (
        "state I/O outside operators/state_dir.py: " + ", ".join(offenders)
    )


def test_no_meter_globals_and_one_state_root():
    """Regrowth lint: a stream run is observed through its state
    relations, so no module-level `LAST_*` meter or `INSTRUMENT_*` gate
    grows back in the package or in tools/; and every stream opens its
    temp root through stream_runtime.state_root, the one seam a test
    substitutes to keep a run's state, so no other operator module
    creates a TemporaryDirectory of its own."""
    repo = os.path.dirname(PKG)
    meter = re.compile(r"^(?:LAST|INSTRUMENT)_\w*\s*(?::[^=\n]*)?=", re.M)
    offenders = []
    for top in (PKG, os.path.join(repo, "tools")):
        for base, _, files in os.walk(top):
            for fname in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(base, fname)
                with open(path) as f:
                    src = f.read()
                rel = os.path.relpath(path, repo)
                offenders += [f"{rel}: {m[0]}" for m in meter.finditer(src)]
                if (
                    os.path.basename(base) == "operators"
                    and fname != "stream_runtime.py"
                    and "tempfile.TemporaryDirectory" in src
                ):
                    offenders.append(f"{rel}: tempfile.TemporaryDirectory")
    assert not offenders, "regrown: " + ", ".join(offenders)


def test_ivf_centroid_model_lives_in_one_module():
    """Regrowth lint: under operators/, the IVF centroid model — the
    centroid training call, the nearest-centroid assignment pandas_udf
    and the DuckDB connection that renders centroid literals — lives
    in exactly one module (similarity_queries: centroids,
    nearest_centroid, ivf_oracle_head), so a vector query or its
    oracle cannot grow its own copy of the rule back."""
    ops = os.path.join(PKG, "operators")
    found = {
        "duckdb.connect(": set(),
        "_ivf_train(": set(),
        "pandas_udf with argmin(": set(),
    }
    for fname in sorted(os.listdir(ops)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(ops, fname)) as f:
            src = f.read()
        if "duckdb.connect(" in src:
            found["duckdb.connect("].add(fname)
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Call) and getattr(
                node.func, "id", None
            ) == "_ivf_train":
                found["_ivf_train("].add(fname)
            if (
                isinstance(node, ast.FunctionDef)
                and any(
                    "pandas_udf" in ast.unparse(d)
                    for d in node.decorator_list
                )
                and "argmin(" in ast.unparse(node)
            ):
                found["pandas_udf with argmin("].add(fname)
    spread = {k: sorted(v) for k, v in found.items() if len(v) != 1}
    assert not spread, f"the IVF centroid model is not in one module: {spread}"


def test_text_model_lives_next_to_its_kernels():
    """Regrowth lint: under operators/, each text rule's DuckDB twin is
    written once, next to its Spark kernel — the tokenizer
    (`regexp_split_to_array(lower(`, dedup.WORDS_SQL) and the Jaccard
    intersection (`list_intersect(`, dedup.jaccard_sql) only in
    dedup.py, and the quality gate's 0.05 / 0.3 thresholds (a `>=`
    comparison or a MIN_* definition) only in text_queries.py — so no
    oracle or stream grows its own copy of a rule back."""
    ops = os.path.join(PKG, "operators")
    rules = {
        "regexp_split_to_array(lower(": (
            re.compile(r"regexp_split_to_array\(lower\("), {"dedup.py"}
        ),
        "list_intersect(": (re.compile(r"list_intersect\("), {"dedup.py"}),
        "quality gate 0.05 / 0.3": (
            re.compile(r"(?:>=|MIN_\w+ =)\s*0\.(?:05|3)\b"),
            {"text_queries.py"},
        ),
    }
    found = {rule: set() for rule in rules}
    for fname in sorted(os.listdir(ops)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(ops, fname)) as f:
            src = f.read()
        for rule, (pat, _) in rules.items():
            if pat.search(src):
                found[rule].add(fname)
    spread = {
        rule: sorted(found[rule])
        for rule, (_, home) in rules.items()
        if found[rule] != home
    }
    assert not spread, f"a text rule is not in its one module: {spread}"
