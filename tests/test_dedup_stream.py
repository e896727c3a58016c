"""q_dedup_near_stream law pins (r10): the ingest-time LSH index
detects exactly the cross-epoch subset of the batch near-dup pairs."""

from __future__ import annotations

import pytest

from confluent_example_firehose_spark.operators.sketch_stream_queries import (
    SK_BATCHES,
)
from confluent_example_firehose_spark.registry import query_fns


@pytest.fixture(scope="module")
def fns():
    return query_fns()


def _kept_assignment(spark, stream_state) -> dict:
    """Final doc -> cluster map of the last cluster/ingest run, read
    from its kept state relations."""
    import confluent_example_firehose_spark.operators.dedup_stream_queries as m

    root = stream_state.roots[-1]
    return {
        r["doc_id"]: r["cluster_id"]
        for r in m._final_assignment(
            spark, m._index_paths(root), *m._cluster_state(root)
        ).collect()
    }


def _min_label_cc(nodes, pairs) -> dict:
    """Reference union-find with union-by-min (root == component min
    id) — the batch comparator for the streaming CC laws."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_stream_equals_cross_batch_subset_of_batch_dedup(
    spark, sf_dir, fns
):
    """The emitted (doc_id, dup_of, jac) set equals q_dedup_near's
    pair set restricted to pairs whose docs land in DIFFERENT
    doc_id-residue epochs — the batch job and the ingest index agree
    on every detectable pair (same shingles, same verify kernel, same
    threshold), and the stream's strictly-earlier semantics exclude
    exactly the same-epoch pairs."""
    streamed = {
        (min(r["doc_id"], r["dup_of"]), max(r["doc_id"], r["dup_of"])): r[
            "jac"
        ]
        for r in fns["q_dedup_near_stream"](spark, sf_dir).collect()
    }
    batch = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in fns["q_dedup_near"](spark, sf_dir).collect()
        if r["id_a"] % SK_BATCHES != r["id_b"] % SK_BATCHES
    }
    assert streamed == batch


def test_index_state_laws(spark, sf_dir, fns, stream_state):
    """r11 contracted-index state laws: the member map is LINEAR in
    the ingested corpus (one 3-column row per shingleable doc — never
    text, never pair-sized), while the HEAVY relations scale with
    CONTENT DIVERSITY — one shingle-set row and NEAR_STREAM_BANDS
    posting rows per DISTINCT content, so exact-duplicate mass adds
    zero index weight (the r10 probe measured the per-doc form at
    4,000,000 band rows on a 100x clone; the contracted form stores
    40,000)."""
    from pyspark.sql import functions as F

    from confluent_example_firehose_spark.catalog import load_table
    from confluent_example_firehose_spark.operators.dedup_stream_queries import (
        NEAR_STREAM_BANDS,
        NEAR_STREAM_JAC,
    )

    out = fns["q_dedup_near_stream"](spark, sf_dir).collect()
    rows = {
        rel: stream_state.rel(rel).read(spark).count()
        for rel in ("members", "classes", "shingles", "bands", "class_pairs")
    }
    shingleable = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.size(F.split(F.trim("text"), r"\s+")) >= 3)
    )
    eligible = shingleable.count()
    distinct_contents = (
        shingleable.select(F.md5("text")).distinct().count()
    )
    assert rows["members"] == eligible
    assert rows["classes"] == distinct_contents
    assert rows["shingles"] == distinct_contents
    assert rows["bands"] == NEAR_STREAM_BANDS * distinct_contents
    # Class-pair state (a parity check alone would pass on an empty or
    # single-orientation relation): exactly both orientations of each
    # verified pair, every row at or above the verify threshold, and
    # every cross-class emission of the run maps into the relation.
    stored = [
        (r["cfp"], r["other"], r["jac"])
        for r in stream_state.rel("class_pairs").read(spark).collect()
    ]
    pairs = {(a, b): j for a, b, j in stored}
    assert len(pairs) == len(stored)  # no duplicate rows
    for (a, b), j in pairs.items():
        assert pairs.get((b, a)) == j  # both orientations, same jac
        assert j >= NEAR_STREAM_JAC
    assert rows["class_pairs"] == len(pairs)
    fp_of = {
        r["doc_id"]: r["fp"]
        for r in shingleable.select(
            "doc_id", F.md5("text").alias("fp")
        ).collect()
    }
    for r in out:
        fa, fb = fp_of[r["doc_id"]], fp_of[r["dup_of"]]
        if fa != fb:  # cross-class emission must come from the relation
            assert (fa, fb) in pairs


def test_stream_orientation_and_threshold(spark, sf_dir, fns):
    """Every emitted row points a NEW doc at a strictly earlier
    arrival (dup_of's epoch < doc's epoch == batch_id) and clears the
    verify threshold."""
    rows = fns["q_dedup_near_stream"](spark, sf_dir).collect()
    assert rows, "corpus has cross-epoch near-dups by construction"
    for r in rows:
        assert r["doc_id"] % SK_BATCHES == r["batch_id"]
        assert r["dup_of"] % SK_BATCHES < r["batch_id"]
        assert r["jac"] >= 0.2


def test_curation_stream_ledger_laws(spark, sf_dir, fns, stream_state):
    """Admission-ledger identities: every arrival is accounted for
    exactly once (arrived == quality_fail + dup_dropped + admitted),
    the cumulative corpus is the running sum of admissions, and the
    maintained state holds exactly one fingerprint per admitted
    content (state rows == final n_corpus_cum)."""
    rows = sorted(
        fns["q_curation_stream"](spark, sf_dir).collect(),
        key=lambda r: r["batch_id"],
    )
    assert rows
    cum = 0
    for r in rows:
        assert (
            r["n_arrived"]
            == r["n_quality_fail"] + r["n_dup_dropped"] + r["n_admitted"]
        )
        cum += r["n_admitted"]
        assert r["n_corpus_cum"] == cum
    admitted = stream_state.rel("admitted_fps").read(spark).count()
    assert admitted == rows[-1]["n_corpus_cum"]


def test_curation_stream_admits_what_batch_curation_keeps(
    spark, sf_dir, fns
):
    """Cross-operator law: the stream's total admissions equal the
    batch q_corpus_curation's deduped survivor count — same gates,
    same fingerprint, so admission control at ingest converges to
    exactly the corpus the one-shot curation would keep."""
    total_admitted = sum(
        r["n_admitted"]
        for r in fns["q_curation_stream"](spark, sf_dir).collect()
    )
    batch_kept = sum(
        r["n_docs"]
        for r in fns["q_corpus_curation"](spark, sf_dir).collect()
    )
    assert total_admitted == batch_kept


def _shingleable_docs(spark, sf_dir):
    from pyspark.sql import functions as F

    from confluent_example_firehose_spark.catalog import load_table

    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.size(F.split(F.trim("text"), r"\s+")) >= 3)
    )


def test_cluster_stream_final_state_equals_batch_cc(
    spark, sf_dir, fns, stream_state
):
    """Cross-operator law (r12 rewire): after all epochs, the
    maintained class-level state expands to exactly the batch
    connected components over q_dedup_near's verified pair set — the
    incremental index-fed delta CC converges to the one-shot
    transitive closure of the SAME detector (same shingles, same
    verify kernel, same threshold), over the full shingleable
    corpus."""
    fns["q_cluster_stream"](spark, sf_dir).collect()
    streamed = _kept_assignment(spark, stream_state)
    nodes = [
        r["doc_id"]
        for r in _shingleable_docs(spark, sf_dir)
        .select("doc_id")
        .collect()
    ]
    pairs = [
        (r["id_a"], r["id_b"])
        for r in fns["q_dedup_near"](spark, sf_dir).collect()
    ]
    assert streamed == _min_label_cc(nodes, pairs)
    # Live-component count law: one comp state row per distinct FINAL
    # label (the exact form of the <= bound in the state test).
    assert stream_state.rel("comp").read(spark).count() == len(
        set(streamed.values())
    )


def test_cluster_stream_state_contracted_and_at_arrival(
    spark, sf_dir, fns, stream_state
):
    """State law (r12): the root map holds one row per distinct
    CONTENT (content-diversity-bounded — strictly below the corpus-
    linear r11 doc-level map on a corpus with duplicates), and the
    comp relation one row per live component. Output law: every
    shingleable arrival gets exactly one at-arrival assignment,
    cluster_id <= doc_id (the doc is in its own component) and the
    cluster head arrived no later than the doc."""
    from pyspark.sql import functions as F

    rows = fns["q_cluster_stream"](spark, sf_dir).collect()
    n_roots = stream_state.rel("roots").read(spark).count()
    n_comps = stream_state.rel("comp").read(spark).count()
    sh = _shingleable_docs(spark, sf_dir)
    eligible = sh.count()
    distinct_contents = sh.select(F.md5("text")).distinct().count()
    assert n_roots == distinct_contents
    # Emitted at-arrival labels are a LEDGER: a label can be superseded
    # by a later merge, so live components can only be <= the distinct
    # emitted ids (the exact comp-count law — live comps == distinct
    # FINAL labels — is pinned in the final-state CC test below).
    n_emitted = len({r["cluster_id"] for r in rows})
    assert 0 < n_comps <= n_emitted
    assert len(rows) == eligible
    for r in rows:
        assert r["cluster_id"] <= r["doc_id"]
        assert r["cluster_id"] % SK_BATCHES <= r["batch_id"]


def test_cluster_stream_giant_cluster_skew(spark, tmp_path, stream_state):
    """Duplicate-skew shape for the ingest clusterer: a corpus that is
    ONE giant exact-duplicate cluster arriving across all epochs. The
    content contraction collapses it to a single class, every arrival
    resolves to cluster 0 at arrival, the final assignment is the
    one-component clustering, and the class-level state is ONE root
    row no matter how many members arrive."""
    from confluent_example_firehose_spark.registry import query_fns

    text = "all work and no play makes a dull corpus indeed"
    rows = [(i, text) for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = query_fns()["q_cluster_stream"](spark, str(tmp_path)).collect()
    assert len(out) == 40
    assert all(r["cluster_id"] == 0 for r in out)
    assert _kept_assignment(spark, stream_state) == {i: 0 for i in range(40)}
    assert stream_state.rel("roots").read(spark).count() == 1
    assert stream_state.rel("comp").read(spark).count() == 1


def test_cluster_stream_selective_rewrite_bytes(
    spark, tmp_path, stream_state
):
    """Per-epoch rewritten bytes scale with TOUCHED roots, not total
    state. A large epoch-0 corpus
    (200 distinct singleton docs) followed by one-doc epochs must show
    the later epochs rewriting a small fraction of the epoch-0 bytes —
    only the single touched pb partition is written fresh; the other
    partitions hardlink forward."""
    from confluent_example_firehose_spark.registry import query_fns

    rows = [
        (4 * i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(200)
    ] + [(k, f"x{k}a x{k}b x{k}c x{k}d x{k}e") for k in (1, 2, 3)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = query_fns()["q_cluster_stream"](spark, str(tmp_path)).collect()
    assert len(out) == 203
    wb = stream_state.written("roots")
    assert len(wb) == SK_BATCHES
    assert wb[0] > 0
    for later in wb[1:]:
        assert 0 < later < wb[0] / 4, (
            f"one-class epoch rewrote {later} bytes vs epoch-0 "
            f"{wb[0]} — selective rewrite is not selective"
        )


def test_index_reads_bucket_pruned_and_output_invariant(
    spark, tmp_path, stream_state
):
    """With the adaptive gate forced open (PRUNE_MIN_STATE_BYTES = 0),
    the per-epoch admission / candidate / verify probes push the
    epoch's touched-bucket predicate into the state scans — the later
    one-doc epochs must read a small fraction of the classes relation's
    bytes — and the emitted ledger must be IDENTICAL to the
    full-scan plan's (the bucket predicate only ever removes rows the
    equi-joins could not match). Epoch-0 writes 200 singleton classes
    across all buckets; epochs 1-3 each add one doc (one or two
    touched buckets)."""
    import confluent_example_firehose_spark.operators.state_dir as m
    from confluent_example_firehose_spark.registry import query_fns

    rows = [
        (4 * i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(200)
    ] + [
        (1, "x1a x1b x1c x1d x1e"),
        (5, "x1a x1b x1c x1d x1e"),  # exact dup of doc 1, epoch 1
        (2, "w7a w7b w7c w7d w7e"),  # exact dup of an epoch-0 doc
        (3, "z3a z3b z3c z3d z3e"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    fn = query_fns()["q_dedup_near_stream"]
    full = {
        (r["batch_id"], r["doc_id"], r["dup_of"], r["jac"])
        for r in fn(spark, str(tmp_path)).collect()
    }
    assert full, "corpus has cross-epoch duplicates by construction"
    stream_state.scans.clear()
    old = m.PRUNE_MIN_STATE_BYTES
    m.PRUNE_MIN_STATE_BYTES = 0
    try:
        pruned = {
            (r["batch_id"], r["doc_id"], r["dup_of"], r["jac"])
            for r in fn(spark, str(tmp_path)).collect()
        }
    finally:
        m.PRUNE_MIN_STATE_BYTES = old
    assert pruned == full
    # The classes admission probe reads state in every epoch after the
    # first (1..3); the one-class epochs must touch a small fraction
    # of the 200-class relation's bytes.
    cls = stream_state.reads("classes")
    assert len(cls) == SK_BATCHES - 1
    for touched, total in cls:
        assert 0 < touched < total / 4, (
            f"one-class epoch read {touched} of {total} classes-state "
            "bytes — the probe scan is not bucket-pruned"
        )
    # Shingle verify reads only the candidate pairs' buckets.
    for touched, total in stream_state.reads("shingles"):
        assert touched <= total


def test_curation_probe_bucket_pruned_and_output_invariant(
    spark, tmp_path, stream_state
):
    """The admitted-fp state's left_anti probe under the forced-open
    adaptive gate: identical ledger to the full-scan plan, and the
    one-fp epochs read a small fraction of the 200-fp state's bytes."""
    import confluent_example_firehose_spark.operators.state_dir as m
    from confluent_example_firehose_spark.registry import query_fns

    rows = [
        (
            4 * i,
            f"the w{i}a a w{i}b the w{i}c a w{i}d the w{i}e w{i}f",
        )
        for i in range(200)
    ] + [
        (k, f"the x{k}a a x{k}b the x{k}c a x{k}d the x{k}e x{k}f")
        for k in (1, 2, 3)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    fn = query_fns()["q_curation_stream"]
    full = sorted(tuple(r) for r in fn(spark, str(tmp_path)).collect())
    assert full[0][4] > 0, "epoch 0 admits quality-passing docs"
    stream_state.scans.clear()
    old = m.PRUNE_MIN_STATE_BYTES
    m.PRUNE_MIN_STATE_BYTES = 0
    try:
        pruned = sorted(
            tuple(r) for r in fn(spark, str(tmp_path)).collect()
        )
    finally:
        m.PRUNE_MIN_STATE_BYTES = old
    reads = stream_state.reads("admitted_fps")
    assert pruned == full
    assert len(reads) == SK_BATCHES - 1  # every epoch with state
    for touched, total in reads:
        assert 0 < touched < total / 4, (
            f"one-fp epoch read {touched} of {total} admitted-state "
            "bytes — the probe scan is not bucket-pruned"
        )


def test_ingest_stream_ledger_laws(spark, sf_dir, fns):
    """Capstone ledger partition + cross-operator admission law: every
    arrival appears exactly once with a consistent status; per-batch
    admitted and quality-fail counts equal q_curation_stream's ledger
    (same gates, same fingerprint, one shared pass); duplicates name a
    representative that arrived strictly before them in (epoch,
    doc_id) order; quality-passing rows carry an at-arrival cluster,
    failing rows carry nothing."""
    from collections import Counter

    from confluent_example_firehose_spark.catalog import load_table

    rows = fns["q_ingest_stream"](spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    adm = Counter(
        r["batch_id"] for r in rows if r["status"] == "admitted"
    )
    qf = Counter(
        r["batch_id"] for r in rows if r["status"] == "quality_fail"
    )
    cur = {
        r["batch_id"]: r
        for r in fns["q_curation_stream"](spark, sf_dir).collect()
    }
    for bid, c in cur.items():
        assert adm.get(bid, 0) == c["n_admitted"]
        assert qf.get(bid, 0) == c["n_quality_fail"]
    for r in rows:
        assert r["batch_id"] == r["doc_id"] % SK_BATCHES
        if r["status"] == "quality_fail":
            assert r["dup_of"] is None and r["cluster_id"] is None
        else:
            assert r["cluster_id"] is not None
            assert r["cluster_id"] <= r["doc_id"]
            if r["status"] == "admitted":
                assert r["dup_of"] is None
            else:
                d = r["dup_of"]
                assert (d % SK_BATCHES, d) < (r["batch_id"], r["doc_id"])


def test_ingest_stream_final_state_equals_batch_cc(
    spark, sf_dir, fns, stream_state
):
    """Capstone clustering law: the final shared-state clustering
    equals batch CC over q_dedup_near's pair set RESTRICTED to the
    quality-passing universe — the gate changes which docs enter the
    index, nothing about how survivors cluster."""
    from confluent_example_firehose_spark.catalog import load_table
    from confluent_example_firehose_spark.operators.dedup_stream_queries import (  # noqa: E501
        _quality_scored,
    )

    fns["q_ingest_stream"](spark, sf_dir).collect()
    streamed = _kept_assignment(spark, stream_state)
    qdocs = {
        r["doc_id"]
        for r in _quality_scored(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
        )
        .filter("ok")
        .select("doc_id")
        .collect()
    }
    pairs = [
        (r["id_a"], r["id_b"])
        for r in fns["q_dedup_near"](spark, sf_dir).collect()
        if r["id_a"] in qdocs and r["id_b"] in qdocs
    ]
    assert streamed == _min_label_cc(qdocs, pairs)


def test_class_pair_survives_for_late_members(spark, tmp_path):
    """Regression pin for the r11 refreshByPath self-inclusion bug:
    the class pair verified when B first arrives (epoch 1, vs A from
    epoch 0) must be READ BACK from the persisted relation when a
    LATER member of B arrives (epoch 2) — the untagged state wrote
    empty class-pair appends for every epoch >= 1, so the late member
    silently lost its cross-class emission while all three hash SFs
    stayed green by corpus luck."""
    from confluent_example_firehose_spark.registry import query_fns

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [(0, a), (5, b), (6, b)]  # epochs 0, 1, 2 via doc_id % 4
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        (r["doc_id"], r["dup_of"]): r["jac"]
        for r in query_fns()["q_dedup_near_stream"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (5, 0) in out  # B's first arrival pairs with A
    assert out.get((6, 5)) == 1.0  # late member pairs within class
    # THE pin: the late member's cross-class emission, which requires
    # the (B, A) class pair to have survived in cp_state
    assert (6, 0) in out and out[(6, 0)] == out[(5, 0)]


def test_bucket_compaction_bounds_files_and_is_output_invariant(
    spark, tmp_path, stream_state
):
    """Bucketed.compact's two laws, pinned with the threshold forced to
    2 (a bucket is rewritten the moment it holds 2 part files):
    (a) after every epoch each members bucket dir holds exactly ONE
    part file even though the same content buckets are touched every
    epoch (duplicate arrivals re-touch their class's bucket), where
    the no-compaction twin accrues one file per touched epoch; and
    (b) the per-epoch verified pair sets and the final state relation
    ROW SETS are identical between the two runs — compaction is a
    content-identity physical rewrite (the b_id tag is an ordinary
    column and survives). The prune gate is forced open so the
    touched-bucket (resolved-pbs) sweep path runs, not just the
    small-state listdir sweep. Only the compacted run's sweeps report
    written bytes."""
    import os

    import confluent_example_firehose_spark.operators.dedup_stream_queries as m
    import confluent_example_firehose_spark.operators.state_dir as sd
    from confluent_example_firehose_spark.operators.stream_runtime import (
        Overlap,
    )
    from pyspark.sql import functions as F

    base = [
        f"c{i}a c{i}b c{i}c c{i}d c{i}e" for i in range(8)
    ]  # 8 distinct contents, re-arriving EVERY epoch under new ids

    def run(root):
        stream_state.compactions.clear()
        ip = m._index_paths(str(root))
        pair_sets = []
        for b in range(4):
            rows = [(100 * b + i, base[i]) for i in range(8)]
            # one brand-new near-dup of content 0 per epoch keeps the
            # candidate/verify path (and class_pairs appends) live
            rows.append((100 * b + 50, base[0] + f" extra{b}"))
            flt = spark.createDataFrame(
                rows, "doc_id long, text string"
            ).select("doc_id", "text", F.md5("text").alias("cfp"))
            with Overlap() as jobs:
                mb, nc, cp, extra, _ = m._index_epoch(
                    spark, b, flt, ip, jobs
                )
            pair_sets.append(
                {
                    (r["cfp"], r["other"], round(r["jac"], 6))
                    for r in cp.collect()
                }
            )
            for c in (mb, *extra):
                c.unpersist()
        state = {
            rel: sorted(tuple(r) for r in st.read(spark).collect())
            for rel, st in ip.items()
        }
        counts = {
            rel: max(
                (
                    sum(
                        1
                        for fn in os.listdir(os.path.join(st.path, e))
                        if fn.startswith("part-")
                    )
                    for e in os.listdir(st.path)
                    if e.startswith("pb=")
                ),
                default=0,
            )
            for rel, st in ip.items()
        }
        compacted = sum(n for _, n in stream_state.compactions)
        return pair_sets, state, counts, compacted

    old_gate, old_files = sd.PRUNE_MIN_STATE_BYTES, sd.INDEX_COMPACT_FILES
    sd.PRUNE_MIN_STATE_BYTES = 0
    try:
        sd.INDEX_COMPACT_FILES = 2
        pairs_c, state_c, counts_c, bytes_c = run(tmp_path / "compacted")
        sd.INDEX_COMPACT_FILES = 10**9
        pairs_n, state_n, counts_n, bytes_n = run(tmp_path / "plain")
    finally:
        sd.PRUNE_MIN_STATE_BYTES = old_gate
        sd.INDEX_COMPACT_FILES = old_files
    assert pairs_c == pairs_n and pairs_c[1], (
        "compaction changed the emitted pair sets"
    )
    assert state_c == state_n, (
        "compaction changed a state relation's row set"
    )
    # members buckets are touched all 4 epochs: the twin accrues files,
    # the compacted run holds the bound (2-file trigger leaves 1).
    assert counts_n["members"] >= 3
    assert counts_c["members"] == 1, (
        f"members bucket holds {counts_c['members']} part files — "
        "compaction did not bound the per-bucket file count"
    )
    assert bytes_c > 0 and bytes_n == 0


def test_semantic_stream_keys_to_earliest_same_cluster_neighbor(
    spark, tmp_path
):
    """q_dedup_semantic_stream on a constructed two-blob corpus: 256
    vectors, blob membership chosen so the first shard (vec_id % 4
    == 0) trains one centroid per blob (k = _sem_k(64) = 2), each
    vector a tiny deterministic perturbation of its blob base — so
    within-blob cosine ~1 >= SEM_TAU and cross-blob ~0. Law: every
    vector of a later epoch keys to the SMALLEST earlier same-blob
    vec_id (0 for blob A, 4 for blob B — both land in epoch 0), and
    epoch-0 vectors emit nothing."""
    dim = 8

    def blob(i):
        return 1 if (i % 8) >= 4 else 0

    rows = []
    for i in range(256):
        base = [0.0] * dim
        base[blob(i)] = 1.0
        v = [
            base[j] + ((i * 31 + j * 17) % 97) / 9700.0
            for j in range(dim)
        ]
        rows.append((i, v))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    from confluent_example_firehose_spark.registry import query_fns

    out = {
        (r["vec_id"]): (r["batch_id"], r["kept_by"], r["cos"])
        for r in query_fns()["q_dedup_semantic_stream"](
            spark, str(tmp_path)
        ).collect()
    }
    expected_ids = {i for i in range(256) if i % 4 >= 1}
    assert set(out) == expected_ids
    for i, (b, kept_by, cos) in out.items():
        assert b == i % 4
        assert kept_by == (0 if blob(i) == 0 else 4)
        assert cos > 0.9


@pytest.mark.parametrize("swap", ["compaction", "replace", "rewrite"])
def test_compact_buckets_crash_recovery(spark, tmp_path, monkeypatch, swap):
    """state_dir's one crash rule, for each of its three swap writers:
    per-bucket compaction, whole-relation replace and versioned
    rewrite. Each crash window is staged as the directory shape it
    leaves behind — a `.old` with NO live dir (between the two
    renames), a `.old` beside its live dir (before the cleanup), a
    stale tmp (mid-write), a stale `v{K+1}.tmp` and a torn first
    version — and the next write and read must give exactly the rows
    of a run that never crashed, with no `.old` or tmp left behind."""
    import os
    import shutil as sh

    import confluent_example_firehose_spark.operators.state_dir as sd
    from pyspark.sql import functions as F

    path = str(tmp_path / "rel")

    def junk(d):  # a half-written part file
        os.makedirs(os.path.join(d, "pb=0"))
        with open(os.path.join(d, "pb=0", "part-0.parquet"), "wb") as f:
            f.write(b"torn")

    def rows(rel):
        return sorted(tuple(r) for r in rel.read(spark).collect())

    if swap == "compaction":
        monkeypatch.setattr(sd, "INDEX_COMPACT_FILES", 2)
        rel = sd.Bucketed(path, "doc_id bigint, b_id int, pb int")

        def append(lo, hi):
            rel.append(
                spark.range(lo, hi).select(
                    F.col("id").alias("doc_id"),
                    F.lit(0).alias("b_id"),
                    (F.col("id") % 4).cast("int").alias("pb"),
                )
            )

        append(0, 100)
        os.rename(os.path.join(path, "pb=1"), os.path.join(path, "pb=1.old"))
        sh.copytree(os.path.join(path, "pb=2"), os.path.join(path, "pb=2.old"))
        junk(path + ".compact")
        append(100, 200)
        rel.compact(spark)
        assert rows(rel) == [(i, 0, i % 4) for i in range(200)]
        assert sorted(e for e in os.listdir(path) if "pb=" in e) == [
            "pb=0", "pb=1", "pb=2", "pb=3"
        ]
        for k in range(4):  # every bucket compacted to one file
            parts = os.listdir(os.path.join(path, f"pb={k}"))
            assert sum(fn.startswith("part-") for fn in parts) == 1
        assert not os.path.exists(path + ".compact")
    elif swap == "replace":
        rel = sd.Relation(path, "k bigint, c bigint")

        def fold(n):  # one sketch-style epoch: append a delta, merge
            rel.append(
                spark.range(n).select(
                    F.col("id").alias("k"), F.lit(1).cast("long").alias("c")
                )
            )
            rel.replace(
                rel.read(spark).groupBy("k").agg(F.sum("c").alias("c"))
            )

        fold(4)
        # between the renames: live parked as .old, the merged tmp done
        sh.copytree(path, path + ".tmp")
        os.rename(path, path + ".old")
        fold(6)
        assert rows(rel) == [(k, 2 if k < 4 else 1) for k in range(6)]
        # before the cleanup: the superseded .old beside the live dir
        sh.copytree(path, path + ".old")
        fold(2)
        assert rows(rel) == [(k, 3 if k < 2 else 2 if k < 4 else 1)
                             for k in range(6)]
        assert sorted(os.listdir(tmp_path)) == ["rel"]
    else:
        rel = sd.Versioned(path, "k bigint, v bigint, pb int")

        def upserts(ks, mult):
            return spark.createDataFrame(
                [(k, k * mult) for k in ks], "k bigint, v bigint"
            ).withColumn("pb", (F.col("k") % 4).cast("int"))

        junk(os.path.join(path, "v0.tmp"))  # torn first version
        rel.rewrite(spark, upserts(range(10), 1), ("k",))
        assert rows(rel) == [(k, k, k % 4) for k in range(10)]
        junk(os.path.join(path, "v1.tmp"))  # stale v{K+1}.tmp
        rel.rewrite(
            spark, upserts(range(5, 15), 10), ("k",),
            delete_keys=upserts([0], 0).select("k", "pb"),
        )
        assert rows(rel) == sorted(
            [(k, k, k % 4) for k in range(1, 5)]
            + [(k, 10 * k, k % 4) for k in range(5, 15)]
        )
        assert sorted(os.listdir(path)) == ["v0", "v1"]


def test_overlap_awaits_all_and_reraises_first():
    """The maintenance handle must (a) run EVERY job even when one
    fails — an orphaned in-flight state append would corrupt the
    epoch — and (b) re-raise the first failure in submission order
    after all jobs settle; (c) when the body itself raises, that error
    surfaces, and only after a slower job has finished."""
    import time as _t

    from confluent_example_firehose_spark.operators.stream_runtime import (
        Overlap,
    )

    ran = []

    def ok(tag, delay=0.0):
        def job():
            _t.sleep(delay)
            ran.append(tag)
        return job

    def boom(msg):
        def job():
            ran.append(msg)
            raise RuntimeError(msg)
        return job

    with pytest.raises(RuntimeError, match="first failure"):
        with Overlap() as jobs:
            for fn in (ok("a"), boom("first failure"), ok("b", 0.05),
                       boom("second failure")):
                jobs.submit(fn)
    assert sorted(ran) == ["a", "b", "first failure", "second failure"]

    ran.clear()
    with pytest.raises(ValueError, match="body"):
        with Overlap() as jobs:
            jobs.submit(ok("slow", 0.2))
            jobs.submit(boom("job failure"))
            raise ValueError("body")
    # the body's error won over the job's, and only once the slow job
    # had landed
    assert sorted(ran) == ["job failure", "slow"]


def test_cluster_stream_failing_epoch_releases_everything(
    spark, tmp_path, monkeypatch
):
    """Failure path of an overlapped epoch: a state rewrite raising in
    epoch 1 of q_cluster_stream must surface as the query's error, and
    by then every maintenance thread has been awaited, the epoch's
    caches are released (no new non-checkpoint persisted RDD — the
    test_cache_hygiene property) and the temp root is removed."""
    import os
    import tempfile
    import threading

    from confluent_example_firehose_spark.caching import drain_pending
    from confluent_example_firehose_spark.operators.state_dir import Versioned
    from confluent_example_firehose_spark.registry import query_fns
    from tests.test_cache_hygiene import _persistent_ids

    rows = [(i, f"w{i % 5}a w{i % 5}b w{i % 5}c w{i}d") for i in range(24)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    temp = tmp_path / "temp"
    temp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(temp))
    real = Versioned.rewrite
    calls = []
    lock = threading.Lock()

    def failing(*args, **kwargs):
        with lock:
            calls.append(1)
            n = len(calls)
        if n > 2:  # epoch 0 makes two rewrites; fail from epoch 1 on
            raise RuntimeError("injected")
        return real(*args, **kwargs)

    monkeypatch.setattr(Versioned, "rewrite", failing)
    before = set(_persistent_ids(spark))
    with pytest.raises(Exception, match="injected"):
        query_fns()["q_cluster_stream"](spark, str(tmp_path))
    drain_pending()
    assert len(calls) > 2, "the injected rewrite never ran"
    assert not [
        t for t in threading.enumerate() if t.name.startswith("overlap")
    ], "a maintenance thread outlived the failing epoch"
    assert not [
        e for e in os.listdir(temp) if e.startswith("cluster_stream_")
    ], "the temp root was not removed"
    leaked = [
        rid
        for rid, jrdd in _persistent_ids(spark).items()
        if rid not in before and not jrdd.rdd().isLocallyCheckpointed()
    ]
    assert not leaked, f"failing epoch leaked persisted RDDs {leaked}"


def test_lazy_pbs_resolves_once_under_concurrency(spark):
    """Optimization r14: several per-relation maintenance pipelines
    share one lazy bucket list (members/classes/shingles all prune on
    the batch's cfp buckets); concurrent resolution must run the
    collect_set job ONCE and every caller must see the same list."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    import confluent_example_firehose_spark.operators.dedup_stream_queries as m
    from confluent_example_firehose_spark.operators.state_dir import bucket_of

    calls = []
    real = m._distinct_pbs

    def counting(df, col):
        calls.append(1)
        return real(df, col)

    df = spark.range(100).select(F.col("id").alias("cfp"))
    get = None
    old = m._distinct_pbs
    m._distinct_pbs = counting
    try:
        get = m._lazy_pbs(df, bucket_of(F.col("cfp")))
        with ThreadPoolExecutor(max_workers=4) as ex:
            results = list(ex.map(lambda _: get(), range(4)))
    finally:
        m._distinct_pbs = old
    assert len(calls) == 1  # resolved exactly once
    assert all(r == results[0] for r in results)


def test_dir_bytes_skips_hidden_and_tolerates_vanished_file(
    tmp_path, monkeypatch
):
    """The one directory walk (state_dir.data_files), through both of
    its users — the state relation sizes and the catalog's table identity:
    data files are counted the way Spark's listing sees them (no
    `_`/`.` entries, so a concurrent write's `_temporary` tree changes
    neither the bytes nor the identity), and a file renamed away
    between the directory listing and its stat counts as gone instead
    of raising."""
    import os

    from confluent_example_firehose_spark.caching import table_identity
    from confluent_example_firehose_spark.operators.state_dir import dir_bytes

    root = tmp_path / "t.parquet"  # catalog table "t" under tmp_path
    (root / "pb=0").mkdir(parents=True)
    (root / "pb=0" / "part-0.parquet").write_bytes(b"x" * 10)
    (root / "pb=0" / "part-1.parquet").write_bytes(b"x" * 100)
    (root / "pb=0" / ".part-0.parquet.crc").write_bytes(b"c" * 7)
    (root / "_SUCCESS").write_bytes(b"s")
    ident = table_identity(str(tmp_path), "t")
    assert [name for name, _, _ in ident] == [
        "part-0.parquet", "part-1.parquet"
    ]
    (root / "_temporary" / "0").mkdir(parents=True)
    (root / "_temporary" / "0" / "part-9.parquet").write_bytes(b"t" * 1000)
    assert dir_bytes(str(root)) == 110
    assert table_identity(str(tmp_path), "t") == ident

    real_walk = os.walk

    def racing_walk(path, *args, **kwargs):
        # a committer renames part-1 away after the walk listed it
        for base, dirs, files in real_walk(path, *args, **kwargs):
            if "part-1.parquet" in files:
                os.rename(
                    os.path.join(base, "part-1.parquet"), tmp_path / "moved"
                )
            yield base, dirs, files

    monkeypatch.setattr(os, "walk", racing_walk)
    assert dir_bytes(str(root)) == 10
    os.rename(tmp_path / "moved", root / "pb=0" / "part-1.parquet")
    assert table_identity(str(tmp_path), "t") == ident[:1]
