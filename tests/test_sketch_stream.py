"""Streaming sketch-maintenance pins (r9): the merge laws the
q_hll_stream / q_quantile_stream docstrings claim, mirroring
tests/test_cms.py's shape for the Bloom/CMS twins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from confluent_example_firehose_spark.catalog import load_table
from confluent_example_firehose_spark.operators.index_queries import (
    QH_BIN_CENTS,
)
from confluent_example_firehose_spark.registry import query_fns


@pytest.fixture(scope="module")
def fns():
    return query_fns()


def test_hll_dedup_insensitive(spark, sf_dir):
    """The law that justifies the exact-audit stand-in: HLL register
    content is max-of-hashes, so the sketch of the DISTINCT user set
    estimates exactly what the sketch of the full multiset estimates.
    (Pinned on the ESTIMATE, not serialized bytes: sparse-mode coupon
    lists serialize in insertion order, so byte equality does not hold
    even when the register content does — probed r9.)"""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    multiset = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
    ).first()["e"]
    dedup = (
        ev.select("user_id")
        .distinct()
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
                "e"
            )
        )
        .first()["e"]
    )
    assert multiset == dedup


def test_hll_stream_invariants(spark, sf_dir, fns):
    """End of stream == whole table: the final cumulative exact count
    equals the table's distinct user count, cum counts are monotone,
    and both sketch laws held at every epoch."""
    rows = sorted(
        fns["q_hll_stream"](spark, sf_dir).collect(),
        key=lambda r: r["batch_id"],
    )
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    n_total = ev.select("user_id").distinct().count()
    assert rows[-1]["n_exact_cum"] == n_total
    cums = [r["n_exact_cum"] for r in rows]
    assert cums == sorted(cums)
    assert all(r["merge_consistent"] for r in rows)
    assert all(r["est_within_5pct"] for r in rows)


def test_quantile_stream_final_equals_batch(spark, sf_dir, fns):
    """Merge law: the final epoch's running percentiles equal the
    one-shot batch histogram over the whole table (count addition is
    associative + commutative), n_cum is monotone to the table total,
    and each estimate sits within one bin width of the true
    percentile."""
    rows = sorted(
        fns["q_quantile_stream"](spark, sf_dir).collect(),
        key=lambda r: r["batch_id"],
    )
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    assert rows[-1]["n_cum"] == ev.count()
    cums = [r["n_cum"] for r in rows]
    assert cums == sorted(cums)

    # One-shot batch histogram percentiles over the whole table.
    cents = sorted(
        r["c"]
        for r in ev.select(
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("c")
        ).collect()
    )
    n = len(cents)
    for pct, col in ((0.5, "p50_cents"), (0.9, "p90_cents"), (0.99, "p99_cents")):
        # True percentile: smallest value with rank covering pct*n
        # (the ceil-rank definition the 2c >= n crossings encode).
        import math

        true_c = cents[math.ceil(pct * n) - 1]
        est = rows[-1][col]
        # Estimate = lower bound of the bin containing the crossing.
        assert est <= true_c < est + QH_BIN_CENTS, (col, est, true_c)


def test_index_stream_final_equals_batch(spark, sf_dir, fns):
    """Posting-union merge law: the final epoch's served BM25 top-k
    over the maintained index equals the one-shot q_text_bm25 ranking
    of the whole table (same query, same rounding, same tie-break) —
    the index built incrementally IS the index built in batch."""
    # q_text_bm25 scores the full table INCLUDING null-text docs (they
    # shift n_docs/avgdl) while the stream ingests non-null docs only,
    # so the equality law holds exactly on a null-free corpus — the
    # standard testdata; skip (never silently pass) otherwise. Checked
    # FIRST so an inapplicable corpus doesn't pay the two most
    # expensive operations before skipping (ADVICE r9 item 4).
    n_null = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNull())
        .count()
    )
    if n_null > 0:
        pytest.skip("null-text docs shift BM25 corpus stats")
    rows = fns["q_index_stream"](spark, sf_dir).collect()
    last_b = max(r["batch_id"] for r in rows)
    served = [
        (r["rank"], r["doc_id"], r["bm25"])
        for r in sorted(
            (r for r in rows if r["batch_id"] == last_b),
            key=lambda r: r["rank"],
        )
    ]
    k = len(served)
    batch = [
        (r["rank"], r["doc_id"], r["bm25"])
        for r in sorted(
            fns["q_text_bm25"](spark, sf_dir).collect(),
            key=lambda r: r["rank"],
        )[:k]
    ]
    assert served == batch


def test_stream_state_physically_bounded(spark, sf_dir, fns, stream_state):
    """The per-epoch compaction makes each streaming sketch's STORED
    relation — not just its merged view — match the docstring's
    logical bound after the final epoch: Bloom == final cumulative set
    bits (<= BLOOM_M), HLL == one merged register row, quantile == the
    table's distinct bin count, CMS == final cumulative occupied cells
    (<= CMS_D*CMS_W), and the index stream's running corpus stats ==
    one row. Each count reads the run's kept state relation."""
    from confluent_example_firehose_spark.operators.bloom_queries import (
        BLOOM_M,
    )
    from confluent_example_firehose_spark.operators.cms_queries import (
        CMS_D,
        CMS_W,
    )
    from confluent_example_firehose_spark.operators.index_queries import (
        QH_BIN_CENTS as _BIN,
    )

    def state_rows(rel="state"):
        return stream_state.rel(rel).read(spark).count()

    bloom = sorted(
        fns["q_bloom_stream"](spark, sf_dir).collect(),
        key=lambda r: r["batch_id"],
    )
    assert state_rows() == bloom[-1]["n_cum_bits"]
    assert state_rows() <= BLOOM_M

    fns["q_hll_stream"](spark, sf_dir).collect()
    assert state_rows() == 1

    fns["q_quantile_stream"](spark, sf_dir).collect()
    n_bins = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.expr(
                f"CAST(round(value * 100) AS BIGINT) div {_BIN}"
            ).alias("bin")
        )
        .distinct()
        .count()
    )
    assert state_rows() == n_bins

    cms = sorted(
        fns["q_cms_stream"](spark, sf_dir).collect(),
        key=lambda r: r["batch_id"],
    )
    assert state_rows() == cms[-1]["n_cells_cum"]
    assert state_rows() <= CMS_D * CMS_W

    fns["q_index_stream"](spark, sf_dir).collect()
    assert state_rows("stats") == 1


def test_state_root_removed_on_clean_path_kept_under_fixture(
    spark, sf_dir, fns, tmp_path, monkeypatch, request
):
    """A stream that returns cleanly leaves no state root behind in the
    temp directory; under the stream_state fixture the same run's state
    survives under tmp_path and reads back — q_hll_stream's one
    merged register row."""
    import os
    import tempfile

    from confluent_example_firehose_spark.operators.stream_runtime import (
        SK_BATCHES,
    )

    temp = tmp_path / "temp"
    temp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(temp))
    assert len(fns["q_hll_stream"](spark, sf_dir).collect()) == SK_BATCHES
    assert not [
        e for e in os.listdir(tempfile.gettempdir())
        if e.startswith("hll_stream_")
    ], "the clean run left its temp root behind"

    kept = request.getfixturevalue("stream_state")
    fns["q_hll_stream"](spark, sf_dir).collect()
    (root,) = kept.roots
    assert root.startswith(str(tmp_path)) and os.path.isdir(root)
    assert kept.rel("state").path == os.path.join(root, "state")
    assert kept.rel("state").read(spark).count() == 1


def test_ann_index_stream_invariants(spark, sf_dir, fns):
    """Vector-index maintenance laws: (a) every served neighbor was
    already ingested (its vec_id residue class <= the epoch); (b) each
    query's best served cosine is NON-DECREASING across epochs —
    probed lists only gain members, so serving can only improve; (c)
    within an epoch+query, results arrive best-first."""
    from confluent_example_firehose_spark.operators.sketch_stream_queries import (
        SK_BATCHES,
    )

    rows = fns["q_ann_index_stream"](spark, sf_dir).collect()
    assert rows, "stream served nothing"
    best: dict[tuple[int, int], float] = {}
    for r in rows:
        assert r["neighbor_id"] % SK_BATCHES <= r["batch_id"]
        key = (r["batch_id"], r["query_id"])
        best[key] = max(best.get(key, float("-inf")), r["cos"])
    for (b, q), c in sorted(best.items()):
        if (b - 1, q) in best:
            assert c >= best[(b - 1, q)], (b, q, c, best[(b - 1, q)])


def test_drift_stream_flags_shifted_source(spark, tmp_path, fns, stream_state):
    """q_drift_stream on a constructed corpus: epochs 0-2 draw ~8-word
    docs, epoch 3 is a shifted source (~40-word docs). Law: the
    homogeneous epochs' drift vs their prefix is 0 (identical
    distributions), the shifted epoch's approaches 1 (disjoint length
    bins), and the stored histogram state stays bins-bounded."""
    rows = []
    for i in range(400):
        n = 40 if i % 4 == 3 else 8
        rows.append((i, " ".join(f"w{j}" for j in range(n))))
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["batch_id"]: (r["n_arrived"], r["tv_drift"])
        for r in fns["q_drift_stream"](spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1][1] == 0.0 and out[2][1] == 0.0
    assert out[3][1] == 1.0, (
        f"shifted source drift {out[3][1]} — expected total variation 1"
    )
    assert stream_state.rel("state").read(spark).count() <= 4


def test_embed_drift_stream_flags_shifted_source(
    spark, tmp_path, fns, stream_state
):
    """q_drift_embed_stream on a constructed corpus: epochs 0-2 carry
    an IDENTICAL multiset of vectors (two well-separated modes), epoch
    3 a third far-away mode the frozen centroids never saw. Laws: the
    homogeneous epochs' occupancy drift vs their prefix is exactly 0;
    the shifted epoch moves most occupancy mass (tv well above 0);
    state stays K-bounded."""
    dim = 8
    rows = []
    for i in range(512):
        g, b = divmod(i, 4)
        v = [0.0] * dim
        if b < 3:
            v[g % 2] = 1.0
        else:
            v[2] = 1.0
        # jitter depends on g ONLY: epochs 0-2 must carry an
        # IDENTICAL vector multiset for the zero-drift law
        v[3] = ((g * 13) % 23) / 230.0
        rows.append((i, v))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r["batch_id"]: r["tv_drift"]
        for r in fns["q_drift_embed_stream"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1] == 0.0 and out[2] == 0.0
    # Deterministically 0.25 on this construction (the unseen mode
    # lands on one frozen list that already holds 3/4 of the prefix
    # occupancy): the law is a clear nonzero alarm against the exact
    # zeros above, not a particular magnitude.
    assert out[3] >= 0.2, f"shifted embedding source drift {out[3]}"
    assert stream_state.rel("state").read(spark).count() <= 16
