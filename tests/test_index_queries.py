"""index_queries.py: value sanity + plan-shape pins for the corpus
indexing / mixture / quantization / re-aggregation operators."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from confluent_example_firehose_spark.operators import index_queries as iq
from confluent_example_firehose_spark.plans.inspect import executed_plan


@pytest.fixture(scope="module")
def spark_sf(spark, sf_dir):
    return spark, sf_dir


def test_ngram_topk_take_ordered_not_global_window(spark_sf):
    spark, sf_dir = spark_sf
    df = iq.q_ngram_topk(spark, sf_dir)
    plan = executed_plan(df)
    # per-n top-K must plan as TakeOrdered (per-partition top-K), and
    # the only window runs AFTER the limits, partitioned by n
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    per_n = {n: [r for r in rows if r["n"] == n] for n in (1, 2, 3)}
    for n, grp in per_n.items():
        assert len(grp) == iq.NGRAM_TOPK
        ranks = sorted(r["rank"] for r in grp)
        assert ranks == list(range(1, iq.NGRAM_TOPK + 1))
        # counts non-increasing in rank order
        by_rank = sorted(grp, key=lambda r: r["rank"])
        cnts = [r["cnt"] for r in by_rank]
        assert cnts == sorted(cnts, reverse=True)
        assert all(len(r["gram"].split(" ")) == n for r in grp)


def test_skew_profile_take_ordered_and_consistent_stats(spark_sf):
    spark, sf_dir = spark_sf
    df = iq.q_skew_profile(spark, sf_dir)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert len(rows) == iq.HH_TOPK
    # global stats identical on every row; shares consistent with cnt
    assert len({(r["n_keys"], r["n_rows"]) for r in rows}) == 1
    top = max(rows, key=lambda r: (r["cnt"], -r["l_orderkey"]))
    assert top["skew_ratio"] >= 1.0
    assert all(0 < r["share"] < 1 for r in rows)


def test_embed_quantize_is_narrow(spark_sf):
    spark, sf_dir = spark_sf
    df = iq.q_embed_quantize(spark, sf_dir)
    plan = executed_plan(df)
    # pure per-row array math: no shuffle, no Python worker
    assert "Exchange" not in plan
    assert "Python" not in plan
    r = df.orderBy("vec_id").first()
    assert 0 <= r["code_sum"] <= iq.QUANT_LEVELS * r["n_dims"]
    assert r["mse_ppm"] >= 0.0


def test_embed_quantize_flat_and_empty_vector_guards(spark, tmp_path):
    # run the REAL query over a staged embeddings table containing a
    # flat vector (scale guard) and an empty vector (exclusion
    # contract) — the guards must execute, not just exist
    root = str(tmp_path)
    spark.createDataFrame(
        [
            (1, [0.5] * 4, 0),  # flat: codes all 0, zero error
            (2, [], 1),  # empty: excluded by contract
            (3, [0.0, 1.0], 2),  # rails: codes 0 and 255
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    rows = {r["vec_id"]: r for r in iq.q_embed_quantize(spark, root).collect()}
    assert set(rows) == {1, 3}  # empty vector filtered out
    assert rows[1]["code_sum"] == 0 and rows[1]["mse_ppm"] == 0.0
    assert rows[1]["vmin"] == rows[1]["vmax"] == 0.5
    assert rows[3]["code_sum"] == iq.QUANT_LEVELS


def test_mixture_sample_window_is_partitioned(spark_sf):
    spark, sf_dir = spark_sf
    plan = executed_plan(iq.q_mixture_sample(spark, sf_dir))
    # the running sum must never be a global (empty-partition) window
    assert "Window" in plan
    low = plan.lower()
    assert "partitionby: []" not in low.replace(" ", "").replace("_", "")
    rows = iq.q_mixture_sample(spark, sf_dir).collect()
    # every selected source stops within one doc of its budget
    for r in rows:
        assert r["n_docs"] >= 1


def test_partial_reagg_two_level_equals_direct(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.catalog import load_table

    merged = iq.q_partial_reagg(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    direct = (
        ev.select(
            "event_type",
            F.trunc(F.col("ts").cast("date"), "month").alias("month"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "month")
        .agg(F.count("*").alias("n_events"), F.sum("cents").alias("cents"))
    )
    m = {
        (r["event_type"], r["month"]): (r["n_events"], r["value_cents"])
        for r in merged.collect()
    }
    d = {
        (r["event_type"], r["month"]): (r["n_events"], r["cents"])
        for r in direct.collect()
    }
    assert m == d


def test_recursive_calendar_is_contiguous(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.operators.relational_ext_queries import (
        q_recursive_calendar,
    )

    rows = sorted(
        q_recursive_calendar(spark, sf_dir).collect(), key=lambda r: r["month"]
    )
    months = [r["month"] for r in rows]
    # contiguous month ladder: every step is exactly +1 month
    for a, b in zip(months, months[1:]):
        assert (b.year, b.month) == (
            (a.year + 1, 1) if a.month == 12 else (a.year, a.month + 1)
        )
    assert all((r["n_orders"] == 0) == (r["is_gap"] == 1) for r in rows)


def test_corr_stats_bounded(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.operators.relational_ext_queries import (
        q_corr_stats,
    )

    rows = q_corr_stats(spark, sf_dir).collect()
    assert rows and all(abs(r["corr_xy"]) <= 1.0 for r in rows)


def test_scan_orc_round_trip_counts(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.catalog import load_table
    from confluent_example_firehose_spark.sources.file_sources import q_scan_orc

    got = {r["event_type"]: r["n"] for r in q_scan_orc(spark, sf_dir).collect()}
    want = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_integrity_audit_clean_testdata(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.operators.relational_ext_queries import (
        q_integrity_audit,
    )

    rows = {r["check_name"]: r["n_bad"] for r in q_integrity_audit(spark, sf_dir).collect()}
    assert set(rows) == {
        "orders_orphan_custkey", "lineitem_orphan_orderkey",
        "orders_dup_orderkey", "customer_null_name",
        "lineitem_nonpositive_qty",
    }
    # driver testdata is referentially clean; a regression here means
    # the checks themselves broke (they must read 0 on clean data)
    assert all(v == 0 for v in rows.values())


def test_range_interval_window_frame(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.operators.relational_ext_queries import (
        q_window_range_interval,
    )

    df = q_window_range_interval(spark, sf_dir)
    rows = df.filter(F.col("user_id") == df.first()["user_id"]).collect()
    # frame is trailing: every count >= 1 (current row) and the cents
    # sum includes the current row's cents
    assert all(r["n_1h"] >= 1 for r in rows)


def test_funnel_monotone(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.operators.analytics_queries import (
        q_funnel,
    )

    r = q_funnel(spark, sf_dir).first()
    assert r["n_click"] >= r["n_click_view"] >= r["n_click_view_purchase"]
    assert 0 <= r["conv_1_2"] <= 1 and 0 <= r["conv_2_3"] <= 1


def test_cohort_retention_day0_full(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.operators.analytics_queries import (
        q_cohort_retention,
    )

    rows = q_cohort_retention(spark, sf_dir).collect()
    day0 = [r for r in rows if r["day_n"] == 0]
    # day 0 retention is 1.0 by construction (first-seen day is active)
    assert day0 and all(r["retention"] == 1.0 for r in day0)
    assert all(r["n_active"] <= r["cohort_size"] for r in rows)


def test_group_sample_exactly_k(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.operators.analytics_queries import (
        GROUP_SAMPLE_K,
        q_group_sample,
    )

    rows = q_group_sample(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["rk"])
    assert all(sorted(v) == list(range(1, GROUP_SAMPLE_K + 1))
               for v in by_lang.values())


def test_shuffle_hash_hint_takes_effect(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.operators.relational_ext_queries import (
        q_join_shuffle_hash,
    )

    plan = executed_plan(q_join_shuffle_hash(spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_one_open_version_per_key(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.operators.relational_ext_queries import (
        q_scd2_merge,
    )

    rows = q_scd2_merge(spark, sf_dir).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["c_custkey"], []).append(r)
    for k, vs in by_key.items():
        opens = [r for r in vs if r["is_current"] == 1]
        assert len(opens) == 1  # exactly one current row per key
        assert opens[0]["version"] == max(r["version"] for r in vs)
        if len(vs) == 2:  # updated key: v1 superseded by v2
            v1 = next(r for r in vs if r["version"] == 1)
            assert v1["superseded_by"] == 2
            assert k % 10 == 0


def test_listagg_matches_manual_ordered_agg(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.operators.relational_ext_queries import (
        q_listagg,
    )

    rows = {r["r_name"]: r["nations"] for r in q_listagg(spark, sf_dir).collect()}
    assert all("," in v for v in rows.values())
    # WITHIN GROUP order: comma-joined names are sorted
    for v in rows.values():
        parts = v.split(",")
        assert parts == sorted(parts)


def test_nullsafe_join_keeps_null_bucket(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.catalog import load_table
    from confluent_example_firehose_spark.operators.relational_ext_queries import (
        q_join_nullsafe,
    )

    rows = {r["bucket_name"]: r["n_orders"] for r in q_join_nullsafe(spark, sf_dir).collect()}
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .count()
    )
    # the NULLed bucket must survive the join with its full count
    assert rows.get("URGENT-BUCKET") == urgent
    total = load_table(spark, sf_dir, "orders").count()
    assert sum(rows.values()) == total


def test_label_centroids_bounded_and_complete(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.operators.scoring_queries import (
        q_label_centroids,
    )

    rows = q_label_centroids(spark, sf_dir).collect()
    # 10 labels -> 45 unordered pairs, all cosines in [-1, 1]
    assert len(rows) == 45
    assert all(-1.0 <= r["centroid_cos"] <= 1.0 for r in rows)
    assert all(r["label_a"] < r["label_b"] for r in rows)


def test_bpe_pairs_shape(spark_sf):
    spark, sf_dir = spark_sf
    from confluent_example_firehose_spark.operators.scoring_queries import (
        BPE_TOPK,
        q_bpe_pairs,
    )

    df = q_bpe_pairs(spark, sf_dir)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    rows = sorted(df.collect(), key=lambda r: r["rank"])
    assert len(rows) == BPE_TOPK
    assert all(len(r["pair"]) == 2 for r in rows)
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)


def test_trend_fit_recovers_constant_series(spark, tmp_path):
    # a flat series must fit slope ~ 0 with intercept = the constant
    import datetime

    from confluent_example_firehose_spark.operators import scoring_queries

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("flat", base + datetime.timedelta(hours=h), 3.5) for h in range(10)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    root = str(tmp_path)
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r["event_type"]: r for r in scoring_queries.q_trend_fit(spark, root).collect()}
    assert out["flat"]["slope_cents_per_hr"] == 0.0
    assert out["flat"]["intercept_cents"] == 350.0
