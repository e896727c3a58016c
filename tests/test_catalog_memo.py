"""Catalog relation-memo laws (optimization r13).

load_table memoizes the DataFrame plan object per (application,
resolved path, table, file identity) — pure relation metadata, no data.
Pinned here: (1) the memo returns the same object for the same bytes
(the 90-230 ms/call read.parquet rebuild is gone), (2) rewriting the
table in place is a guaranteed memo MISS with the fresh file's rows
served (never the stale relation), (3) results are identical to an
uncached load.
"""

from __future__ import annotations

import os

from pyspark.sql import Row

from confluent_example_firehose_spark.catalog import (
    _load_table_uncached,
    load_table,
)


def test_memo_hit_same_bytes(spark, sf_dir):
    a = load_table(spark, sf_dir, "documents")
    b = load_table(spark, sf_dir, "documents")
    assert a is b  # same plan object, no rebuild


def test_memo_result_matches_uncached(spark, sf_dir):
    cached = load_table(spark, sf_dir, "events")
    fresh = _load_table_uncached(spark, os.path.realpath(sf_dir), "events")
    assert cached.schema == fresh.schema
    assert cached.count() == fresh.count()


def test_new_session_gets_own_relation(spark, sf_dir):
    """ADVICE r13 item 1: sessions sharing one context must not share
    memoized relations — the DataFrame is bound to the session that
    built it (temp views / session confs would follow the wrong
    catalog)."""
    a = load_table(spark, sf_dir, "documents")
    other = spark.newSession()
    b = load_table(other, sf_dir, "documents")
    assert a is not b
    assert b.sparkSession is other
    # and the original session still serves its own entry
    assert load_table(spark, sf_dir, "documents") is a


def test_eviction_keeps_other_entries(spark, tmp_path, monkeypatch):
    """ADVICE r13 item 2: a full memo evicts ONE entry (oldest
    insertion), not the whole dict."""
    import confluent_example_firehose_spark.catalog as catalog
    from pyspark.sql import Row

    root = str(tmp_path)
    for name in ("t_a", "t_b", "t_c"):
        spark.createDataFrame([Row(doc_id=1)]).coalesce(1).write.parquet(
            os.path.join(root, f"{name}.parquet")
        )
    monkeypatch.setattr(catalog, "_TABLE_CACHE", {})
    monkeypatch.setattr(catalog, "_TABLE_CACHE_CAP", 2)
    a = load_table(spark, root, "t_a")
    b = load_table(spark, root, "t_b")
    load_table(spark, root, "t_c")  # cap reached: evicts oldest (t_a)
    assert len(catalog._TABLE_CACHE) == 2
    assert load_table(spark, root, "t_b") is b  # survivor still served
    assert load_table(spark, root, "t_a") is not a  # evicted: rebuilt


def test_rewrite_in_place_misses(spark, tmp_path):
    root = str(tmp_path)
    p = os.path.join(root, "documents.parquet")
    spark.createDataFrame(
        [Row(doc_id=1, text="one")]
    ).coalesce(1).write.mode("overwrite").parquet(p)
    first = load_table(spark, root, "documents")
    assert first.count() == 1
    # Rewrite the table at the same path: the file identity (size/
    # mtime_ns) changes, so the memo must miss and serve the new rows.
    spark.createDataFrame(
        [Row(doc_id=1, text="one"), Row(doc_id=2, text="two words")]
    ).coalesce(1).write.mode("overwrite").parquet(p)
    second = load_table(spark, root, "documents")
    assert second is not first
    assert second.count() == 2


class _NoUUIDSession:
    """A session wrapper whose JVM side cannot report a session UUID."""

    class _J:
        def sessionUUID(self):  # noqa: N802 (JVM method name)
            raise RuntimeError("no sessionUUID on this JVM")

    _jsparkSession = _J()


def test_session_fallback_token_never_reused():
    """ADVICE r13 item 3: without a JVM session UUID the memo key falls
    back to a per-session token. It is stable for one live session,
    distinct across live sessions, and never handed to a new session
    that reuses a collected session's id()."""
    import gc

    from confluent_example_firehose_spark.catalog import _session_uuid

    a, b = _NoUUIDSession(), _NoUUIDSession()
    tok_a = _session_uuid(a)
    assert _session_uuid(a) == tok_a
    assert _session_uuid(b) != tok_a
    dead_id = id(a)
    seen = {tok_a, _session_uuid(b)}
    del a
    gc.collect()
    # CPython hands a freed object's address to the next allocation of
    # the same size; keep allocating until one lands on it
    reused = None
    fresh = []
    for _ in range(1000):
        s = _NoUUIDSession()
        if id(s) == dead_id:
            reused = s
            break
        fresh.append(s)
    candidates = [reused] if reused is not None else fresh[:3]
    for s in candidates:
        tok = _session_uuid(s)
        assert tok not in seen
        seen.add(tok)
