"""Table catalog: loaders over the driver-generated parquet.

Parquet scans are the batch twin of the reference's Kafka source
(AbstractFirehose.java:68-74); Catalyst pushes predicates and prunes
columns into the scan, which is what makes the same logical plans
viable at 100 TB (partition pruning + column pruning happen before IO).
"""

from __future__ import annotations

import itertools
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import TABLE_NAMES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Relation-metadata memo (optimization r13, guide §6 "file listing is
# cached per session"): `spark.read.parquet(path)` costs 90-230 ms of
# driver-side work PER CALL on this box (FileIndex listing + footer
# schema read + analysis), and every query invocation pays it for every
# table it touches — ~0.1-0.45 s of the per-query wall was rebuilding
# identical scan relations. The memo returns the SAME DataFrame object
# (an immutable logical plan — no data, no results; every action still
# scans the parquet in full), keyed by application, resolved path, and
# the file-level data identity (size+mtime), so a regenerated table or
# a new session can never serve a stale relation — the same key
# discipline as caching.corpus_scalars. This is what a catalog does in
# any engine (Hive relation cache / Iceberg table metadata); the
# repeated-read.parquet form was the anomaly.
_TABLE_CACHE: dict[tuple, DataFrame] = {}
_TABLE_CACHE_CAP = 256

# Fallback session identity when the JVM session has no UUID to give:
# a token per live session object, never reused. id() is not an
# identity here — CPython reuses it once the session is collected, and
# a new session would then be served a relation bound to the dead one.
_SESSION_TOKENS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SESSION_SEQ = itertools.count()


def _session_uuid(spark: SparkSession) -> str:
    """Identity of the LIVE session wrapper (ADVICE r13 item 1): two
    sessions sharing one context (spark.newSession()) must not share
    memoized relations — a DataFrame is bound to the session that built
    it, so createOrReplaceTempView / session-conf-sensitive analysis
    would otherwise follow the wrong session's catalog."""
    try:
        return str(spark._jsparkSession.sessionUUID())
    except Exception:
        return _SESSION_TOKENS.setdefault(spark, f"session-{next(_SESSION_SEQ)}")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .caching import table_identity

    sf_real = os.path.realpath(sf_dir)
    ident = table_identity(sf_real, name)
    key = (
        spark.sparkContext.applicationId,
        _session_uuid(spark),
        sf_real,
        name,
        ident,
    )
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = _load_table_uncached(spark, sf_real, name)
        # Re-stat after the build (ADVICE r13 item 4): a rewrite of the
        # table between the stat and read.parquet would otherwise cache
        # the NEW files' relation under the OLD identity key; skip
        # caching when the identity moved — the next call re-keys.
        if table_identity(sf_real, name) == ident:
            if len(_TABLE_CACHE) >= _TABLE_CACHE_CAP:
                # Evict the oldest insertion, not the whole memo
                # (ADVICE r13 item 2: a full clear() forces every hot
                # relation to repay the 90-230 ms rebuild at once).
                _TABLE_CACHE.pop(next(iter(_TABLE_CACHE)))
            _TABLE_CACHE[key] = df
    return df


def _load_table_uncached(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # Normalize events.ts to TIMESTAMP_LTZ whatever the generator
        # wrote (the driver regenerates testdata between rounds and has
        # switched physical types before):
        #  - TIMESTAMP(NANOS) reads as raw long under the nanosAsLong
        #    session flag -> integer-divide (not float: 1.7e18 ns
        #    overflows double mantissa) to micros, exactly DuckDB's own
        #    truncation;
        #  - TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
        #    TIMESTAMP_NTZ -> cast to LTZ; the session timezone is
        #    pinned UTC (session.py) so the wall-clock is preserved and
        #    unix_micros()/window() downstream keep working.
        t = dict(df.dtypes).get("ts")
        if t == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif t == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (for the SQL API surface)."""
    tables = load_all(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
