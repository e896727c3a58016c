"""Registry-wide oracle output-dtype parity gate (r7 verdict item 2).

The driver's correctness hash materializes DuckDB results via
Arrow/pandas; any final output column whose DuckDB type stringifies
differently from Spark's (HUGEINT -> object/float vs BIGINT -> int64)
hash-mismatches even when values are bit-identical. r7's one red cell
(q_dsir_sample) was exactly this: `sum(tf)` types as HUGEINT in DuckDB
while Spark emits LongType — invisible to tools/check_oracle.py's
%.6g value hash by construction, so it needs this STRUCTURAL check.

Pure DuckDB (DESCRIBE binds without executing), so the whole registry
sweeps in seconds with no SparkSession. The Spark-side type-FAMILY
cross-check (int vs float vs string ...) runs in tools/check_oracle.py
on every per-round full gate, where both result sets are already
materialized.
"""

from __future__ import annotations

import os
import sys

import pytest

from confluent_example_firehose_spark.registry import all_queries

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)

# DuckDB output types pandas/Arrow renders differently from any Spark
# type: HUGEINT/UHUGEINT -> object or float64, DECIMAL -> decimal128
# objects, unsigned ints -> uint dtypes Spark never emits.
FORBIDDEN_PREFIXES = (
    "HUGEINT",
    "UHUGEINT",
    "DECIMAL",
    "UBIGINT",
    "UINTEGER",
    "USMALLINT",
    "UTINYINT",
)


@pytest.fixture(scope="module")
def duck():
    sys.path.insert(0, TOOLS)
    try:
        from check_oracle import connect
    finally:
        sys.path.remove(TOOLS)
    con = connect(SF_DIR)
    yield con
    con.close()


def test_no_forbidden_output_dtypes(duck):
    """Every registered oracle must bind, and no final output column
    may carry a HUGEINT/DECIMAL/unsigned DuckDB type.  Would have
    caught q_dsir_sample's uncast `sum(tf) AS n_tokens` (the r7 FAIL):
    DuckDB types sum(BIGINT) as HUGEINT unless CAST back to BIGINT."""
    # callable oracles embed data-dependent literals from this dir
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR
    bad: list[str] = []
    n = 0
    for name, spec in sorted(all_queries().items()):
        osql = spec.oracle_sql()
        if osql is None:  # rows-only by design (e.g. q_stateful_ttl)
            continue
        n += 1
        try:
            desc = duck.execute("DESCRIBE " + osql).fetchall()
        except Exception as e:  # noqa: BLE001
            bad.append(f"{name}: oracle does not bind: {e}")
            continue
        for col, typ, *_ in desc:
            if typ.upper().startswith(FORBIDDEN_PREFIXES):
                bad.append(
                    f"{name}.{col}: {typ} — add an explicit CAST "
                    "(e.g. CAST(sum(x) AS BIGINT)) in the oracle"
                )
    assert n > 150, f"registry looks truncated: only {n} oracles seen"
    assert not bad, "\n".join(bad)
