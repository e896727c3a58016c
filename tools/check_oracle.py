"""Local mimic of the driver's correctness gate.

Runs each registered query on Spark and its oracle on DuckDB over the
same sf dir, compares row count, column names, and an order-insensitive
value hash (values stringified with float rounding). Not the driver's
exact hash — a strictly local pre-flight.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, "/root/repo")

import duckdb

from confluent_example_firehose_spark.registry import all_queries
from confluent_example_firehose_spark.schema import TABLE_NAMES
from confluent_example_firehose_spark.session import get_spark


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# Spark/DuckDB type families that must agree per output column: the
# driver hash stringifies via pandas, so a family mismatch (HUGEINT vs
# BIGINT, DECIMAL vs DOUBLE) diverges even on bit-identical values —
# the r7 q_dsir_sample failure mode.  Width differences inside a
# family (INT vs BIGINT) stringify identically and are fine.
def _spark_family(dt) -> str:
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s.startswith("decimal"):
        return "decimal"
    if s in ("string", "varchar"):
        return "string"
    if s.startswith("timestamp"):
        return "timestamp"
    if s == "date":
        return "date"
    if s == "boolean":
        return "bool"
    if s == "binary":
        return "binary"
    if s.startswith("array"):
        return "list"
    if s.startswith("map"):
        return "map"
    if s.startswith("struct"):
        return "struct"
    return s


def _duck_family(t: str) -> str:
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
        return "int"
    if t.startswith(("HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER",
                     "USMALLINT", "UTINYINT")):
        return "forbidden-int"  # never family-equal to Spark
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t == "VARCHAR":
        return "string"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    if t == "BOOLEAN":
        return "bool"
    if t == "BLOB":
        return "binary"
    if t.endswith("[]"):
        return "list"
    if t.startswith("MAP"):
        return "map"
    if t.startswith("STRUCT"):
        return "struct"
    return t


# DuckDB's own default is 80% of RAM, taken in the same process as a
# Spark driver with a multi-GiB heap; a runaway oracle must fail with
# DuckDB's out-of-memory error instead of taking the machine.
DUCKDB_MEMORY_LIMIT = "4GB"


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection bounded at DUCKDB_MEMORY_LIMIT, with one view
    per table over `sf_dir`'s parquet files."""
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{DUCKDB_MEMORY_LIMIT}'")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # callable oracles (data-dependent literals) must read the SAME
    # parquet this comparison reads
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    only = set(sys.argv[2:])
    con = connect(sf_dir)
    spark = get_spark("oracle-check")
    specs = all_queries()
    n_pass = n_fail = n_rows_only = 0
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        osql = spec.oracle_sql()
        if osql is None:
            print(f"ROWS {name}: {len(srows)} rows (rows-only)")
            n_rows_only += 1
            continue
        try:
            res = con.execute(osql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        else:
            # structural dtype-parity gate (r7 q_dsir_sample class):
            # DESCRIBE binds without re-executing the oracle
            try:
                ofam = {
                    c: _duck_family(t)
                    for c, t, *_ in con.execute("DESCRIBE " + osql).fetchall()
                }
                sfam = {f.name: _spark_family(f.dataType) for f in sdf.schema}
                for c in sorted(scols):
                    if sfam[c] != ofam[c]:
                        problems.append(
                            f"dtype-family[{c}]: spark={sfam[c]} duck={ofam[c]}"
                        )
            except Exception as e:  # noqa: BLE001
                problems.append(f"dtype-describe error: {e}")
            sh = table_hash([tuple(r) for r in srows], scols)
            oh = table_hash(orows, ocols)
            if sh != oh:
                problems.append(f"hash spark={sh} duck={oh}")
                # show first differing lines for debugging
                so = sorted(
                    "|".join(
                        norm_cell(t[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for t in [tuple(r) for r in srows]
                )
                oo = sorted(
                    "|".join(
                        norm_cell(t[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for t in orows
                )
                for a, b in zip(so, oo):
                    if a != b:
                        problems.append(f"  first diff:\n  spark: {a}\n  duck:  {b}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
