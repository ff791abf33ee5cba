"""Local replica of the driver's t2 correctness gate.

Runs each declared Spark query and its DuckDB oracle SQL on the same
parquet tables, then compares row count, column-name set, and an
order-insensitive value representation (columns sorted by name, rows
sorted). Used by tests and as a CLI (`python tests/oracle_harness.py
[sf_dir] [query ...]`) while iterating.
"""

from __future__ import annotations

import math
import sys
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import duckdb

SF_DIR_DEFAULT = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def canonical(rows, columns):
    """Columns sorted by name, rows sorted — order-insensitive."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(row[i]) for i in order) for row in rows)


def compare(spark, sf_dir: str, name: str, query_fn, sql: str | None):
    sdf = query_fn(spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns
    result = {"name": name, "spark_rows": len(srows)}
    if sql is None:
        result["status"] = "rows-only"
        result["ok"] = len(srows) >= 0
        return result
    con = duck_connection(sf_dir)
    cur = con.execute(sql)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    result["oracle_rows"] = len(drows)
    cols_match = sorted(scols) == sorted(dcols)
    result["cols_match"] = cols_match
    if not cols_match:
        result["spark_cols"] = sorted(scols)
        result["oracle_cols"] = sorted(dcols)
    values_match = cols_match and canonical(srows, scols) == canonical(drows, dcols)
    result["values_match"] = values_match
    if cols_match and not values_match:
        s_can, d_can = canonical(srows, scols), canonical(drows, dcols)
        diffs = [(a, b) for a, b in zip(s_can, d_can) if a != b]
        result["first_diffs"] = diffs[:3]
        if len(s_can) != len(d_can):
            result["row_count_diff"] = (len(s_can), len(d_can))
    result["ok"] = bool(cols_match and values_match and len(srows) == len(drows))
    return result


def main():
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as e
    from etl_with_s3__dynamodb_and_glue_spark import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR_DEFAULT
    only = set(sys.argv[2:])
    spark = get_spark("oracle-harness")
    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            r = compare(spark, sf_dir, name, fn, oracles.get(name))
        except Exception as exc:  # noqa: BLE001
            r = {"name": name, "ok": False, "error": f"{type(exc).__name__}: {exc}"}
        status = "OK " if r.get("ok") else "FAIL"
        if not r.get("ok"):
            failures += 1
        print(status, r)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
