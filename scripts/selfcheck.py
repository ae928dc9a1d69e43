"""Replicates the driver's correctness gate locally: runs every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
given sf dir, compares row-count, schema width, and order-insensitive
values (sorted columns, rounded floats)."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from anserini_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out), [cols[i] for i in order]


def main(sf_dir: str):
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(srows)} rows")
            continue
        orel = con.execute(oracles[name])
        ocols = [d[0] for d in orel.description]
        orows = orel.fetchall()
        s_norm, s_cols = norm_rows(scols, [tuple(r) for r in srows])
        o_norm, o_cols = norm_rows(ocols, orows)
        ok_schema = s_cols == o_cols
        ok_count = len(s_norm) == len(o_norm)
        ok_vals = s_norm == o_norm
        status = "OK" if (ok_schema and ok_count and ok_vals) else "MISMATCH"
        if status != "OK":
            failures += 1
            print(f"{name:24s} {status} schema={ok_schema} "
                  f"count={len(s_norm)}/{len(o_norm)} vals={ok_vals}")
            if ok_schema and ok_count:
                diff = [
                    (a, b) for a, b in zip(s_norm, o_norm) if a != b
                ][:3]
                for a, b in diff:
                    print("   spark :", a)
                    print("   duckdb:", b)
        else:
            print(f"{name:24s} OK ({len(s_norm)} rows)")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
