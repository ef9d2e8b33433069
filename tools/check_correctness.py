"""Local stand-in for the driver's t2 correctness gate.

Runs every catalog query on Spark AND its DuckDB oracle at sf0.01,
then compares row count, sorted-by-name schema, and order-insensitive
values. Stricter than a hash: exact value equality after normalization
(floats compared exactly; any mismatch prints the worst offender so the
query can be made deterministic, not fuzzed).
Each query runs through catalog.run_query, so the persists it makes
are released before the next query starts.

Type-STRICT by default (r8, after the r7 driver FAIL on
quantize_embeddings): the driver's value hash is type-sensitive, so a
DuckDB HUGEINT/Decimal cell never hash-matches a Spark BIGINT even when
the values are numerically equal. Strict mode therefore tags every
scalar with its type class (bool / int / float / Decimal distinct)
before comparing; values within a class still compare numerically
(Decimal scale alone doesn't differ). `--loose` restores the pre-r8
numeric-only comparison for debugging.

Usage: python tools/check_correctness.py [--sf DIR] [--loose] [name ...]
"""

from __future__ import annotations

import argparse
import math
import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, "/root/repo")

from fegis_spark.catalog import catalog, run_query  # noqa: E402
from fegis_spark.model import TABLES  # noqa: E402
from fegis_spark.session import configure_for_oracle, get_spark  # noqa: E402


STRICT = True


def norm_cell(v):
    if isinstance(v, Decimal):
        return ("dec", v) if STRICT else float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return ("bool", v) if STRICT else v
    if isinstance(v, int):
        return ("int", v) if STRICT else v
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN") if STRICT else "NaN"
        return ("float", v) if STRICT else v
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def compare(name: str, spark_df, con, sql: str) -> list[str]:
    errs = []
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = spark_df.columns
    rel = con.sql(sql)
    d_cols = rel.columns
    if STRICT:
        # Driver-faithful: the driver hashes the DuckDB result through
        # Arrow, where HUGEINT surfaces as decimal128(38,0) → Decimal.
        # fetchall() would fold it to Python int and mask the class.
        tbl = rel.fetch_arrow_table()
        d_rows = [tuple(d[c] for c in d_cols) for d in tbl.to_pylist()]
    else:
        d_rows = rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        errs.append(f"schema: spark={sorted(s_cols)} duck={sorted(d_cols)}")
        return errs
    if len(s_rows) != len(d_rows):
        errs.append(f"rowcount: spark={len(s_rows)} duck={len(d_rows)}")
    a = norm_rows(s_cols, s_rows)
    b = norm_rows(d_cols, d_rows)
    if a != b:
        n_bad = sum(1 for x, y in zip(a, b) if x != y) + abs(len(a) - len(b))
        errs.append(f"values: {n_bad} differing rows of {max(len(a), len(b))}")
        for x, y in zip(a, b):
            if x != y:
                errs.append(f"  first diff:\n   spark={x!r}\n   duck ={y!r}")
                break
    return errs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--loose",
        action="store_true",
        help="pre-r8 numeric-only comparison (Decimal folded to float)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    global STRICT
    STRICT = not args.loose

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    spark = configure_for_oracle(get_spark("correctness"))
    entries = catalog()
    names = args.names or list(entries)
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        e = entries[name]

        def build(e=e):
            return e.builder(spark, args.sf)

        try:
            if e.oracle is None:
                cnt = run_query(spark, build, lambda df: df.count())
                print(f"ROWSONLY {name}: {cnt} rows")
                n_rowsonly += 1
                continue
            errs = run_query(
                spark, build, lambda df, e=e: compare(e.name, df, con, e.oracle)
            )
        except Exception as ex:  # noqa: BLE001
            errs = [f"EXCEPTION: {type(ex).__name__}: {ex}"]
        if errs:
            n_fail += 1
            print(f"FAIL {name}")
            for er in errs:
                print(f"  {er}")
        else:
            n_pass += 1
            print(f"PASS {name}")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
