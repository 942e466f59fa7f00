"""Local mimic of the driver's correctness gate: run every queries() entry
and its oracle_sql() through DuckDB at a given sf, compare row count, column
names, and order-insensitive values. Both sides are pulled through their
pandas conversion (Spark ``toPandas()``, DuckDB ``.df()``) and compared by
exact cell repr — this is TYPE-SENSITIVE on purpose: DuckDB pandas-converts
HUGEINT and DECIMAL aggregates to float64, so an oracle whose final type
isn't pinned to BIGINT/DOUBLE hashes differently at the driver even when
the values are equal (the round-1 failure mode). Passing here implies
passing there.

Usage: python scripts/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations


import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from word_sense_disambiguation_spark.session import get_spark  # noqa: E402

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    # NO decimal->float or rounding leniency: a Decimal object on one side
    # and a float64 on the other must FAIL (it fails the driver's hash).
    if v is None:
        return "NULL"
    try:
        if v != v:  # NaN (covers float('nan') and np.nan)
            return "nan"
    except Exception:
        pass
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return str(bool(v)).lower()
    if isinstance(v, float) or type(v).__name__ in ("float32", "float64"):
        return "f:" + repr(float(v))
    import decimal

    if isinstance(v, decimal.Decimal):
        return "dec:" + str(v)
    import numbers

    if isinstance(v, numbers.Integral):
        return "i:" + str(int(v))
    return str(v)


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle_check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spark_pdf = df.toPandas()
            spark_cols = list(spark_pdf.columns)
            spark_rows = [list(t) for t in spark_pdf.itertuples(index=False, name=None)]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_rows)} rows (no oracle)")
            n_rows_only += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
            duck_cols = list(duck_pdf.columns)
            duck_rows = [list(t) for t in duck_pdf.itertuples(index=False, name=None)]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        if sorted(c.lower() for c in spark_cols) != sorted(c.lower() for c in duck_cols):
            print(f"FAIL  {name}: columns {spark_cols} vs {duck_cols}")
            n_fail += 1
            continue
        if len(spark_rows) != len(duck_rows):
            print(f"FAIL  {name}: rowcount {len(spark_rows)} vs {len(duck_rows)}")
            n_fail += 1
            continue
        a = rows_key(spark_cols, spark_rows)
        b = rows_key(duck_cols, duck_rows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: value mismatch, first diffs: {diff}")
            n_fail += 1
            continue
        print(f"PASS  {name}: {len(spark_rows)} rows")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
