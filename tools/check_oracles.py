"""Local mimic of the driver's correctness gate: run each Spark query and
its DuckDB oracle side-by-side, compare row count / schema / sorted values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import decimal
    import math

    if isinstance(v, decimal.Decimal):
        return f"{v:.6f}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def _spark_type_str(dt):
    """Canonical type string for a Spark DataType, arrow-flavoured so it can
    be compared against DuckDB's arrow result schema."""
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    return {
        T.LongType: "int64", T.IntegerType: "int32", T.ShortType: "int16",
        T.ByteType: "int8", T.DoubleType: "double", T.FloatType: "float",
        T.StringType: "string", T.BooleanType: "bool", T.DateType: "date",
        T.TimestampType: "timestamp", T.TimestampNTZType: "timestamp",
        T.BinaryType: "binary",
    }.get(type(dt), dt.simpleString())


def _arrow_type_str(at):
    import pyarrow as pa

    if pa.types.is_decimal(at):
        return f"decimal({at.precision},{at.scale})"
    if pa.types.is_timestamp(at):
        return "timestamp"
    if pa.types.is_large_string(at) or pa.types.is_string(at):
        return "string"
    if pa.types.is_date(at):
        return "date"
    if pa.types.is_boolean(at):
        return "bool"
    if pa.types.is_large_binary(at) or pa.types.is_binary(at):
        return "binary"
    return str(at)


def compare(name, spark_df, duck_rows, duck_cols, duck_arrow_schema=None):
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_cols)
    if s_cols != d_cols:
        return f"SCHEMA MISMATCH spark={s_cols} duck={d_cols}"
    # Type-strict compare: the driver hashes TYPED values, so a value-identical
    # result with a widened aggregate type (DuckDB HUGEINT / DECIMAL(38,2) vs
    # Spark bigint / decimal(28,2)) still fails its gate. Surface that here.
    if duck_arrow_schema is not None:
        s_types = {f.name: _spark_type_str(f.dataType) for f in spark_df.schema.fields}
        d_types = {
            f.name: _arrow_type_str(f.type) for f in duck_arrow_schema
        }
        bad = {
            c: (s_types[c], d_types[c])
            for c in s_cols
            if s_types[c] != d_types[c]
        }
        if bad:
            return f"TYPE MISMATCH (spark,duck): {bad}"
    s_rows = spark_df.collect()
    if len(s_rows) != len(duck_rows):
        return f"ROWCOUNT MISMATCH spark={len(s_rows)} duck={len(duck_rows)}"
    s_set = sorted(
        tuple(norm_cell(r[c]) for c in s_cols) for r in s_rows
    )
    idx = {c: i for i, c in enumerate(duck_cols)}
    d_set = sorted(
        tuple(norm_cell(r[idx[c]]) for c in s_cols) for r in duck_rows
    )
    if s_set != d_set:
        diffs = [(a, b) for a, b in zip(s_set, d_set) if a != b][:3]
        return f"VALUE MISMATCH (first diffs: {diffs})"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from kgspark.entry_queries import ORACLES, QUERIES
    from kgspark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        if name not in ORACLES:
            try:
                n = fn(spark, sf_dir).count()
                print(f"{name:35s} NO-ORACLE rows={n}")
            except Exception as e:
                print(f"{name:35s} NO-ORACLE ERROR: {e}")
                n_fail += 1
            continue
        try:
            sdf = fn(spark, sf_dir)
            duck_arrow = con.execute(ORACLES[name]).arrow()
            duck_cols = duck_arrow.column_names
            duck_rows = [
                tuple(r[c] for c in duck_cols) for r in duck_arrow.to_pylist()
            ]
            err = compare(name, sdf, duck_rows, duck_cols, duck_arrow.schema)
            if err:
                print(f"{name:35s} FAIL {err}")
                n_fail += 1
            else:
                print(f"{name:35s} OK   rows={len(duck_rows)}")
                n_pass += 1
        except Exception as e:
            print(f"{name:35s} ERROR {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
    print(f"\n{n_pass} ok, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
