"""Local replica of the driver's t2 correctness gate.

Runs every registered query on Spark AND its DuckDB oracle twin at
sf0.01, compares row count, column names, and an order-insensitive
value multiset. Run me before every commit:

    python tools/selfcheck.py [op_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _canon(v):
    """Canonicalize a cell value for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # guard against -0.0 vs 0.0 and float32 noise; declared queries
        # already round, this is just canonical formatting
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def _spark_kind(dt):
    """Collapse a Spark DataType to a comparable 'kind'."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return ("list", _spark_kind(dt.elementType))
    return {
        T.LongType: "int64",
        T.IntegerType: "int32",
        T.ShortType: "int16",
        T.ByteType: "int8",
        T.DoubleType: "float64",
        T.FloatType: "float32",
        T.StringType: "str",
        T.BooleanType: "bool",
        T.BinaryType: "binary",
        T.TimestampType: "ts",
        T.TimestampNTZType: "ts",
        T.DateType: "date",
    }.get(type(dt), str(dt))


def _arrow_kind(t):
    """Collapse an Arrow type (DuckDB result) to the same 'kind' space."""
    import pyarrow as pa

    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "str"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return ("list", _arrow_kind(t.value_type))
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_float64(t):
        return "float64"
    if pa.types.is_float32(t):
        return "float32"
    return str(t)  # int64 / int32 / decimal128(38,0) for HUGEINT


def _complex_cols(sdf) -> list[str]:
    """Output columns whose type the DRIVER's hasher cannot handle.

    The driver canonicalizes results via pandas sort_values over all
    columns; array/map/struct cells arrive as Python lists/dicts, which
    pandas cannot factorize ("unhashable type: 'list'",
    CORRECTNESS_r02/r03). Every query output column must therefore be
    scalar — serialize vectors to CSV strings or unpack to columns."""
    from pyspark.sql import types as T

    return [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def _dtype_drift(sdf, duck_arrow) -> list[str]:
    """Columns whose DuckDB arrow dtype != Spark dtype.

    The driver hashes results AFTER an arrow/pandas conversion, so a
    DuckDB HUGEINT (sum of INTEGER) vs Spark BIGINT renders differently
    and fails hash_match even when the Python values are equal — this
    check catches what the value comparison below is blind to
    (ADVICE.md round 1, sink_parquet_roundtrip)."""
    spark_kinds = {f.name: _spark_kind(f.dataType) for f in sdf.schema.fields}
    drift = []
    for name, typ in zip(duck_arrow.schema.names, duck_arrow.schema.types):
        sk = spark_kinds.get(name)
        dk = _arrow_kind(typ)
        if sk is not None and sk != dk:
            drift.append(f"{name}: spark={sk} duck={dk}")
    return drift


def main(only: list[str]) -> int:
    import duckdb

    from vectordb_agentic_rag_spark import ORACLES, QUERIES, load_all_operators
    from vectordb_agentic_rag_spark.session import get_spark
    from vectordb_agentic_rag_spark.tables import TABLES

    load_all_operators()
    sf_dir = os.environ.get("SELFCHECK_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    names = only or sorted(QUERIES)
    failures = []
    for name in names:
        fn = QUERIES[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        bad_cols = _complex_cols(sdf)
        if bad_cols:
            failures.append(name)
            print(
                f"FAIL {name}: non-scalar output cols {bad_cols} — the "
                "driver's hasher crashes on list/map cells; serialize or unpack"
            )
            continue
        if name not in ORACLES:
            status = "rows-only"
            ok = len(s_rows) >= 0
            print(f"{'ok  ' if ok else 'FAIL'} {name} [{status}] rows={len(s_rows)} "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            d_arrow = con.execute(ORACLES[name]).fetch_arrow_table()
            d_cols = d_arrow.schema.names
            d_rows = [
                tuple(col[i].as_py() for col in d_arrow.columns)
                for i in range(d_arrow.num_rows)
            ]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        drift = _dtype_drift(sdf, d_arrow)
        if drift:
            problems.append(f"dtype drift (would fail driver hash): {drift}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            sset, dset = _rowset(s_cols, s_rows), _rowset(d_cols, d_rows)
            if sset != dset:
                diff = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name} rows={len(s_rows)} ({time.time()-t0:.1f}s)")

    print(f"\n{len(names)-len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
