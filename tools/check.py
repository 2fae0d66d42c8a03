"""The DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet fixtures, then compares row count,
column names, and exact (order-insensitive) values. Stricter than a
hash: reports the first differing rows. ``tests/test_oracle_gate.py``
runs the same comparison (:func:`check_query`) over every registered
query at sf0.001 in tier-1.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import datetime

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    try:  # Decimal and friends
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except ImportError:
        pass
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def arrow_tag(t):
    """Canonical tag for an arrow type — catches INT/BIGINT/HUGEINT &
    decimal-precision drift between engines that value-compare equal
    locally but hash-mismatch in the driver (VERDICT r1 item 2)."""
    import pyarrow as pa

    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "str"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "bin"
    if pa.types.is_decimal(t):
        return f"dec({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        # tz presence is part of the tag: an instant-vs-wall drift can
        # flip the driver's hash even when local values compare equal.
        return "ts+tz" if t.tz else "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{arrow_tag(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{arrow_tag(f.type)}" for f in t)
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{arrow_tag(t.key_type)},{arrow_tag(t.item_type)}>"
    return str(t)  # int32, int64, double, bool, ...


def spark_tag(dt):
    """Same canonical tag, from a Spark DataType."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BinaryType):
        return "bin"
    if isinstance(dt, T.DecimalType):
        return f"dec({dt.precision},{dt.scale})"
    if isinstance(dt, T.TimestampType):
        return "ts+tz"  # Spark TIMESTAMP is an instant (session-tz)
    if isinstance(dt, T.TimestampNTZType):
        return "ts"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_tag(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{spark_tag(f.dataType)}" for f in dt.fields)
        return f"struct<{inner}>"
    if isinstance(dt, T.MapType):
        return f"map<{spark_tag(dt.keyType)},{spark_tag(dt.valueType)}>"
    return {
        "ByteType": "int8",
        "ShortType": "int16",
        "IntegerType": "int32",
        "LongType": "int64",
        "FloatType": "float",
        "DoubleType": "double",
        "BooleanType": "bool",
    }.get(type(dt).__name__, str(dt))


def type_drift(sdf, arrow_schema):
    """Per-column type mismatches between Spark schema & DuckDB arrow."""
    stags = {f.name: spark_tag(f.dataType) for f in sdf.schema.fields}
    otags = {f.name: arrow_tag(f.type) for f in arrow_schema}
    out = [
        f"{c}: spark={stags[c]} oracle={otags[c]}"
        for c in stags
        if c in otags and stags[c] != otags[c]
    ]
    # Dict-by-name shadows duplicates — drift in a shadowed column
    # would go unreported, so flag the duplication itself.
    if len(stags) != len(sdf.schema.fields):
        out.append("duplicate column names in spark schema")
    if len(otags) != len(arrow_schema):
        out.append("duplicate column names in oracle schema")
    return out


def oracle_db(sf_dir):
    """A DuckDB connection with one view per fixture table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_query(spark, con, fn, oracle, sf_dir):
    """Run one query on Spark and, when it has ``oracle`` SQL, compare
    it with DuckDB: row count, column names, type drift and exact
    order-insensitive values. Returns ``(spark_rows, problems)``; an
    empty ``problems`` list is a pass."""
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = sdf.collect()
    except Exception as ex:
        return 0, [f"spark error: {ex}"]
    if oracle is None:
        return len(srows), []
    try:
        otbl = con.execute(oracle).arrow()
        ocols = otbl.schema.names
        orows = list(zip(*[col.to_pylist() for col in otbl.columns])) if ocols else []
        if not orows and otbl.num_rows:
            orows = [()] * otbl.num_rows
    except Exception as ex:
        return len(srows), [f"duckdb error: {ex}"]
    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
    else:
        drift = type_drift(sdf, otbl.schema)
        if drift:
            problems.append("type drift: " + "; ".join(drift))
    if not problems:
        sc, oc = canon(srows, scols), canon(orows, ocols)
        diffs = [(i, a, b) for i, (a, b) in enumerate(zip(sc, oc)) if a != b]
        if diffs:
            i, a, b = diffs[0]
            problems.append(
                f"{len(diffs)}/{len(sc)} rows differ; first @{i}:\n  spark : {a}\n  oracle: {b}"
            )
    return len(srows), problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from go_http_data_pipeline_spark.session import get_spark

    spark = get_spark("check")
    con = oracle_db(sf_dir)

    qs, oracles = e.queries(), e.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        n_rows, problems = check_query(spark, con, fn, oracles.get(name), sf_dir)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
            continue
        kind = "PASS" if name in oracles else "rows-only"
        flag = "  (EMPTY — verifies nothing!)" if not n_rows else ""
        print(f"{kind} {name}: {n_rows} rows  [{time.time()-t0:.1f}s]{flag}")
        if name in oracles:
            n_pass += 1
        else:
            n_rows_only += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
