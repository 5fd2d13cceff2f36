"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row count, column names, and order-insensitive values.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    # every cell normalizes to a (tag, value) tuple so the row sort is
    # TOTAL — raw None/str/nested-list cells made sorted() throw on
    # None-vs-str comparisons once nullable string columns appeared
    if v is None:
        return ("_",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("_",)
        # struct-pack the IEEE bits so -0.0 != +0.0 here, exactly like the
        # driver's value hash (Python's == treats them equal, which hid the
        # r4 search_topk_pq signed-zero divergence from this replica)
        return ("f", struct.pack(">d", v))
    if isinstance(v, int):
        return ("i", v)
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat().replace("+00:00", ""))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(norm_cell(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    return ("s", str(v))


# Spark DataType simpleString → dtype class; duckdb arrow type → same classes.
def spark_dtype_class(dt):
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "i"
    if s in ("float", "double"):
        return "f"
    if s.startswith("decimal"):
        return "d"
    if s in ("timestamp", "timestamp_ntz"):
        return "t"
    if s.startswith("array"):
        return "a:" + spark_dtype_class(dt.elementType)
    return s  # string, boolean, date, ...


def arrow_dtype_class(t):
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "i"
    if pa.types.is_floating(t):
        return "f"
    if pa.types.is_decimal(t):
        return "d"
    if pa.types.is_timestamp(t):
        return "t"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "a:" + arrow_dtype_class(t.value_type)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_date(t):
        return "date"
    return str(t)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    ), [cols[i] for i in order]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from dataingestion_spark.session import WORKER_DAEMON_MODULE

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("correctness-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        # Driver parity: its canonicalizer sorts rows with raw pandas and
        # throws on list cells (the r8 pack_token_id_rows red).  The old
        # tuple-normalization in norm_cell masked that class locally, so
        # reject non-scalar output columns outright.
        from pyspark.sql.types import ArrayType, MapType, StructType

        nonscalar = [
            f.name for f in sdf.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if nonscalar:
            failures.append(name)
            print(f"FAIL  {name}: non-scalar output columns {nonscalar} "
                  "(driver canon cannot sort list cells)")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            tbl = con.execute(oracles[name]).arrow()
            ocols = tbl.column_names
            orows = [tuple(r.values()) for r in tbl.to_pylist()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {str(e)[:200]}")
            continue
        sdt = {f.name: spark_dtype_class(f.dataType) for f in sdf.schema.fields}
        odt = {n: arrow_dtype_class(tbl.schema.field(n).type) for n in ocols}
        bad_dt = {n: (sdt.get(n), odt[n]) for n in ocols if sdt.get(n) != odt[n]}
        if bad_dt:
            failures.append(name)
            print(f"FAIL  {name}: dtype class mismatch (spark, oracle): {bad_dt}")
            continue
        sn, snc = norm_rows(scols, srows)
        on, onc = norm_rows(ocols, orows)
        if snc != onc:
            failures.append(name)
            print(f"FAIL  {name}: columns {snc} != {onc}")
        elif len(sn) != len(on):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(sn)} != {len(on)}")
        elif sn != on:
            failures.append(name)
            bad = next(i for i, (a, b) in enumerate(zip(sn, on)) if a != b)
            print(f"FAIL  {name}: values differ, first at sorted row {bad}:")
            print(f"      spark : {sn[bad]}")
            print(f"      oracle: {on[bad]}")
        else:
            print(f"OK    {name}: {len(sn)} rows")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
