"""Exactness at the Avro, Arrow IPC, TFRecord and WebDataset boundaries:
values that a pandas crossing would change — nullable longs above 2^53,
NaN floats and timestamps under a non-UTC session time zone — must
reach the files and come back unchanged."""

import math
import os

from pyspark.sql import functions as F

from dataingestion_spark.sinks.webdataset import (
    read_webdataset, read_webdataset_split, write_webdataset,
)
from dataingestion_spark.sources.arrow_ipc import (
    read_arrow_ipc, read_arrow_ipc_split, write_arrow_ipc,
)
from dataingestion_spark.sources.avro import (
    read_avro, read_avro_split, read_container, write_avro,
)
from dataingestion_spark.sources.tfrecord import (
    _iter_records, decode_example, read_tfrecord, read_tfrecord_split,
    write_tfrecord,
)

_TZ = "spark.sql.session.timeZone"


def test_nullable_longs_above_2_53_roundtrip(spark, tmp_path):
    """A nullable long column travels as float64 through pandas, which
    rounds 2^60 + 1 to 2^60; both writers must store it exactly."""
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 5 != 0,
               F.lit(2 ** 60) + F.col("id")).alias("big"))
    want = {k: None if k % 5 == 0 else 2 ** 60 + k for k in range(1000)}

    av, ipc = str(tmp_path / "avro"), str(tmp_path / "ipc")
    write_avro(df, av, shards=2, order_by="k", block_rows=8)
    write_arrow_ipc(df, ipc, shards=2, order_by="k")
    for back in (read_avro(spark, av), read_arrow_ipc(spark, ipc)):
        assert {r["k"]: r["big"] for r in back.collect()} == want


def test_tfrecord_nullable_longs_and_nan_roundtrip(spark, tmp_path):
    """Through write_tfrecord and both TFRecord readers, 2^60 + k stays
    exact with a null every 5th row, and a float NaN stays NaN —
    stored in the file as a NaN feature, distinct from the absent
    feature a null becomes."""
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 5 != 0,
               F.lit(2 ** 60) + F.col("id")).alias("big"),
        F.when(F.col("id") % 3 == 0, F.lit(float("nan")))
         .when(F.col("id") % 3 == 1, F.col("id") * 0.5)
         .cast("float").alias("f"))
    features = {"k": "int64", "big": "int64", "f": "float"}
    out = str(tmp_path / "tfr")
    write_tfrecord(df, features, out, shards=2)

    stored = {}
    for name in os.listdir(out):
        with open(os.path.join(out, name), "rb") as fh:
            data = fh.read()
        for payload in _iter_records(data, name):
            ex = decode_example(payload)
            stored[ex["k"][1][0]] = ex
    assert len(stored) == 200
    for k, ex in stored.items():
        assert ex.get("big") == (
            None if k % 5 == 0 else ("int64_list", [2 ** 60 + k]))
        if k % 3 == 0:
            assert math.isnan(ex["f"][1][0])
        assert ("f" in ex) == (k % 3 != 2)

    for back in (read_tfrecord(spark, out, features),
                 read_tfrecord_split(spark, out, features, split_mb=1)):
        got = {r["k"]: r for r in back.collect()}
        assert {k: r["big"] for k, r in got.items()} == {
            k: None if k % 5 == 0 else 2 ** 60 + k for k in range(200)}
        for k, r in got.items():
            if k % 3 == 0:
                assert math.isnan(r["f"]), k
            else:
                assert r["f"] == (k * 0.5 if k % 3 == 1 else None), k


def test_webdataset_nullable_longs_and_nan_roundtrip(spark, tmp_path):
    """Through write_webdataset and both WebDataset readers, the ``.txt``
    member of 2^60 + k holds its exact decimal with a null every 5th
    row, and a NaN double in the ``.json`` member reads ``nan``, apart
    from a null, which writes no member."""
    df = spark.range(200).select(
        (F.col("id") % 3).alias("shard_id"),
        F.format_string("%04d", "id").alias("key"),
        F.when(F.col("id") % 5 != 0,
               F.lit(2 ** 60) + F.col("id")).alias("text"),
        F.when(F.col("id") % 3 == 0, F.lit(float("nan")))
         .when(F.col("id") % 3 == 1, F.col("id") * 0.5).alias("meta"))
    want = {}
    for k in range(200):
        if k % 5:
            want[(f"{k:04d}", "txt")] = str(2 ** 60 + k)
        if k % 3 != 2:
            want[(f"{k:04d}", "json")] = "nan" if k % 3 == 0 else str(k * 0.5)

    out = str(tmp_path / "wds")
    manifest = write_webdataset(df, out).collect()
    assert sum(m["n_members"] for m in manifest) == len(want)
    for back in (read_webdataset(spark, out),
                 read_webdataset_split(spark, out, split_mb=1)):
        got = {(r["key"], r["ext"]): r["payload"] for r in back.collect()}
        assert got == want


def test_arrow_ipc_floors_foreign_nanosecond_timestamps(spark, tmp_path):
    """A pyarrow-written Feather file with ``timestamp[ns]`` values that
    are not whole microseconds reads through both IPC readers, floored
    to the microsecond like Spark's own conversions (a pre-1970 value
    moves earlier, not toward zero)."""
    import pyarrow as pa
    import pyarrow.feather as feather

    ns = [1600000001000003999, -1000003999, None]
    d = tmp_path / "ipc"
    d.mkdir()
    feather.write_feather(
        pa.table({"k": [0, 1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(d / "foreign.arrow"))
    want = {0: 1600000001000003, 1: -1000004, 2: None}
    for back in (read_arrow_ipc(spark, str(d)),
                 read_arrow_ipc_split(spark, str(d), split_mb=1)):
        got = back.select("k", F.unix_micros("ts").alias("u")).collect()
        assert {r["k"]: r["u"] for r in got} == want


def test_timestamps_keep_instants_under_non_utc_session(spark, tmp_path):
    """Written under America/Los_Angeles, the files hold the source
    instants; read back under Los Angeles and Kolkata, every reader
    returns the source ``unix_micros`` — through the vectorized Avro
    decoder (125 blocks) and its scalar fallback (2 blocks), top-level
    and inside a struct."""
    import pyarrow as pa

    base = 1_600_000_001_000_003
    ts = F.timestamp_micros(F.lit(base) + F.col("id") * 1_000_003)
    src = spark.range(2000).select(
        F.col("id").alias("k"), ts.alias("ts"),
        F.struct(ts.alias("t")).alias("st"))
    want = [base + k * 1_000_003 for k in range(2000)]

    prev = spark.conf.get(_TZ)
    try:
        spark.conf.set(_TZ, "America/Los_Angeles")
        avro_dirs = []
        for block_rows in (16, 1024):
            d = str(tmp_path / f"avro{block_rows}")
            write_avro(src, d, shards=1, order_by="k",
                       block_rows=block_rows)
            avro_dirs.append(d)
            (name,) = os.listdir(d)
            _, rows = read_container(open(os.path.join(d, name),
                                          "rb").read())
            assert [r["ts"].value // 1000 for r in rows] == want
            assert [r["st"]["t"].value // 1000 for r in rows] == want
        ipc = str(tmp_path / "ipc")
        write_arrow_ipc(src, ipc, shards=1, order_by="k",
                        batch_rows=256)
        (name,) = os.listdir(ipc)
        tbl = pa.ipc.open_file(os.path.join(ipc, name)).read_all()
        assert tbl.column("ts").cast(pa.int64()).to_pylist() == want
        st = tbl.column("st").combine_chunks().field("t")
        assert st.cast(pa.int64()).to_pylist() == want

        for tz in ("America/Los_Angeles", "Asia/Kolkata"):
            spark.conf.set(_TZ, tz)
            readers = [read_arrow_ipc(spark, ipc),
                       read_arrow_ipc_split(spark, ipc, split_mb=1)]
            for d in avro_dirs:
                readers += [read_avro(spark, d),
                            read_avro_split(spark, d, split_mb=1)]
            for back in readers:
                got = back.select(F.unix_micros("ts").alias("u"),
                                  F.unix_micros("st.t").alias("v")) \
                    .orderBy("u").collect()
                assert [r["u"] for r in got] == want, tz
                assert [r["v"] for r in got] == want, tz
    finally:
        spark.conf.set(_TZ, prev)


def test_avro_nullable_double_keeps_nan_apart_from_null(spark, tmp_path):
    """A nullable double holding both NaN and null: write_avro stores a
    NaN as a NaN and a null as the union's null branch, through the
    vectorized encoder (flat, and a struct child it flattens) and the
    scalar fallback (a timestamp column sends the shard there; it also
    carries the value as an element of a list), at 1024-row and 2-row
    blocks."""
    def x(c):
        return (F.when(c % 3 == 0, F.lit(float("nan")))
                .when(c % 3 == 1, c * 0.5))

    base = spark.range(60).select(
        F.col("id").alias("k"), x(F.col("id")).alias("x"),
        F.struct(x(F.col("id") + 1).alias("y")).alias("s"))
    frames = {"vectorized": base,
              "scalar": base.withColumn("ts", F.timestamp_seconds("k"))
                            .withColumn("a", F.array(x(F.col("k") + 2)))}

    def same(got, k):
        if k % 3 == 0:
            return got is not None and math.isnan(got)
        return got == (k * 0.5 if k % 3 == 1 else None)

    for path_kind, df in frames.items():
        for block_rows in (1024, 2):
            out = str(tmp_path / f"{path_kind}{block_rows}")
            write_avro(df, out, shards=2, order_by="k",
                       block_rows=block_rows)
            stored = []
            for name in os.listdir(out):
                with open(os.path.join(out, name), "rb") as fh:
                    stored += read_container(fh.read(), name)[1]
            back = read_avro(spark, out).collect()
            for rows in (stored, back):
                assert len(rows) == 60
                for r in rows:
                    k = r["k"]
                    assert same(r["x"], k), (path_kind, block_rows, k, r["x"])
                    assert same(r["s"]["y"], k + 1), (path_kind, k, r["s"])
                    if path_kind == "scalar":
                        assert same(r["a"][0], k + 2), (k, r["a"])
