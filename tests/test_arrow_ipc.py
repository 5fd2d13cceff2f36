"""Arrow IPC (Feather v2) source/sink (sources/arrow_ipc.py)."""

import os

import pytest
from pyspark.sql import functions as F

from dataingestion_spark.sources.arrow_ipc import (
    read_arrow_ipc, write_arrow_ipc,
)


def test_roundtrip_determinism_and_projection(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out1, out2 = str(tmp_path / "a1"), str(tmp_path / "a2")
    names = write_arrow_ipc(docs, out1, shards=3, order_by="doc_id")
    assert names == [f"part-{i:05d}-of-00003.arrow" for i in range(3)]
    # genuine Feather v2 on disk: ARROW1 magic
    raw = (tmp_path / "a1" / names[0]).read_bytes()
    assert raw[:6] == b"ARROW1"
    # byte-deterministic re-export
    write_arrow_ipc(docs, out2, shards=3, order_by="doc_id")
    for n in names:
        assert (tmp_path / "a1" / n).read_bytes() == \
            (tmp_path / "a2" / n).read_bytes()

    back = read_arrow_ipc(spark, out1)
    assert back.schema == docs.schema
    assert {tuple(r) for r in back.collect()} == \
        {tuple(r) for r in docs.collect()}

    # column projection prunes at the deserialization boundary
    two = read_arrow_ipc(spark, out1, columns=["doc_id", "lang"])
    assert two.columns == ["doc_id", "lang"]
    assert two.count() == docs.count()
    with pytest.raises(ValueError, match="columns not in schema"):
        read_arrow_ipc(spark, out1, columns=["nope"])


def test_schema_mismatch_fails_loudly(spark, tmp_path):
    import pyarrow as pa

    a = spark.range(3).select(F.col("id").alias("k"),
                              F.lit("x").alias("v"))
    out = str(tmp_path / "mix")
    write_arrow_ipc(a, out, shards=1)
    # drop a second file whose 'v' has a different type
    tbl = pa.table({"k": pa.array([9], pa.int64()),
                    "v": pa.array([1.5], pa.float64())})
    with pa.OSFile(os.path.join(out, "zz-other.arrow"), "wb") as sink:
        with pa.ipc.new_file(sink, tbl.schema) as w:
            w.write_table(tbl)
    with pytest.raises(Exception, match="expected"):
        read_arrow_ipc(spark, out).collect()
    # empty dir fails with a clear message (a missing path fails with
    # Spark's own PATH_NOT_FOUND before ours)
    (tmp_path / "nothing_here").mkdir()
    with pytest.raises(Exception, match="no files match"):
        read_arrow_ipc(spark, str(tmp_path / "nothing_here"))


def test_native_buffer_compression_roundtrip(spark, tmp_path):
    """IPC per-buffer zstd: smaller on disk, still random-access by
    batch, reads back transparently (and stays byte-deterministic)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plain, comp = str(tmp_path / "p"), str(tmp_path / "c")
    (pname,) = write_arrow_ipc(docs, plain, shards=1, order_by="doc_id")
    (cname,) = write_arrow_ipc(docs, comp, shards=1, order_by="doc_id",
                               compression="zstd")
    psize = os.path.getsize(os.path.join(plain, pname))
    csize = os.path.getsize(os.path.join(comp, cname))
    assert csize < psize * 0.8
    back = read_arrow_ipc(spark, comp)
    assert {tuple(r) for r in back.collect()} == \
        {tuple(r) for r in docs.collect()}
    comp2 = str(tmp_path / "c2")
    write_arrow_ipc(docs, comp2, shards=1, order_by="doc_id",
                    compression="zstd")
    assert (tmp_path / "c2" / cname).read_bytes() == \
        (tmp_path / "c" / cname).read_bytes()
    with pytest.raises(ValueError, match="unsupported compression"):
        write_arrow_ipc(docs, comp, compression="gzip")


def test_batch_rows_controls_ipc_granularity(spark, tmp_path):
    import pyarrow as pa

    docs = spark.range(0, 1000).select(F.col("id").alias("k"))
    out = str(tmp_path / "b")
    (name,) = write_arrow_ipc(docs, out, shards=1, batch_rows=100)
    reader = pa.ipc.open_file(os.path.join(out, name))
    assert reader.num_record_batches == 10
    assert sum(reader.get_batch(i).num_rows
               for i in range(reader.num_record_batches)) == 1000


def test_adversarial_content_roundtrip(spark, tmp_path):
    """Nulls, empty strings, unicode, newlines, binary, arrays — the
    cells that break interchange layers — survive the IPC round trip."""
    from pyspark.sql import types as T

    rows = [
        (1, "a\nb", bytearray(b"\x00\xff"), [1, 2], 1.5),
        (2, None, None, None, None),
        (3, "é中\U0001f600", bytearray(b""), [], 0.0),
        (4, "", bytearray(b"x"), [7], float("inf")),
    ]
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField("f", T.DoubleType()),
    ])
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / "adv")
    write_arrow_ipc(df, out, shards=2, order_by="k")
    back = read_arrow_ipc(spark, out)
    norm = lambda r: (r[0], r[1], bytes(r[2]) if r[2] is not None else None,
                      tuple(r[3]) if r[3] is not None else None, r[4])
    assert {norm(r) for r in back.collect()} == \
        {norm(r) for r in df.collect()}


def test_split_reader_equals_whole_file(spark, tmp_path):
    """Footer-indexed batch splitting: byte-range tasks must yield
    exactly the whole-file rows, with column pruning intact, for both
    uncompressed and zstd per-buffer-compressed shards."""
    import hashlib

    from dataingestion_spark.sources.arrow_ipc import (
        read_arrow_ipc, read_arrow_ipc_split, write_arrow_ipc,
    )

    docs = spark.createDataFrame(
        [(i, hashlib.sha256(str(i).encode()).hexdigest() * 8,
          float(i) / 3) for i in range(6000)],
        "doc_id long, body string, score double")
    for comp in (None, "zstd"):
        d = str(tmp_path / f"ipc_{comp}")
        write_arrow_ipc(docs, d, shards=1, order_by="doc_id",
                        batch_rows=256, compression=comp)
        whole = {tuple(r) for r in read_arrow_ipc(spark, d).collect()}
        split = {tuple(r) for r in
                 read_arrow_ipc_split(spark, d, split_mb=1).collect()}
        assert split == whole and len(split) == 6000
        pruned = read_arrow_ipc_split(spark, d, columns=["doc_id"],
                                      split_mb=1)
        assert pruned.columns == ["doc_id"]
        assert sorted(r["doc_id"] for r in pruned.collect()) \
            == list(range(6000))


def test_split_reader_over_memory_backend(spark, tmp_path):
    """Batch ranges through a non-POSIX range-read backend: the footer
    and each task's batches arrive via pa.PythonFile over RangedFile."""
    import os

    from dataingestion_spark.sinks.data_backend import MemoryDataBackend
    from dataingestion_spark.sources.arrow_ipc import (
        read_arrow_ipc_split, write_arrow_ipc,
    )

    docs = spark.createDataFrame(
        [(i, "y" * 500) for i in range(4000)],
        "doc_id long, body string")
    d = str(tmp_path / "ipc_mem")
    write_arrow_ipc(docs, d, shards=1, order_by="doc_id",
                    batch_rows=128)
    mem = MemoryDataBackend()
    for n in os.listdir(d):
        mem.write_bytes(f"store/ipc/{n}",
                        open(os.path.join(d, n), "rb").read())
    got = read_arrow_ipc_split(spark, "store/ipc", split_mb=1,
                               backend=mem)
    assert sorted(r["doc_id"] for r in got.collect()) == list(range(4000))


def test_split_reader_schema_mismatch_loud(spark, tmp_path):
    import pytest as _pt

    from dataingestion_spark.sources.arrow_ipc import (
        read_arrow_ipc_split, write_arrow_ipc,
    )

    a = spark.createDataFrame([(1, "x")], "doc_id long, body string")
    b = spark.createDataFrame([(1.5, "x")], "doc_id double, body string")
    d = str(tmp_path / "mix")
    write_arrow_ipc(a, d, shards=1, prefix="p1")
    write_arrow_ipc(b, d, shards=1, prefix="p2")
    with _pt.raises(Exception, match="expected"):
        read_arrow_ipc_split(spark, d, split_mb=1).collect()


def test_arrow_interchange_ipc_readers(spark, tmp_path):
    """The file's own RecordBatches ship straight to the JVM. Both the
    whole-file and footer-indexed split readers must return the SOURCE
    frame row for row (nullable doubles, arrays, timestamps), and the
    files must hold the source values."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from dataingestion_spark.sources.arrow_ipc import (
        read_arrow_ipc, read_arrow_ipc_split, write_arrow_ipc,
    )

    docs = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"),
        F.when(F.col("id") % 7 != 0,
               (F.col("id") * 0.5)).alias("score"),
        F.array(F.col("id").cast("float"), F.lit(2.5)).alias("emb"),
        F.timestamp_micros(F.col("id") * 1_000_003).alias("ts"))
    d = str(tmp_path / "ipc")
    write_arrow_ipc(docs, d, shards=2, order_by="doc_id")
    want = docs.orderBy("doc_id").collect()
    whole = read_arrow_ipc(spark, d).orderBy("doc_id").collect()
    split = read_arrow_ipc_split(spark, d, split_mb=1) \
        .orderBy("doc_id").collect()
    assert whole == split == want and len(want) == 20_000

    on_disk = pa.concat_tables(
        pa.ipc.open_file(os.path.join(d, n)).read_all()
        for n in sorted(os.listdir(d))).sort_by("doc_id")
    assert on_disk.column("score").to_pylist() == [r["score"]
                                                   for r in want]
    assert on_disk.column("ts").cast(pa.int64()).to_pylist() == [
        i * 1_000_003 for i in range(20_000)]

    # column projection
    pr = read_arrow_ipc(spark, d, columns=["doc_id", "score"]) \
        .orderBy("doc_id").collect()
    assert pr[3]["score"] == 1.5 and len(pr[0]) == 2

