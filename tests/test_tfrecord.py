"""TFRecord source/sink (sources/tfrecord.py).

Pins the crc32c known-answer vectors, the tf.train.Example wire format
against hand-assembled golden bytes, framing corruption detection, the
write->read Spark round trip, and a hypothesis property over arbitrary
feature dicts.
"""

import struct

import pytest
from hypothesis import given, settings, strategies as st

from dataingestion_spark.sources.tfrecord import (
    crc32c, decode_example, encode_example, read_tfrecord, write_tfrecord,
    _crc_tables, _frame_record, _get_varint, _iter_records, _masked_crc,
    _maybe_decompress,
)


def test_crc32c_known_answers():
    # RFC 3720 / Castagnoli test vectors
    assert crc32c(b"") == 0x00000000
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(b"\xff" * 32) == 0x62A8AB43


def _crc32c_per_byte(data):
    # the original one-table-per-byte formulation, kept as the oracle
    # for the slicing-by-16 production path
    tbl = _crc_tables()[0]
    crc = 0xFFFFFFFF
    for b in data:
        crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


@given(st.binary(max_size=300))
@settings(max_examples=120, deadline=None)
def test_crc32c_slicing_matches_per_byte(data):
    # every length mod 16 (0..15 tail bytes) and arbitrary content
    assert crc32c(data) == _crc32c_per_byte(data)


def test_crc32c_long_buffer():
    data = bytes(range(256)) * 1000  # 256 KB, exercises the sliced loop
    assert crc32c(data) == _crc32c_per_byte(data)


def test_get_varint_truncated_raises_valueerror():
    # a CRC-valid but truncated varint must surface the module's loud
    # ValueError family, not a bare IndexError
    with pytest.raises(ValueError, match="truncated varint"):
        _get_varint(b"\x80\x80", 0)
    with pytest.raises(ValueError, match="truncated varint"):
        _get_varint(b"", 0)


def test_example_golden_bytes():
    """Hand-assembled canonical encoding of one Example with a single
    bytes feature — pins our writer to the exact protoc wire bytes a
    TF reader expects (map entry {1: "k", 2: Feature{1: BytesList
    {1: "v"}}} inside Features inside Example)."""
    got = encode_example({"k": ("bytes", b"v")})
    bytes_list = b"\x0a\x01v"                      # field1 len1 'v'
    feature = b"\x0a" + bytes([len(bytes_list)]) + bytes_list
    entry = (b"\x0a\x01k"                          # key = "k"
             + b"\x12" + bytes([len(feature)]) + feature)
    features = b"\x0a" + bytes([len(entry)]) + entry
    example = b"\x0a" + bytes([len(features)]) + features
    assert got == example


def test_example_roundtrip_all_kinds():
    feats = {
        "b": ("bytes", b"\x00\xffpayload"),
        "i": ("int64", -42),
        "f": ("float", 1.5),
        "bl": ("bytes_list", [b"", b"x", b"yz"]),
        "il": ("int64_list", [0, 1, -(1 << 62), (1 << 62)]),
        "fl": ("float_list", [0.0, -2.25, 3.5]),
    }
    out = decode_example(encode_example(feats))
    assert out["b"] == ("bytes_list", [b"\x00\xffpayload"])
    assert out["i"] == ("int64_list", [-42])
    assert out["f"] == ("float_list", [1.5])
    assert out["bl"] == ("bytes_list", [b"", b"x", b"yz"])
    assert out["il"] == ("int64_list", [0, 1, -(1 << 62), (1 << 62)])
    assert out["fl"][0] == "float_list"
    assert out["fl"][1] == [0.0, -2.25, 3.5]


def test_decode_accepts_unpacked_numeric_lists():
    """proto3 readers must accept the UNPACKED encoding of repeated
    numerics (older writers emit it): one tagged element per value."""
    # Int64List{value: 7, value: 9} unpacked: (tag 1,varint)=0x08
    il = b"\x08\x07\x08\x09"
    feature = b"\x1a" + bytes([len(il)]) + il       # Feature.int64_list=3
    entry = b"\x0a\x01n" + b"\x12" + bytes([len(feature)]) + feature
    features = b"\x0a" + bytes([len(entry)]) + entry
    example = b"\x0a" + bytes([len(features)]) + features
    assert decode_example(example)["n"] == ("int64_list", [7, 9])
    # FloatList unpacked: (tag 1, fixed32)=0x0d
    fl = b"\x0d" + struct.pack("<f", 2.5) + b"\x0d" + struct.pack("<f", -1.0)
    feature = b"\x12" + bytes([len(fl)]) + fl       # Feature.float_list=2
    entry = b"\x0a\x01x" + b"\x12" + bytes([len(feature)]) + feature
    features = b"\x0a" + bytes([len(entry)]) + entry
    example = b"\x0a" + bytes([len(features)]) + features
    assert decode_example(example)["x"] == ("float_list", [2.5, -1.0])


def test_framing_roundtrip_and_corruption():
    payloads = [b"alpha", b"", b"\x00" * 100]
    blob = b"".join(_frame_record(p) for p in payloads)
    assert list(_iter_records(blob, "t")) == payloads
    # flip one payload byte -> payload CRC mismatch
    bad = bytearray(blob)
    bad[12] ^= 0x01
    with pytest.raises(ValueError, match="payload CRC"):
        list(_iter_records(bytes(bad), "t"))
    # flip a length byte -> length CRC mismatch
    bad = bytearray(blob)
    bad[0] ^= 0x01
    with pytest.raises(ValueError, match="length CRC"):
        list(_iter_records(bytes(bad), "t"))
    # truncation
    with pytest.raises(ValueError, match="truncated"):
        list(_iter_records(blob[:-2], "t"))
    # verify=False skips CRC checks but still frames correctly
    bad = bytearray(blob)
    bad[8] ^= 0x01  # corrupt the length-CRC field itself
    assert list(_iter_records(bytes(bad), "t", verify=False)) == payloads


def test_masked_crc_matches_spec():
    crc = crc32c(b"123456789")
    assert _masked_crc(b"123456789") == (
        (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF)


@settings(max_examples=60, deadline=None)
@given(st.dictionaries(
    st.text(st.characters(min_codepoint=33, max_codepoint=126),
            min_size=1, max_size=8),
    st.one_of(
        st.tuples(st.just("bytes_list"),
                  st.lists(st.binary(max_size=12), max_size=4)),
        st.tuples(st.just("int64_list"),
                  st.lists(st.integers(-(1 << 63), (1 << 63) - 1),
                           max_size=4)),
        st.tuples(st.just("float_list"),
                  st.lists(st.floats(width=32, allow_nan=False),
                           max_size=4)),
    ),
    max_size=5))
def test_example_roundtrip_property(feats):
    out = decode_example(encode_example(feats))
    for name, (kind, values) in feats.items():
        if not values:
            # empty lists encode as an empty Feature; the oneof kind is
            # unrecoverable by design (matches protobuf semantics)
            assert out[name][1] == []
        else:
            assert out[name] == (kind, values)
    assert set(out) == set(feats)


def test_spark_roundtrip_and_determinism(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).cast("binary").alias("text"),
        (F.col("id") * 0.5).cast("float").alias("score"),
        F.array(F.col("id"), F.col("id") + 1).alias("neighbors"),
    )
    features = {"doc_id": "int64", "text": "bytes", "score": "float",
                "neighbors": "int64_list"}
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    names = write_tfrecord(df, features, out1, shards=3)
    assert names == [f"part-{i:05d}-of-00003.tfrecord" for i in range(3)]
    # deterministic bytes: a second write of the same data is identical
    write_tfrecord(df, features, out2, shards=3)
    for n in names:
        assert (tmp_path / "o1" / n).read_bytes() == \
            (tmp_path / "o2" / n).read_bytes()

    back = read_tfrecord(spark, out1, features)
    rows = {r["doc_id"]: r for r in back.collect()}
    assert len(rows) == 200
    assert bytes(rows[7]["text"]) == b"text-7"
    assert rows[7]["score"] == 3.5
    assert list(rows[7]["neighbors"]) == [7, 8]
    # declared-but-absent feature -> NULL; scalar over list -> loud
    back2 = read_tfrecord(spark, out1, {"doc_id": "int64",
                                        "missing": "bytes"})
    assert all(r["missing"] is None for r in back2.collect())
    with pytest.raises(Exception, match="declared scalar"):
        read_tfrecord(spark, out1, {"neighbors": "int64"}).collect()


def test_crc32c_many_covers_every_dispatch_shape():
    """_crc32c_many agrees with scalar crc32c across the shapes that
    pick different internal paths: many small (pure lockstep), few
    large (immediate peel to row-parallel), ragged mixed (lockstep then
    mid-stream peel with carried prefix state), empty slices."""
    import os
    import random

    import numpy as np

    from dataingestion_spark.sources.tfrecord import _crc32c_many

    random.seed(11)
    for sizes in (
        [8] * 200,                                   # all tiny (headers)
        [300 * 1024] * 12,                           # few large: peel at j=0
        [random.randint(0, 5000) for _ in range(500)] + [120000],  # ragged
        [0, 0, 1],                                   # empties
    ):
        blob = os.urandom(sum(sizes))
        buf = np.frombuffer(blob, dtype=np.uint8)
        starts = np.cumsum([0] + sizes[:-1]).astype(np.int64)
        lens = np.array(sizes, dtype=np.int64)
        got = list(_crc32c_many(buf, starts, lens))
        assert got == [crc32c(blob[s:s + n])
                       for s, n in zip(starts, lens)]


def test_gzip_roundtrip_and_detection(spark, tmp_path):
    import gzip

    from pyspark.sql import functions as F

    df = spark.range(0, 120).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 2).alias("twice"),
    )
    features = {"doc_id": "int64", "twice": "int64"}
    out1, out2 = str(tmp_path / "gz1"), str(tmp_path / "gz2")
    names = write_tfrecord(df, features, out1, shards=2,
                           compression="gzip")
    assert names == [f"part-{i:05d}-of-00002.tfrecord.gz"
                     for i in range(2)]
    # the shard really is gzip on disk, and byte-deterministic (mtime=0)
    raw = (tmp_path / "gz1" / names[0]).read_bytes()
    assert raw[:2] == b"\x1f\x8b"
    write_tfrecord(df, features, out2, shards=2, compression="gzip")
    for n in names:
        assert (tmp_path / "gz1" / n).read_bytes() == \
            (tmp_path / "gz2" / n).read_bytes()
    # read back through the default glob (magic-sniffed, CRC-verified)
    back = read_tfrecord(spark, out1, features)
    rows = {r["doc_id"]: r["twice"] for r in back.collect()}
    assert rows == {i: 2 * i for i in range(120)}
    # a MULTI-MEMBER gzip stream (two concatenated gzip members, the
    # shape `cat a.gz b.gz` produces) also reads — gzip.decompress
    # handles member concatenation, and our records span the boundary
    import os

    plain = str(tmp_path / "plain")
    (pname,) = write_tfrecord(df, features, plain, shards=1)
    body = (tmp_path / "plain" / pname).read_bytes()
    half = len(body) // 2
    members = gzip.compress(body[:half], mtime=0) \
        + gzip.compress(body[half:], mtime=0)
    mixed = str(tmp_path / "mixed")
    os.makedirs(mixed)
    with open(os.path.join(mixed, "x.tfrecord.gz"), "wb") as f:
        f.write(members)
    assert read_tfrecord(spark, mixed, features).count() == 120
    with pytest.raises(ValueError, match="unsupported compression"):
        write_tfrecord(df, features, out1, compression="zstd")
    # ZLIB option (TF's other compression_type): plain .tfrecord name,
    # stream sniffed by header bytes
    outz = str(tmp_path / "zl")
    znames = write_tfrecord(df, features, outz, shards=1,
                            compression="zlib")
    assert znames == ["part-00000-of-00001.tfrecord"]
    zraw = (tmp_path / "zl" / znames[0]).read_bytes()
    assert zraw[0] == 0x78  # zlib header, not raw framing
    zrows = {r["doc_id"]: r["twice"]
             for r in read_tfrecord(spark, outz, features).collect()}
    assert zrows == {i: 2 * i for i in range(120)}


def test_maybe_decompress_ambiguous_magic_falls_back():
    import gzip
    import zlib

    # a RAW shard whose first record is 35615 bytes long: its length
    # header starts 1f 8b (the gzip magic) — detection must fall back
    payload = b"\x00" * 35615
    blob = _frame_record(payload)
    assert blob[:2] == b"\x1f\x8b"
    assert _maybe_decompress(blob) == blob
    assert list(_iter_records(_maybe_decompress(blob), "t")) == [payload]
    # and real gzip / zlib streams do decompress
    inner = _frame_record(b"abc")
    assert _maybe_decompress(gzip.compress(inner)) == inner
    assert _maybe_decompress(zlib.compress(inner)) == inner
    # a magic prefix whose "header" runs off the end (gzip raises
    # EOFError here, not BadGzipFile) must also fall back, not crash
    stub = b"\x1f\x8b\x08\x04\x00"
    assert _maybe_decompress(stub) == stub
    # a genuinely truncated gzip shard falls back to raw and then fails
    # the framing walk loudly with a labeled error
    trunc = gzip.compress(_frame_record(b"x" * 50000))[:40]
    with pytest.raises(ValueError, match="truncated TFRecord"):
        list(_iter_records(_maybe_decompress(trunc), "t"))


def test_write_null_and_nan_cells_become_absent_features(spark, tmp_path):
    """NULL cells of nullable numeric columns must be written as ABSENT
    features (the read path maps absent back to NULL). A float NaN is
    a value, not a NULL: it is written as NaN (pinned in
    test_interchange_exact.py)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 10).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.col("id") * 10).alias("maybe_i"),
        F.when(F.col("id") % 3 == 0, F.col("id") * 0.5)
         .cast("float").alias("maybe_f"),
    )
    features = {"doc_id": "int64", "maybe_i": "int64", "maybe_f": "float"}
    out = str(tmp_path / "nulls")
    write_tfrecord(df, features, out, shards=1)
    back = {r["doc_id"]: r for r in
            read_tfrecord(spark, out, features).collect()}
    assert len(back) == 10
    for i in range(10):
        assert back[i]["maybe_i"] == (i * 10 if i % 2 == 0 else None)
        if i % 3 == 0:
            assert back[i]["maybe_f"] == pytest.approx(i * 0.5)
        else:
            assert back[i]["maybe_f"] is None


def test_read_rejects_corrupt_file(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(0, 5).select(F.col("id").alias("doc_id"))
    out = str(tmp_path / "o")
    (name,) = write_tfrecord(df, {"doc_id": "int64"}, out, shards=1)
    p = tmp_path / "o" / name
    blob = bytearray(p.read_bytes())
    blob[8] ^= 0xFF  # corrupt the length-CRC field; payload stays intact
    p.write_bytes(bytes(blob))
    with pytest.raises(Exception, match="CRC mismatch"):
        read_tfrecord(spark, out, {"doc_id": "int64"}).collect()
    # opt-out for salvage reads
    got = read_tfrecord(spark, out, {"doc_id": "int64"},
                        verify_crc=False).count()
    assert got == 5


def test_split_reader_equals_whole_file(spark, tmp_path):
    """Sync-less byte-range splitting via the self-validating header
    CRC: splits of one shard must equal the whole-file read exactly."""
    import os as _os

    from dataingestion_spark.sources.tfrecord import (
        read_tfrecord, read_tfrecord_split,
    )

    df = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
          .selectExpr("doc_id", "repeat(text, 16) AS text", "lang"))
    out = str(tmp_path / "shards")
    write_tfrecord(df, {"doc_id": "int64", "text": "bytes",
                        "lang": "bytes"}, out, shards=1,
                   order_by="doc_id")
    f = [p for p in _os.listdir(out) if p.endswith(".tfrecord")][0]
    assert _os.path.getsize(_os.path.join(out, f)) > 2 * (1 << 20)

    feats = {"doc_id": "int64", "text": "bytes", "lang": "bytes"}
    whole = read_tfrecord(spark, out, feats)
    split = read_tfrecord_split(spark, out, feats, split_mb=1)
    a = {(r["doc_id"], r["text"], r["lang"])
         for r in whole.collect()}
    b = {(r["doc_id"], r["text"], r["lang"])
         for r in split.collect()}
    assert a == b and len(a) == df.count()


def test_split_reader_refuses_gzip(spark, tmp_path):
    from dataingestion_spark.sources.tfrecord import read_tfrecord_split

    df = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .select("doc_id", "text").limit(20))
    out = str(tmp_path / "gz")
    write_tfrecord(df, {"doc_id": "int64", "text": "bytes"}, out,
                   shards=1, order_by="doc_id", compression="gzip")
    with pytest.raises(ValueError, match="cannot split"):
        read_tfrecord_split(spark, out,
                            {"doc_id": "int64", "text": "bytes"},
                            glob_pat="*.tfrecord*")


def test_resync_skips_embedded_fake_header(tmp_path):
    """A payload CONTAINING bytes that pass the 12-byte header check
    must not fool the resync — the chain test (next header or exact
    EOF) rejects it."""
    import struct as _s

    from dataingestion_spark.sources.tfrecord import (
        _masked_crc, _read_split_span, encode_example, _frame_record,
    )

    # fake header: length=32 with a CORRECT masked crc, inside payload
    fake = _s.pack("<Q", 32)
    fake += _s.pack("<I", _masked_crc(fake))
    body = b"A" * 40 + fake + b"B" * 200
    rec1 = _frame_record(encode_example(
        {"x": ("bytes_list", [body])}))
    rec2 = _frame_record(encode_example(
        {"x": ("bytes_list", [b"second record " * 30])}))
    p = str(tmp_path / "adv.tfrecord")
    open(p, "wb").write(rec1 + rec2)
    size = len(rec1) + len(rec2)
    # resync from INSIDE rec1's payload (right before the fake header)
    start = 20
    span, pos = _read_split_span(p, start, size, size)
    assert pos == len(rec1)  # skipped the fake, found rec2's header
    from dataingestion_spark.sources.tfrecord import _iter_records
    payloads = list(_iter_records(span, p))
    assert len(payloads) == 1


def test_split_span_truncated_trailing_header_raises(tmp_path):
    """A file ending mid-header must raise in split mode exactly like
    the whole-file reader (r11 ADVICE: split mode silently dropped the
    corrupt tail with span[:off])."""
    import os as _os

    from dataingestion_spark.sources.tfrecord import (
        _frame_record, _iter_records, _read_split_span,
    )

    p = str(tmp_path / "corrupt.tfrecord")
    good = _frame_record(b"alpha") + _frame_record(b"beta")
    open(p, "wb").write(good + _frame_record(b"gamma")[:6])
    size = _os.path.getsize(p)

    with pytest.raises(ValueError, match="truncated TFRecord header"):
        list(_iter_records(open(p, "rb").read(), p))
    with pytest.raises(ValueError, match="truncated TFRecord header"):
        _read_split_span(p, 0, size, size)


def test_split_reader_over_memory_backend(spark, tmp_path):
    """Byte-range TFRecord splits through a non-POSIX range-read
    backend (r11 VERDICT #3)."""
    from dataingestion_spark.sinks.data_backend import MemoryDataBackend
    from dataingestion_spark.sources.tfrecord import (
        _frame_record, encode_example, read_tfrecord_split,
    )

    payloads = [encode_example({"i": ("int64", i),
                                "t": ("bytes", f"x{i}".encode() * 40)})
                for i in range(12_000)]
    blob = b"".join(_frame_record(p) for p in payloads)
    assert len(blob) > (1 << 20)

    mem = MemoryDataBackend()
    mem.write_bytes("store/shards/a.tfrecord", blob)
    got = read_tfrecord_split(
        spark, "store/shards", {"i": "int64", "t": "bytes"},
        split_mb=1, backend=mem)
    assert sorted(r["i"] for r in got.collect()) == list(range(12_000))
