"""Vectorized columnar Avro decode (sources/avro_vec.py): differential
equivalence against the scalar decoder, schema-resolution coverage,
fallback gating, and loud corruption parity."""

import random

import pytest

from dataingestion_spark.sources.avro import (
    read_container, read_container_columnar, write_container,
)

WIDE = {"type": "record", "name": "w", "fields": [
    {"name": "id", "type": "long"},
    {"name": "small", "type": "int"},
    {"name": "txt", "type": ["null", "string"], "default": None},
    {"name": "raw", "type": ["null", "bytes"], "default": None},
    {"name": "d", "type": "double"},
    {"name": "f", "type": "float"},
    {"name": "flag", "type": "boolean"},
    {"name": "color", "type": {"type": "enum", "name": "c",
                               "symbols": ["R", "G", "B"]}},
    {"name": "fx", "type": {"type": "fixed", "name": "fx8",
                            "size": 4}},
    {"name": "nd", "type": ["null", "double"], "default": None},
]}


def _wide_rows(n, seed=7):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append({
            "id": rng.randint(-2 ** 62, 2 ** 62),
            "small": rng.randint(-2 ** 31, 2 ** 31 - 1),
            "txt": None if i % 5 == 0 else "héllo wörld " * (i % 4),
            "raw": None if i % 7 == 0 else bytes([i % 256, 0xFF, 0x80]),
            "d": rng.random() * 1e6,
            "f": float(i) / 3,
            "flag": bool(i % 2),
            "color": "RGB"[i % 3],
            "fx": bytes([i % 256] * 4),
            "nd": None if i % 3 == 0 else i * 0.5,
        })
    return rows


def _pylists(cols):
    """The columnar decoder's {column: pa.Array} as python lists."""
    return None if cols is None else {
        c: a.to_pylist() for c, a in cols.items()}


def _vec(tmp_path, schema, rows, reader_node=None, codec="null",
         block_rows=8):
    """(columnar decode as python lists, scalar decoder rows)."""
    p = str(tmp_path / "t.avro")
    write_container(p, schema, rows, codec=codec,
                    block_rows=block_rows)
    blob = open(p, "rb").read()
    node, cols = read_container_columnar(blob, p,
                                         reader_node=reader_node)
    _, scalar = read_container(blob, p, reader_node=reader_node)
    return _pylists(cols), scalar


def _assert_equal(cols, scalar_rows, names, approx=()):
    assert cols is not None, "vector path unexpectedly fell back"
    for c in names:
        got = cols[c]
        want = [r.get(c) for r in scalar_rows]
        if c in approx:
            got = [None if v is None else round(float(v), 4)
                   for v in got]
            want = [None if v is None else round(float(v), 4)
                    for v in want]
        assert got == want, f"column {c!r} diverges"


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_differential_wide_types(tmp_path, codec):
    rows = _wide_rows(700)
    cols, scalar = _vec(tmp_path, WIDE, rows, codec=codec)
    _assert_equal(cols, scalar, [f["name"] for f in WIDE["fields"]],
                  approx=("f",))


def test_projection_defaults_and_promotions(tmp_path):
    from dataingestion_spark.sources.avro import parse_schema

    rows = _wide_rows(600)
    reader = parse_schema({"type": "record", "name": "w", "fields": [
        {"name": "id", "type": "double"},          # long -> double
        {"name": "small", "type": "long"},          # int -> long
        {"name": "txt", "type": ["null", "bytes"],  # string -> bytes
         "default": None},
        {"name": "added", "type": "string", "default": "dflt"},
    ]})
    cols, scalar = _vec(tmp_path, WIDE, rows, reader_node=reader)
    _assert_equal(cols, scalar, ["id", "small", "txt", "added"])


def test_all_null_and_no_null_columns(tmp_path):
    sch = {"type": "record", "name": "n", "fields": [
        {"name": "a", "type": ["null", "long"], "default": None},
        {"name": "b", "type": ["null", "string"], "default": None}]}
    rows = [{"a": None, "b": "x" * (i % 3)} for i in range(600)]
    cols, scalar = _vec(tmp_path, sch, rows)
    _assert_equal(cols, scalar, ["a", "b"])


def test_fallback_nested_and_small(tmp_path):
    nested = {"type": "record", "name": "r", "fields": [
        {"name": "xs", "type": {"type": "array", "items": "long"}}]}
    rows = [{"xs": [1, 2, i]} for i in range(600)]
    cols, _ = _vec(tmp_path, nested, rows)
    assert cols is None  # arrays -> scalar path
    flat = {"type": "record", "name": "r", "fields": [
        {"name": "v", "type": "long"}]}
    cols, _ = _vec(tmp_path, flat, [{"v": i} for i in range(600)],
                   block_rows=1024)  # 1 block < _MIN_BLOCKS
    assert cols is None


def test_corruption_parity(tmp_path):
    flat = {"type": "record", "name": "r", "fields": [
        {"name": "v", "type": "long"},
        {"name": "t", "type": "string"}]}
    rows = [{"v": i, "t": "abc"} for i in range(600)]
    p = str(tmp_path / "t.avro")
    write_container(p, flat, rows, block_rows=8)
    blob = open(p, "rb").read()
    assert read_container_columnar(blob, p)[1] is not None
    # truncating mid-container corrupts the framing
    with pytest.raises(ValueError):
        read_container_columnar(blob[: len(blob) // 2], p)
    # reader expecting an extra non-default field -> loud (via plan
    # falling back or mismatch); reader with FEWER bytes per row than
    # written -> trailing bytes
    from dataingestion_spark.sources.avro import parse_schema
    short = parse_schema({"type": "record", "name": "r", "fields": [
        {"name": "v", "type": "long"}]})
    cols = read_container_columnar(blob, p, reader_node=short)[1]
    assert cols is not None and "t" not in cols  # projection skips


def test_invalid_utf8_is_loud(tmp_path):
    # write as bytes, read claiming string: invalid utf-8 must raise
    from dataingestion_spark.sources.avro import parse_schema

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "b", "type": "bytes"}]}
    rows = [{"b": b"\xff\xfe\x80"} for _ in range(600)]
    p = str(tmp_path / "t.avro")
    write_container(p, sch, rows, block_rows=8)
    blob = open(p, "rb").read()
    reader = parse_schema({"type": "record", "name": "r", "fields": [
        {"name": "b", "type": "string"}]})
    with pytest.raises(ValueError, match="UTF-8"):
        read_container_columnar(blob, p, reader_node=reader)


def test_timestamp_and_date_logicals(tmp_path):
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "ts", "type": ["null", {
            "type": "long", "logicalType": "timestamp-micros"}],
         "default": None},
        {"name": "day", "type": {"type": "int",
                                 "logicalType": "date"}}]}
    import datetime

    import pandas as pd

    base = 1_700_000_000_000_000
    rows = [{"ts": None if i % 4 == 0
             else pd.Timestamp((base + i * 1_000_003) * 1000),
             "day": datetime.date.fromordinal(719_163 + 19_000 + i % 400)}
            for i in range(600)]
    import pyarrow as pa

    p = str(tmp_path / "t.avro")
    write_container(p, sch, rows, block_rows=8)
    blob = open(p, "rb").read()
    _, cols = read_container_columnar(blob, p)
    _, scalar = read_container(blob, p)
    assert cols is not None
    # timestamps are UTC instants in the wire's unit, dates date32
    assert cols["ts"].type == pa.timestamp("us", "UTC")
    assert cols["day"].type == pa.date32()
    assert cols["ts"].cast(pa.int64()).to_pylist() == [
        None if r["ts"] is None else r["ts"].value // 1000
        for r in scalar]
    assert cols["day"].to_pylist() == [r["day"] for r in scalar]


def test_spark_read_uses_columnar(spark, tmp_path):
    """End-to-end through read_avro with enough blocks to engage the
    vector path; values must equal the original frame."""
    from pyspark.sql import functions as F

    from dataingestion_spark.sources.avro import read_avro, write_avro

    df = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
          .select("doc_id", "text", "lang",
                  F.col("n_chars").cast("long").alias("n_chars")))
    out = str(tmp_path / "corpus")
    write_avro(df, out, shards=2, block_rows=16)
    back = read_avro(spark, out)
    assert {tuple(r) for r in back.collect()} == \
        {tuple(r) for r in df.collect()}


ARR = {"type": "record", "name": "e", "fields": [
    {"name": "doc_id", "type": "long"},
    {"name": "emb", "type": {"type": "array", "items": "float"}},
    {"name": "scores", "type": ["null", {
        "type": "array", "items": "double"}], "default": None},
    {"name": "flags", "type": {"type": "array", "items": "boolean"}},
]}


def test_differential_fixed_width_arrays(tmp_path):
    rng = random.Random(11)
    rows = []
    for i in range(700):
        dim = i % 9  # includes empty arrays
        rows.append({
            "doc_id": i,
            "emb": [round(rng.random(), 3) for _ in range(dim)],
            "scores": None if i % 4 == 0
            else [i * 0.5, -1.25, float(i)],
            "flags": [bool((i + j) % 2) for j in range(i % 3)],
        })
    cols, scalar = _vec(tmp_path, ARR, rows)
    assert cols is not None
    import numpy as np
    for i, r in enumerate(scalar):
        got = cols["emb"][i]
        assert np.allclose(np.asarray(got, dtype=np.float32),
                           np.array(r["emb"], dtype=np.float32))
        assert cols["scores"][i] == r["scores"]
        assert cols["flags"][i] == r["flags"]
    assert list(cols["doc_id"]) == [r["doc_id"] for r in scalar]


def test_nullable_item_arrays_fall_back(tmp_path):
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "xs", "type": {"type": "array",
                                "items": ["null", "float"]}}]}
    rows = [{"xs": [1.0, None]} for _ in range(600)]
    cols, scalar = _vec(tmp_path, sch, rows)
    assert cols is None  # data-dependent element width -> scalar
    assert scalar[0]["xs"][1] is None


def test_multiblock_array_decodes_vectorized(tmp_path):
    """A foreign writer may chunk one array into several blocks; the
    vector path decodes them (r12 — rows drop out of the wave at their
    count-0 terminator; continuation segments gather per-row
    contiguously), byte-exact with the scalar decoder."""
    from dataingestion_spark.sources.avro import (
        _MAGIC, _enc_long,  # noqa: F401 (wire-level fixture)
    )
    import struct as _s

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "xs", "type": {"type": "array", "items": "float"}}]}
    sync = b"0123456789abcdef"
    p = str(tmp_path / "mb.avro")
    write_container(p, sch, [], sync=sync)
    header = open(p, "rb").read()
    payload = bytearray()
    _enc_long(payload, 2)                    # block 1: two elements
    payload += _s.pack("<f", 1.5) + _s.pack("<f", 2.5)
    _enc_long(payload, 1)                    # block 2: one element
    payload += _s.pack("<f", 3.5)
    _enc_long(payload, 0)                    # terminator
    block = bytearray()
    _enc_long(block, 1)                      # one row
    _enc_long(block, len(payload))
    block += payload + sync
    # enough rows/blocks to clear the _MIN_BLOCKS gate
    blob = header + bytes(block) * 70
    _, rows = read_container(blob, "mb")
    assert rows[0]["xs"] == [1.5, 2.5, 3.5] and len(rows) == 70
    node, cols = read_container_columnar(blob, "mb")
    assert cols is not None, "multi-block arrays fell back"
    assert cols["xs"].to_pylist() == [[1.5, 2.5, 3.5]] * 70


def test_negative_count_array_block_decodes(tmp_path):
    """Spec: an array block may carry count < 0 followed by its byte
    size — the vector path must honor that form (single block)."""
    from dataingestion_spark.sources.avro import _enc_long
    import struct as _s

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "xs", "type": {"type": "array", "items": "float"}}]}
    sync = b"0123456789abcdef"
    p = str(tmp_path / "neg.avro")
    write_container(p, sch, [], sync=sync)
    header = open(p, "rb").read()
    payload = bytearray()
    _enc_long(payload, -2)                   # negative count
    _enc_long(payload, 8)                    # byte size
    payload += _s.pack("<f", 4.5) + _s.pack("<f", 5.5)
    _enc_long(payload, 0)
    block = bytearray()
    _enc_long(block, 1)
    _enc_long(block, len(payload))
    block += payload + sync
    blob = header + bytes(block) * 70
    _, rows = read_container(blob, "neg")
    assert rows[0]["xs"] == [4.5, 5.5]
    node, cols = read_container_columnar(blob, "neg")
    assert cols is not None
    assert cols["xs"].to_pylist() == [[4.5, 5.5]] * 70


def test_spark_embedding_corpus_roundtrip(spark, tmp_path):
    """array<float> embeddings through write_avro/read_avro with the
    vector path engaged (containsNull=False schema)."""
    from pyspark.sql import types as T

    from dataingestion_spark.sources.avro import read_avro, write_avro

    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("emb", T.ArrayType(T.FloatType(), False),
                      False)])
    data = [(i, [float(i) / 7 + j for j in range(16)])
            for i in range(800)]
    df = spark.createDataFrame(data, schema)
    out = str(tmp_path / "emb")
    write_avro(df, out, shards=2, block_rows=4)
    back = read_avro(spark, out)
    got = {r["doc_id"]: list(r["emb"]) for r in back.collect()}
    import math
    for i, emb in data:
        assert all(math.isclose(a, b, rel_tol=1e-6)
                   for a, b in zip(got[i], emb))


def test_projection_skips_array_field(tmp_path):
    """Projecting AWAY an array column still wave-skips its bytes
    correctly (count + payload + terminator per row)."""
    from dataingestion_spark.sources.avro import parse_schema

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "emb", "type": {"type": "array", "items": "float"}},
        {"name": "tag", "type": "string"}]}
    rows = [{"id": i, "emb": [0.5] * (i % 7), "tag": f"t{i}"}
            for i in range(700)]
    reader = parse_schema({"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "tag", "type": "string"}]})
    cols, scalar = _vec(tmp_path, sch, rows, reader_node=reader)
    assert cols is not None and "emb" not in cols
    assert list(cols["id"]) == [r["id"] for r in scalar]
    assert list(cols["tag"]) == [r["tag"] for r in scalar]


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_split_reader_equals_whole_file(spark, tmp_path, codec):
    """Sync-marker splitting: a single container read as byte-range
    splits must yield exactly the whole file's rows — no block lost or
    doubled at any boundary."""
    from dataingestion_spark.sources.avro import (
        read_avro, read_avro_split,
    )

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "txt", "type": ["null", "string"], "default": None},
        {"name": "x", "type": "double"}]}
    import hashlib as _h
    rows = [{"id": i,
             "txt": None if i % 9 == 0
             else _h.sha256(str(i).encode()).hexdigest() * 3,
             "x": i / 3} for i in range(60_000)]
    d = str(tmp_path / "one")
    import os as _os
    _os.makedirs(d)
    write_container(_os.path.join(d, "big.avro"), sch, rows,
                    codec=codec)
    assert _os.path.getsize(_os.path.join(d, "big.avro")) > 2 << 20

    whole = read_avro(spark, d)
    split = read_avro_split(spark, d, split_mb=1)
    assert split.count() == 60_000
    a = {(r["id"], r["txt"], round(r["x"], 6))
         for r in whole.collect()}
    b = {(r["id"], r["txt"], round(r["x"], 6))
         for r in split.collect()}
    assert a == b


def test_split_reader_projection_and_resolution(spark, tmp_path):
    from pyspark.sql import types as T

    from dataingestion_spark.sources.avro import read_avro_split

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "int"},
        {"name": "t", "type": "string"}]}
    rows = [{"id": i, "t": f"v{i}"} for i in range(50_000)]
    d = str(tmp_path / "res")
    import os as _os
    _os.makedirs(d)
    write_container(_os.path.join(d, "a.avro"), sch, rows)

    # columns= prunes; schema= promotes int -> long
    got = read_avro_split(
        spark, d, split_mb=1, columns=["id"],
        schema=T.StructType([T.StructField("id", T.LongType(), True),
                             T.StructField("t", T.StringType(),
                                           True)]))
    assert got.columns == ["id"]
    assert got.schema["id"].dataType == T.LongType()
    assert got.count() == 50_000
    vals = {r["id"] for r in got.collect()}
    assert vals == set(range(50_000))


def test_split_reader_small_file_single_range(spark, tmp_path):
    from dataingestion_spark.sources.avro import read_avro_split

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "v", "type": "long"}]}
    d = str(tmp_path / "small")
    import os as _os
    _os.makedirs(d)
    write_container(_os.path.join(d, "s.avro"), sch,
                    [{"v": i} for i in range(100)])
    got = read_avro_split(spark, d, split_mb=64)
    assert sorted(r["v"] for r in got.collect()) == list(range(100))


# ---------------------------------------------------------------------------
# vectorized ENCODER (sources/avro_vec_enc.py): byte identity

ENC = {"type": "record", "name": "w", "fields": [
    {"name": "id", "type": "long"},
    {"name": "small", "type": "int"},
    {"name": "txt", "type": ["null", "string"], "default": None},
    {"name": "raw", "type": ["null", "bytes"], "default": None},
    {"name": "d", "type": "double"},
    {"name": "f", "type": ["null", "float"], "default": None},
    {"name": "flag", "type": "boolean"},
    {"name": "emb", "type": {"type": "array", "items": "float"}},
    {"name": "mask", "type": ["null", {
        "type": "array", "items": "boolean"}], "default": None},
]}


def _enc_rows(n, seed=3):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append({
            "id": rng.randint(-2 ** 62, 2 ** 62),
            "small": rng.randint(-2 ** 31, 2 ** 31 - 1),
            "txt": None if i % 5 == 0 else "ünïcode \U0001F600 " * (i % 4),
            "raw": None if i % 7 == 0 else bytes([i % 256, 0, 0xFF]),
            "d": rng.random() * 1e9,
            "f": None if i % 3 == 0 else i / 7,
            "flag": bool(i % 2),
            "emb": [i / 3 + j for j in range(i % 5)],
            "mask": None if i % 4 == 0
            else [bool((i + j) % 2) for j in range(i % 3)],
        })
    return rows


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_encoder_byte_identity(tmp_path, codec):
    """The vectorized columnar encoder must produce BYTE-IDENTICAL
    containers to the scalar per-row encoder — the determinism
    contract plus total wire-format equivalence in one assert."""
    import pandas as pd

    from dataingestion_spark.sources.avro import (
        write_container_frame,
    )

    rows = _enc_rows(3000)
    pdf = pd.DataFrame(rows)
    p1 = str(tmp_path / "scalar.avro")
    p2 = str(tmp_path / "vec.avro")
    sync = b"0123456789abcdef"
    write_container(p1, ENC, rows, codec=codec, sync=sync,
                    block_rows=128)
    assert write_container_frame(
        p2, ENC, pdf, [f["name"] for f in ENC["fields"]],
        codec=codec, sync=sync, block_rows=128)
    assert open(p1, "rb").read() == open(p2, "rb").read()


def test_encoder_falls_back_out_of_plan(tmp_path):
    import pandas as pd

    from dataingestion_spark.sources.avro import write_container_frame

    nested = {"type": "record", "name": "r", "fields": [
        {"name": "xs", "type": {"type": "array", "items": "long"}}]}
    ok = write_container_frame(str(tmp_path / "x.avro"), nested,
                               pd.DataFrame({"xs": [[1, 2]]}), ["xs"])
    assert ok is False  # varint elements -> scalar fallback
    enum = {"type": "record", "name": "r", "fields": [
        {"name": "c", "type": {"type": "enum", "name": "e",
                               "symbols": ["A"]}}]}
    assert write_container_frame(str(tmp_path / "y.avro"), enum,
                                 pd.DataFrame({"c": ["A"]}),
                                 ["c"]) is False


def test_encoder_empty_and_edge_values(tmp_path):
    import pandas as pd

    from dataingestion_spark.sources.avro import write_container_frame

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "t", "type": "string"},
        {"name": "e", "type": {"type": "array", "items": "double"}}]}
    rows = [
        {"id": 0, "t": "", "e": []},
        {"id": -(1 << 63), "t": "x", "e": [0.0]},
        {"id": (1 << 63) - 1, "t": " ￿", "e": [-1.5, 2.5]},
    ] * 50
    pdf = pd.DataFrame(rows)
    p1, p2 = str(tmp_path / "a.avro"), str(tmp_path / "b.avro")
    sync = b"0123456789abcdef"
    write_container(p1, sch, rows, sync=sync)
    assert write_container_frame(p2, sch, pdf, ["id", "t", "e"],
                                 sync=sync)
    assert open(p1, "rb").read() == open(p2, "rb").read()


# ---------------------------------------------------------------------------
# ADVICE r11 regression pins


def test_split_block_start_exactly_at_boundary(spark, tmp_path):
    """A block whose first byte IS the split boundary must be decoded
    by the task owning that boundary (its trailing sync ends exactly
    at `start`, so the resync scan must begin at start-16, not
    start-15 — r11 ADVICE high: one block silently dropped).

    Fixture: one record per block, string length 16361 -> block bytes
    = 1 (count varint) + 3 (size varint) + 3 + 16361 (record) + 16
    (sync) = 16384 exactly; 64 blocks fill the first 1 MiB, so block
    #64 starts exactly at body_at + (1 << 20) = the split_mb=1
    boundary."""
    import os as _os

    from dataingestion_spark.sources.avro import (
        _parse_header, _read_split_blocks, read_avro_split,
    )

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "s", "type": "string"}]}
    rows = [{"s": f"{i:05d}" + "x" * (16361 - 5)} for i in range(100)]
    d = str(tmp_path / "aligned")
    _os.makedirs(d)
    p = _os.path.join(d, "a.avro")
    write_container(p, sch, rows, block_rows=1)

    blob = open(p, "rb").read()
    _node, codec, sync, body_at, _js = _parse_header(blob, p)
    size = _os.path.getsize(p)
    # fixture self-check: uniform 16384-byte blocks, boundary aligned
    assert size == body_at + 100 * 16384
    boundary = body_at + (1 << 20)
    assert (boundary - body_at) % 16384 == 0 and boundary < size
    # the sync preceding the boundary block ends exactly at `boundary`
    assert blob[boundary - 16:boundary] == sync

    # unit: the range starting at the boundary owns blocks 64..99
    datas, counts = _read_split_blocks(p, boundary, size, False,
                                       sync, codec)
    assert sum(counts) == 36, (
        f"lost {36 - sum(counts)} block(s) at an aligned boundary")

    # end to end: no row lost or doubled
    got = read_avro_split(spark, d, split_mb=1)
    ids = sorted(int(r["s"][:5]) for r in got.collect())
    assert ids == list(range(100))


def test_vec_utf8_validated_per_value(tmp_path):
    """Two adjacent values that each split a multi-byte sequence are
    individually invalid UTF-8 but valid when concatenated; the
    columnar path must reject them exactly like the scalar decoder
    (r11 ADVICE: whole-buffer validation let them through)."""
    import os as _os

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "s", "type": "string"}]}
    rows = [{"s": f"val{i:04d}"} for i in range(200)]
    rows[100]["s"] = "A"
    rows[101]["s"] = "B"
    p = str(tmp_path / "u.avro")
    write_container(p, sch, rows, block_rows=2)  # 100 blocks
    blob = open(p, "rb").read()
    # \x02 = varint(len 1); swap "A","B" for a split 2-byte sequence
    pat = b"\x02A\x02B"
    assert blob.count(pat) == 1
    blob = blob.replace(pat, b"\x02\xc3\x02\xa9", 1)

    with pytest.raises(ValueError):
        read_container(blob, p)
    with pytest.raises(ValueError):
        node, cols = read_container_columnar(blob, p)
        assert cols is not None, "fell back instead of validating"


def test_split_reader_over_memory_backend(spark, tmp_path):
    """The split reader must work on a non-POSIX store: plan from
    backend.size(), read headers and blocks via backend.read_range()
    (r11 VERDICT #3 — the scale-IN path was dead on object storage)."""
    import hashlib as _h
    import os as _os

    from dataingestion_spark.sinks.data_backend import MemoryDataBackend
    from dataingestion_spark.sources.avro import read_avro_split

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "txt", "type": "string"}]}
    rows = [{"id": i, "txt": _h.sha256(str(i).encode()).hexdigest() * 2}
            for i in range(14_000)]
    p = str(tmp_path / "m.avro")
    write_container(p, sch, rows, block_rows=64)
    blob = open(p, "rb").read()
    assert len(blob) > (1 << 20)  # at least 2 splits at 1 MB

    mem = MemoryDataBackend()
    mem.write_bytes("bucket/corpus/m.avro", blob)
    got = read_avro_split(spark, "bucket/corpus", split_mb=1,
                          backend=mem)
    assert sorted(r["id"] for r in got.collect()) == list(range(14_000))


def test_split_reader_unregistered_scheme_names_seam(spark):
    from dataingestion_spark.sinks.data_backend import fsspec_available
    from dataingestion_spark.sources.avro import read_avro_split

    # r13: cloud schemes resolve to the fsspec-backed DataBackend, so
    # with the package absent the failure is the gated error NAMING it
    if not fsspec_available():
        with pytest.raises(NotImplementedError, match="fsspec"):
            read_avro_split(spark, "s3://bucket/corpus")
    # truly unknown schemes keep the registration-seam error
    with pytest.raises(NotImplementedError, match="data backend"):
        read_avro_split(spark, "s3x://bucket/corpus")


# ---------------------------------------------------------------------------
# array<string> / array<bytes> vectorized decode (r12)

STR_ARR = {"type": "record", "name": "sa", "fields": [
    {"name": "doc_id", "type": "long"},
    {"name": "tokens", "type": {"type": "array", "items": "string"}},
    {"name": "raws", "type": ["null", {
        "type": "array", "items": "bytes"}], "default": None}]}


def test_differential_string_arrays(tmp_path):
    rng = random.Random(23)
    rows = []
    for i in range(700):
        k = i % 11  # includes empty arrays
        rows.append({
            "doc_id": i,
            "tokens": ["" if j % 5 == 0
                       else f"tök{j}·" * (rng.randint(0, 3))
                       for j in range(k)],
            "raws": None if i % 4 == 0
            else [bytes([i % 256, 0xFF]) * (j % 3)
                  for j in range(i % 4)],
        })
    cols, scalar = _vec(tmp_path, STR_ARR, rows)
    assert cols is not None, "array<string> fell back"
    for c in ("doc_id", "tokens", "raws"):
        assert cols[c] == [r[c] for r in scalar], c


def test_string_array_multiblock_decodes_vectorized(tmp_path):
    """A foreign writer chunking one string array into several blocks
    decodes vectorized (r12), element slots continuing across blocks
    via the per-row element base."""
    from dataingestion_spark.sources.avro import (
        _container_header, _enc_long,
    )

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "xs", "type": {"type": "array", "items": "string"}}]}
    payload = bytearray()
    for _ in range(70):  # 70 rows, each a 2-block array ["a"], ["b"]
        _enc_long(payload, 1)
        _enc_long(payload, 1)
        payload.extend(b"a")
        _enc_long(payload, 1)
        _enc_long(payload, 1)
        payload.extend(b"b")
        _enc_long(payload, 0)
    sync = b"0123456789abcdef"
    blob = bytearray(_container_header(sch, "null", sync, None))
    block = bytearray()
    _enc_long(block, 70)
    _enc_long(block, len(payload))
    block.extend(payload)
    block.extend(sync)
    blob.extend(block * 70)  # 70 identical blocks >= _MIN_BLOCKS
    node, cols = read_container_columnar(bytes(blob), "mb")
    assert cols is not None, "multi-block string arrays fell back"
    assert cols["xs"].to_pylist() == [["a", "b"]] * (70 * 70)
    _, rows = read_container(bytes(blob), "mb")
    assert rows[0]["xs"] == ["a", "b"] and len(rows) == 70 * 70


def test_string_array_negative_count_block(tmp_path):
    """Spec: an array block may carry count < 0 followed by its byte
    size; elements still decode one varint wave per index."""
    from dataingestion_spark.sources.avro import (
        _container_header, _enc_long,
    )

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "xs", "type": {"type": "array", "items": "string"}}]}
    payload = bytearray()
    items = bytearray()
    for v in (b"xy", b"", b"zzz"):
        _enc_long(items, len(v))
        items.extend(v)
    _enc_long(payload, -3)
    _enc_long(payload, len(items))
    payload.extend(items)
    _enc_long(payload, 0)
    sync = b"0123456789abcdef"
    blob = bytearray(_container_header(sch, "null", sync, None))
    block = bytearray()
    _enc_long(block, 1)
    _enc_long(block, len(payload))
    block.extend(payload)
    block.extend(sync)
    blob.extend(block * 70)
    node, cols = read_container_columnar(bytes(blob), "neg")
    assert cols is not None
    assert cols["xs"].to_pylist() == [["xy", "", "zzz"]] * 70
    _, rows = read_container(bytes(blob), "neg")
    assert rows[0]["xs"] == ["xy", "", "zzz"]


def test_multiblock_random_splits_differential(tmp_path):
    """Randomly chunked float AND string arrays in one record, random
    split points per row: the wave decoder must equal the scalar
    decoder on every row (multi-block continuation, empty arrays,
    empty blocks-after-first, unicode elements)."""
    import struct as _s

    from dataingestion_spark.sources.avro import (
        _container_header, _enc_long,
    )

    rng = random.Random(31)
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "xs", "type": {"type": "array", "items": "float"}},
        {"name": "ts", "type": {"type": "array", "items": "string"}}]}

    def enc_blocks(payload, items, enc_item):
        at = 0
        while at < len(items):
            take = rng.randint(1, max(1, len(items) - at))
            _enc_long(payload, take)
            for v in items[at:at + take]:
                enc_item(v)
            at += take
        _enc_long(payload, 0)

    want = []
    sync = b"0123456789abcdef"
    blob = bytearray(_container_header(sch, "null", sync, None))
    for i in range(120):
        xs = [round(rng.uniform(-9, 9), 3) for _ in range(rng.randint(0, 7))]
        ts = ["" if j % 4 == 0 else f"wörd{j}" * rng.randint(1, 3)
              for j in range(rng.randint(0, 6))]
        want.append((i, xs, ts))
        payload = bytearray()
        _enc_long(payload, i)
        enc_blocks(payload, xs,
                   lambda v: payload.extend(_s.pack("<f", v)))
        enc_blocks(payload, ts,
                   lambda v: (_enc_long(payload, len(v.encode())),
                              payload.extend(v.encode())))
        block = bytearray()
        _enc_long(block, 1)
        _enc_long(block, len(payload))
        block += payload + sync
        blob += block
    _, rows = read_container(bytes(blob), "rnd")
    node, cols = read_container_columnar(bytes(blob), "rnd")
    assert cols is not None
    cols = _pylists(cols)
    import numpy as np
    for i, (rid, xs, ts) in enumerate(want):
        assert rows[i]["id"] == rid and cols["id"][i] == rid
        assert np.allclose(np.asarray(cols["xs"][i], dtype=np.float32),
                           np.array(xs, dtype=np.float32))
        assert rows[i]["ts"] == ts
        assert cols["ts"][i] == ts


# ---------------------------------------------------------------------------
# map columns: scalar by MEASUREMENT (r12 — a vectorized map decode was
# built and benched at 0.8x scalar: map output must materialize python
# dicts + strings in the pandas interchange, so the parse fraction the
# waves remove is smaller than the finalize overhead they add; see
# SCALE.md "negative result")


def test_maps_stay_scalar_and_roundtrip(tmp_path):
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "m", "type": {"type": "map", "values": "string"}}]}
    rows = [{"m": {f"k{j}": f"v{j}" for j in range(i % 4)}}
            for i in range(700)]
    cols, scalar = _vec(tmp_path, sch, rows)
    assert cols is None  # maps -> scalar path, by measurement
    assert scalar[6]["m"] == {"k0": "v0", "k1": "v1"}


def test_map_spark_roundtrip(spark, tmp_path):
    """map columns through write_avro/read_avro land as Spark MapType
    (scalar decode path)."""
    from pyspark.sql import functions as F

    from dataingestion_spark.sources.avro import read_avro, write_avro

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.create_map(F.lit("lang"), F.lit("en"),
                     F.lit("src"), F.col("id").cast("string"))
        .alias("meta"))
    d = str(tmp_path / "maps")
    write_avro(docs, d, shards=1, order_by="doc_id", block_rows=16)
    back = read_avro(spark, d)
    got = {r["doc_id"]: r["meta"] for r in back.collect()}
    assert got[7] == {"lang": "en", "src": "7"}
    assert len(got) == 2000


def test_avro_split_many_files_parallel_planning(spark, tmp_path):
    """Above 32 files the header probes run as one Spark job; the read
    must still be exact (exercises the distributed planner)."""
    import os as _os

    from dataingestion_spark.sources.avro import read_avro_split

    d = str(tmp_path / "many")
    _os.makedirs(d)
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "v", "type": "long"}]}
    for i in range(40):
        write_container(_os.path.join(d, f"p{i:03d}.avro"), sch,
                        [{"v": i * 10 + j} for j in range(10)])
    got = read_avro_split(spark, d, split_mb=1)
    assert sorted(r["v"] for r in got.collect()) == list(range(400))


NESTED_SCH = {"type": "record", "name": "r", "fields": [
    {"name": "id", "type": "long"},
    {"name": "text", "type": ["null", "string"], "default": None},
    {"name": "inner", "type": {"type": "record", "name": "i", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"], "default": None},
        {"name": "c", "type": "double"},
        {"name": "deep", "type": {"type": "record", "name": "d",
                                  "fields": [
            {"name": "x", "type": "int"},
            {"name": "y", "type": "string"}]}}]}}]}


def _nested_rows(n):
    return [{"id": i, "text": None if i % 7 == 0 else f"t{i}",
             "inner": {"a": i * 3,
                       "b": None if i % 5 == 0 else f"b{i % 97}",
                       "c": i * 0.25,
                       "deep": {"x": i % 11, "y": f"y{i % 13}"}}}
            for i in range(n)]


def test_differential_nested_records(tmp_path):
    """r13: NON-nullable records of covered scalars vectorize — the
    wire is the fields inlined in order, so sub-fields ride the wave
    plan and the struct reassembles from child arrays at finalize
    (measured 2.5-4.9x scalar, scripts/scale_probe_avro_struct.py).
    Deep nesting and nullable LEAVES inside the struct included."""
    cols, scalar = _vec(tmp_path, NESTED_SCH, _nested_rows(900))
    assert cols is not None, "nested record fell back"
    _assert_equal(cols, scalar, ["id", "text"])
    for i in (0, 5, 7, 35, 899, 123):
        assert cols["inner"][i] == scalar[i]["inner"], i


def test_nested_record_schema_resolution(tmp_path):
    """Resolution inside the struct: drop a sub-field, fill a
    reader-only sub-field from its default, prune a nested struct's
    fields — vec output must equal the scalar resolver's."""
    from dataingestion_spark.sources.avro import parse_schema

    reader = parse_schema({"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "inner", "type": {
            "type": "record", "name": "i", "fields": [
                {"name": "a", "type": "long"},
                {"name": "z", "type": "string", "default": "zz"},
                {"name": "deep", "type": {
                    "type": "record", "name": "d", "fields": [
                        {"name": "y", "type": "string"}]}}]}}]})
    cols, scalar = _vec(tmp_path, NESTED_SCH, _nested_rows(800),
                        reader_node=reader)
    assert cols is not None, "resolved nested record fell back"
    for i in (0, 3, 777, 42):
        assert cols["inner"][i] == scalar[i]["inner"], i
        assert cols["inner"][i]["z"] == "zz"

    # reader WITHOUT the struct: writer-only struct skips at wave speed
    r2 = parse_schema({"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"}]})
    cols2, scalar2 = _vec(tmp_path, NESTED_SCH, _nested_rows(800),
                          reader_node=r2)
    assert cols2 is not None and list(cols2) == ["id"]
    _assert_equal(cols2, scalar2, ["id"])


NULLABLE_SCH = {"type": "record", "name": "r", "fields": [
    {"name": "id", "type": "long"},
    {"name": "inner", "type": ["null", {
        "type": "record", "name": "i", "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"],
             "default": None},
            {"name": "c", "type": "double"}]}], "default": None}]}


def _nullable_rows(n, null_every=3):
    return [{"id": i,
             "inner": None if null_every and i % null_every == 0 else
             {"a": i * 3, "b": None if i % 5 == 0 else f"b{i % 97}",
              "c": i * 0.25}}
            for i in range(n)]


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_differential_nullable_records(tmp_path, codec):
    """r14: ['null', record] vectorizes via a record_group step — one
    branch wave -> validity mask, sub-fields on the reduced wave, the
    mask applied natively by pa.StructArray (proxy-measured 2.7-3.8x
    then shipped at 2.85-4.43x,
    scripts/scale_probe_avro_nullable_struct.py)."""
    cols, scalar = _vec(tmp_path, NULLABLE_SCH, _nullable_rows(900),
                        codec=codec)
    assert cols is not None, "nullable record fell back"
    _assert_equal(cols, scalar, ["id"])
    for i in range(0, 900, 7):
        got = cols["inner"][i]
        got = None if got is None else got
        assert got == scalar[i]["inner"], (i, got, scalar[i]["inner"])


def test_nullable_record_all_null_and_none_null(tmp_path):
    """Degenerate null rates: every struct null (branch wave drops the
    whole wave) and no struct null (mask all-false) both match the
    scalar decoder."""
    cols, scalar = _vec(tmp_path, NULLABLE_SCH,
                        _nullable_rows(700, null_every=1))
    assert cols is not None
    assert all(v is None for v in cols["inner"])
    assert all(r["inner"] is None for r in scalar)
    cols, scalar = _vec(tmp_path, NULLABLE_SCH,
                        _nullable_rows(700, null_every=0))
    assert cols is not None
    for i in (0, 1, 350, 699):
        assert cols["inner"][i] == scalar[i]["inner"]


def test_nullable_record_nesting_combinations(tmp_path):
    """Nullable-inside-nullable and nullable-inside-plain structs all
    ride the (recursive) group waves; each level's mask is applied at
    its own assembly."""
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "outer", "type": ["null", {
            "type": "record", "name": "o", "fields": [
                {"name": "p", "type": "string"},
                {"name": "mid", "type": ["null", {
                    "type": "record", "name": "m", "fields": [
                        {"name": "q", "type": "long"}]}],
                 "default": None}]}], "default": None},
        {"name": "plain", "type": {
            "type": "record", "name": "pl", "fields": [
                {"name": "s", "type": "double"},
                {"name": "opt", "type": ["null", {
                    "type": "record", "name": "op", "fields": [
                        {"name": "t", "type": "string"}]}],
                 "default": None}]}}]}
    rows = []
    for i in range(800):
        outer = None
        if i % 3:
            mid = None if i % 4 == 0 else {"q": i * 7}
            outer = {"p": f"p{i % 13}", "mid": mid}
        rows.append({"id": i, "outer": outer,
                     "plain": {"s": i * 0.5,
                               "opt": None if i % 5 == 0
                               else {"t": f"t{i % 11}"}}})
    cols, scalar = _vec(tmp_path, sch, rows)
    assert cols is not None, "nested nullable combination fell back"
    for i in range(0, 800, 13):
        assert cols["outer"][i] == scalar[i]["outer"], i
        assert cols["plain"][i] == scalar[i]["plain"], i


def test_nullable_record_schema_resolution(tmp_path):
    """Resolution inside a nullable struct: dropped sub-field,
    reader-only default sub-field; and a writer-only nullable struct
    skips at wave speed. Nullability MISMATCH between writer and
    reader stays scalar (the resolver's error/None semantics differ
    per direction and aren't worth wave-modeling)."""
    from dataingestion_spark.sources.avro import parse_schema

    reader = parse_schema({"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "inner", "type": ["null", {
            "type": "record", "name": "i", "fields": [
                {"name": "a", "type": "long"},
                {"name": "z", "type": "string", "default": "zz"}]}],
         "default": None}]})
    cols, scalar = _vec(tmp_path, NULLABLE_SCH, _nullable_rows(800),
                        reader_node=reader)
    assert cols is not None, "resolved nullable record fell back"
    for i in (0, 1, 2, 777, 42):
        assert cols["inner"][i] == scalar[i]["inner"], i
        if cols["inner"][i] is not None:
            assert cols["inner"][i]["z"] == "zz"

    # reader WITHOUT the struct: writer-only nullable struct skipped
    r2 = parse_schema({"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"}]})
    cols2, scalar2 = _vec(tmp_path, NULLABLE_SCH, _nullable_rows(800),
                          reader_node=r2)
    assert cols2 is not None and list(cols2) == ["id"]
    _assert_equal(cols2, scalar2, ["id"])

    # writer nullable -> reader NON-nullable: scalar path (which
    # raises on an actual null, resolver semantics)
    r3 = parse_schema({"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "inner", "type": {
            "type": "record", "name": "i", "fields": [
                {"name": "a", "type": "long"},
                {"name": "b", "type": ["null", "string"],
                 "default": None},
                {"name": "c", "type": "double"}]}}]})
    p = str(tmp_path / "mm.avro")
    write_container(p, NULLABLE_SCH, _nullable_rows(60, null_every=0),
                    block_rows=8)
    blob = open(p, "rb").read()
    from dataingestion_spark.sources.avro_vec import _columnar_plan
    from dataingestion_spark.sources.avro import parse_schema as ps
    assert _columnar_plan(ps(NULLABLE_SCH), r3) is None
    # writer NON-nullable -> reader nullable: also scalar
    assert _columnar_plan(ps({
        "type": "record", "name": "r", "fields": [
            {"name": "id", "type": "long"},
            {"name": "inner", "type": {
                "type": "record", "name": "i", "fields": [
                    {"name": "a", "type": "long"}]}}]}), ps({
        "type": "record", "name": "r", "fields": [
            {"name": "id", "type": "long"},
            {"name": "inner", "type": ["null", {
                "type": "record", "name": "i", "fields": [
                    {"name": "a", "type": "long"}]}],
             "default": None}]})) is None


def test_nested_record_spark_roundtrip(spark, tmp_path):
    """Struct columns through write_avro/read_avro land as Spark
    StructType rows via the VECTORIZED decode (block_rows small enough
    to clear _MIN_BLOCKS)."""
    from pyspark.sql import functions as F

    from dataingestion_spark.sources.avro import read_avro, write_avro

    docs = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.struct(
            (F.col("id") * 2).alias("a"),
            F.col("id").cast("string").alias("b")).alias("inner"))
    d = str(tmp_path / "structs")
    write_avro(docs, d, shards=1, order_by="doc_id", block_rows=16)
    back = read_avro(spark, d)
    got = {r["doc_id"]: r["inner"] for r in back.collect()}
    assert got[7]["a"] == 14 and got[7]["b"] == "7"
    assert len(got) == 3000


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_differential_struct_of_everything(tmp_path, codec):
    """Randomized hardening of the r13 struct path: a struct holding
    every vectorizable leaf kind — nullable scalars, enum, fixed,
    array<float>, array<string>, and a nested struct — must decode
    identically to the scalar resolver under every codec."""
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "meta", "type": {"type": "record", "name": "m",
                                  "fields": [
            {"name": "small", "type": ["null", "int"], "default": None},
            {"name": "txt", "type": ["null", "string"],
             "default": None},
            {"name": "d", "type": "double"},
            {"name": "flag", "type": "boolean"},
            {"name": "color", "type": {"type": "enum", "name": "c",
                                       "symbols": ["R", "G", "B"]}},
            {"name": "fx", "type": {"type": "fixed", "name": "f4",
                                    "size": 4}},
            {"name": "emb", "type": {"type": "array",
                                     "items": "float"}},
            {"name": "toks", "type": {"type": "array",
                                      "items": "string"}},
            {"name": "deep", "type": {"type": "record", "name": "d2",
                                      "fields": [
                {"name": "x", "type": "int"},
                {"name": "y", "type": "string"}]}}]}}]}
    rng = random.Random(4242)
    rows = []
    for i in range(900):
        rows.append({"id": i, "meta": {
            "small": None if i % 6 == 0 else rng.randint(-2**31,
                                                         2**31 - 1),
            "txt": None if i % 5 == 0 else "wörd " * (i % 3),
            "d": rng.random() * 1e6,
            "flag": bool(i % 2),
            "color": "RGB"[i % 3],
            "fx": bytes([i % 256] * 4),
            "emb": [round(rng.random(), 3)
                    for _ in range(rng.randint(0, 5))],
            "toks": [f"t{rng.randint(0, 99)}"
                     for _ in range(rng.randint(0, 4))],
            "deep": {"x": i % 17, "y": f"y{i % 7}"}}})
    cols, scalar = _vec(tmp_path, sch, rows, codec=codec)
    assert cols is not None, "struct-of-everything fell back"
    _assert_equal(cols, scalar, ["id"])
    for i in range(0, 900, 37):
        got, want = cols["meta"][i], scalar[i]["meta"]
        assert set(got) == set(want)
        for k in want:
            gv, wv = got[k], want[k]
            if k == "emb":
                assert [round(float(x), 3) for x in gv] == \
                    [round(float(x), 3) for x in wv], (i, k)
            elif k == "emb" or k == "toks":
                assert list(gv) == list(wv), (i, k)
            else:
                assert gv == wv, (i, k, gv, wv)


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_differential_nullable_struct_of_everything(tmp_path, codec):
    """Randomized hardening of the r14 nullable-struct path: the
    struct-of-everything wrapped in ['null', ...] (plus a nullable
    deep struct inside it) must decode identically to the scalar
    resolver under every codec."""
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "meta", "type": ["null", {
            "type": "record", "name": "m", "fields": [
                {"name": "small", "type": ["null", "int"],
                 "default": None},
                {"name": "txt", "type": ["null", "string"],
                 "default": None},
                {"name": "d", "type": "double"},
                {"name": "flag", "type": "boolean"},
                {"name": "color", "type": {"type": "enum", "name": "c",
                                           "symbols": ["R", "G", "B"]}},
                {"name": "fx", "type": {"type": "fixed", "name": "f4",
                                        "size": 4}},
                {"name": "emb", "type": {"type": "array",
                                         "items": "float"}},
                {"name": "toks", "type": {"type": "array",
                                          "items": "string"}},
                {"name": "deep", "type": ["null", {
                    "type": "record", "name": "d2", "fields": [
                        {"name": "x", "type": "int"},
                        {"name": "y", "type": "string"}]}],
                 "default": None}]}], "default": None}]}
    rng = random.Random(1414)
    rows = []
    for i in range(900):
        meta = None
        if i % 4:
            meta = {
                "small": None if i % 6 == 0
                else rng.randint(-2**31, 2**31 - 1),
                "txt": None if i % 5 == 0 else "wörd " * (i % 3),
                "d": rng.random() * 1e6,
                "flag": bool(i % 2),
                "color": "RGB"[i % 3],
                "fx": bytes([i % 256] * 4),
                "emb": [round(rng.random(), 3)
                        for _ in range(rng.randint(0, 5))],
                "toks": [f"t{rng.randint(0, 99)}"
                         for _ in range(rng.randint(0, 4))],
                "deep": None if i % 7 == 0
                else {"x": i % 17, "y": f"y{i % 7}"}}
        rows.append({"id": i, "meta": meta})
    cols, scalar = _vec(tmp_path, sch, rows, codec=codec)
    assert cols is not None, "nullable struct-of-everything fell back"
    _assert_equal(cols, scalar, ["id"])
    for i in range(0, 900, 11):
        got, want = cols["meta"][i], scalar[i]["meta"]
        if want is None:
            assert got is None, i
            continue
        assert set(got) == set(want), i
        for k in want:
            gv, wv = got[k], want[k]
            if k == "emb":
                assert [round(float(x), 3) for x in gv] == \
                    [round(float(x), 3) for x in wv], (i, k)
            elif k == "toks":
                assert list(gv) == list(wv), (i, k)
            else:
                assert gv == wv, (i, k, gv, wv)


def test_nullable_record_spark_roundtrip(spark, tmp_path):
    """Nullable struct columns through write_avro/read_avro land as
    nullable Spark StructType rows via the vectorized decode."""
    from pyspark.sql import functions as F

    from dataingestion_spark.sources.avro import read_avro, write_avro

    docs = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 != 0, F.struct(
            (F.col("id") * 2).alias("a"),
            F.col("id").cast("string").alias("b"))).alias("inner"))
    d = str(tmp_path / "nstructs")
    write_avro(docs, d, shards=1, order_by="doc_id", block_rows=16)
    back = read_avro(spark, d)
    got = {r["doc_id"]: r["inner"] for r in back.collect()}
    assert len(got) == 3000
    assert got[0] is None and got[3] is None
    assert got[7]["a"] == 14 and got[7]["b"] == "7"


def test_arrow_interchange_differential(spark, tmp_path):
    """read_avro's mapInArrow parse must return the SOURCE frame row
    for row across flat scalars, array<float>/array<string> and
    nullable structs — through the vectorized decoder and through a
    file below the block gate (scalar fallback via pa.array)."""
    from pyspark.sql import functions as F

    from dataingestion_spark.sources.avro import read_avro, write_avro

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("string").alias("txt"),
        F.when(F.col("id") % 7 != 0,
               F.col("id").cast("double")).alias("nd"),
        F.when(F.col("id") % 3 != 0, F.struct(
            (F.col("id") * 2).alias("a"),
            F.col("id").cast("string").alias("b"))).alias("inner"),
        F.array(F.col("id").cast("float"), F.lit(1.5)).alias("emb"),
        F.array(F.col("id").cast("string"),
                F.lit("tok")).alias("toks"))
    d = str(tmp_path / "shards")
    write_avro(docs, d, shards=2, order_by="doc_id", block_rows=16)
    want = docs.orderBy("doc_id").collect()
    got = read_avro(spark, d).orderBy("doc_id").collect()
    assert len(got) == 4000 and got == want

    # below the block gate: scalar decode crosses via pa.array
    small = str(tmp_path / "small")
    few = docs.where(F.col("doc_id") < 50)
    write_avro(few, small, shards=1, order_by="doc_id",
               block_rows=1024)
    got = read_avro(spark, small).orderBy("doc_id").collect()
    assert len(got) == 50 and got == few.orderBy("doc_id").collect()


def test_arrow_interchange_enum_fixed_and_resolution(tmp_path):
    """Unit-level columnar decode: enum (dictionary cast), fixed, and
    reader-side resolution (default fill + promotion) return
    pa.Arrays equal to the scalar resolver's values."""
    import pyarrow as pa

    from dataingestion_spark.sources.avro import (
        parse_schema, read_container_columnar, write_container,
    )

    rows = _wide_rows(700)
    p = str(tmp_path / "w.avro")
    write_container(p, WIDE, rows, block_rows=8)
    blob = open(p, "rb").read()
    reader = parse_schema({"type": "record", "name": "w", "fields": [
        {"name": "id", "type": "double"},
        {"name": "color", "type": {"type": "enum", "name": "c",
                                   "symbols": ["R", "G", "B"]}},
        {"name": "fx", "type": {"type": "fixed", "name": "fx8",
                                "size": 4}},
        {"name": "added", "type": "string", "default": "dflt"}]})
    _, acols = read_container_columnar(blob, p, reader_node=reader)
    _, scalar = read_container(blob, p, reader_node=reader)
    assert acols is not None
    for c in ("id", "color", "fx", "added"):
        assert isinstance(acols[c], pa.Array), c
        assert acols[c].to_pylist() == [r[c] for r in scalar], c


def test_arrow_interchange_timestamps(spark, tmp_path):
    """Timestamp and date logicals ride the same mapInArrow parse as
    every other type: the read equals the source frame, nulls
    included, through the vectorized decoder and the scalar
    fallback."""
    from pyspark.sql import functions as F

    from dataingestion_spark.sources.avro import read_avro, write_avro

    docs = spark.range(2000).select(
        F.col("id").alias("k"),
        F.timestamp_micros(F.col("id") * 1_000_003).alias("ts"),
        F.when(F.col("id") % 3 != 0, F.date_from_unix_date(
            F.col("id").cast("int"))).alias("day"))
    want = docs.orderBy("k").collect()
    for block_rows in (16, 1024):  # 125 blocks vs 2 (< the gate)
        d = str(tmp_path / f"ts{block_rows}")
        write_avro(docs, d, shards=1, order_by="k",
                   block_rows=block_rows)
        assert read_avro(spark, d).orderBy("k").collect() == want


def test_arrow_interchange_split_reader(spark, tmp_path):
    """read_avro_split: every split's decoded columns cross as one
    Arrow batch; results equal the SOURCE frame and the whole-file
    read, including splits that straddle block boundaries (1 MB
    splits over a multi-MB shard)."""
    from pyspark.sql import functions as F

    from dataingestion_spark.sources.avro import (
        read_avro, read_avro_split, write_avro,
    )

    docs = spark.range(60_000).select(
        F.col("id").alias("doc_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"),
        F.when(F.col("id") % 3 != 0, F.struct(
            (F.col("id") * 2).alias("a"),
            F.col("id").cast("string").alias("b"))).alias("meta"))
    d = str(tmp_path / "shards")
    write_avro(docs, d, shards=2, order_by="doc_id", block_rows=64)
    want = docs.orderBy("doc_id").collect()
    whole = read_avro(spark, d).orderBy("doc_id").collect()
    sp = read_avro_split(spark, d, split_mb=1).orderBy("doc_id") \
        .collect()
    assert whole == sp == want
    assert len(sp) == 60_000


ARRAY_REC_SCH = {"type": "record", "name": "r", "fields": [
    {"name": "id", "type": "long"},
    {"name": "ents", "type": {"type": "array", "items": {
        "type": "record", "name": "e", "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"},
            {"name": "c", "type": ["null", "double"],
             "default": None},
            {"name": "f", "type": "boolean"}]}}}]}


def _array_rec_rows(n):
    out = []
    for i in range(n):
        c = (i * 7) % 5
        out.append({"id": i, "ents": [
            {"a": i * 10 + j, "b": f"é{(i + j) % 97}",
             "c": None if (i + j) % 3 == 0 else (i + j) * 0.5,
             "f": bool((i + j) % 2)}
            for j in range(c)]})
    return out


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_differential_array_of_records(tmp_path, codec):
    """r14: array<record> (the entities/spans shape) vectorizes via
    per-element per-field waves and a LargeList<Struct> assembly —
    proxy-measured 4.2-5.4x then shipped at 2.4-4.3x
    (scripts/scale_probe_avro_array_struct.py). Includes empty
    arrays, nullable element fields, and non-ASCII strings."""
    cols, scalar = _vec(tmp_path, ARRAY_REC_SCH,
                        _array_rec_rows(900), codec=codec)
    assert cols is not None, "array<record> fell back"
    _assert_equal(cols, scalar, ["id"])
    for i in range(900):
        want = scalar[i]["ents"]
        got = [dict(d) for d in cols["ents"][i]]
        assert want == got, (i, want, got)


def test_array_of_records_resolution_and_gates(tmp_path):
    """Reader-side resolution INSIDE the element record (drop a
    field, fill a default, promote) rides the same plan machinery;
    out-of-scope element shapes (nested record, enum, array) decline
    to the scalar path."""
    from dataingestion_spark.sources.avro import parse_schema

    reader = parse_schema({"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "ents", "type": {"type": "array", "items": {
            "type": "record", "name": "e", "fields": [
                {"name": "a", "type": "double"},         # promote
                {"name": "z", "type": "string",
                 "default": "zz"}]}}}]})                  # fill
    cols, scalar = _vec(tmp_path, ARRAY_REC_SCH,
                        _array_rec_rows(800), reader_node=reader)
    assert cols is not None, "resolved array<record> fell back"
    for i in (0, 3, 42, 777):
        want = scalar[i]["ents"]
        got = [dict(d) for d in cols["ents"][i]]
        assert want == got, (i, want, got)
        for d in got:
            assert d["z"] == "zz" and isinstance(d["a"], float)

    # nested record inside the element: scalar path
    deep = {"type": "record", "name": "r", "fields": [
        {"name": "xs", "type": {"type": "array", "items": {
            "type": "record", "name": "e", "fields": [
                {"name": "inner", "type": {
                    "type": "record", "name": "i", "fields": [
                        {"name": "v", "type": "long"}]}}]}}}]}
    rows = [{"xs": [{"inner": {"v": i}}]} for i in range(600)]
    cols2, _ = _vec(tmp_path, deep, rows)
    assert cols2 is None
    # enum + fixed INSIDE the element vectorize (dictionary cast /
    # binary ranges)
    en = {"type": "record", "name": "r", "fields": [
        {"name": "xs", "type": {"type": "array", "items": {
            "type": "record", "name": "e", "fields": [
                {"name": "col", "type": {
                    "type": "enum", "name": "c",
                    "symbols": ["R", "G", "B"]}},
                {"name": "fx", "type": {
                    "type": "fixed", "name": "f4", "size": 4}},
                {"name": "oc", "type": ["null", {
                    "type": "enum", "name": "c2",
                    "symbols": ["X", "Y"]}], "default": None}]}}}]}
    rows = [{"xs": [
        {"col": "RGB"[(i + j) % 3], "fx": bytes([(i + j) % 256] * 4),
         "oc": None if (i + j) % 3 == 0 else "XY"[(i + j) % 2]}
        for j in range(i % 4)]} for i in range(700)]
    cols3, scalar3 = _vec(tmp_path, en, rows)
    assert cols3 is not None, "enum/fixed element fields fell back"
    for i in range(0, 700, 7):
        want = scalar3[i]["xs"]
        got = [dict(d) for d in cols3["xs"][i]]
        assert want == got, (i, want, got)


def test_array_of_records_multiblock_and_nullable_array(tmp_path):
    """Foreign writers chunk one array across several blocks; rows
    drop out of the wave at their count-0 terminator, continuation
    segments scatter per-element — and a NULLABLE array<record>
    column masks whole rows."""
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "ents", "type": ["null", {
            "type": "array", "items": {
                "type": "record", "name": "e", "fields": [
                    {"name": "a", "type": "long"},
                    {"name": "b", "type": "string"}]}}],
         "default": None}]}
    rows = []
    for i in range(800):
        if i % 4 == 0:
            rows.append({"id": i, "ents": None})
        else:
            rows.append({"id": i, "ents": [
                {"a": i + j, "b": f"b{j}"}
                for j in range((i * 3) % 6)]})
    cols, scalar = _vec(tmp_path, sch, rows)
    assert cols is not None, "nullable array<record> fell back"
    for i in range(800):
        want = scalar[i]["ents"]
        got = cols["ents"][i]
        if want is None:
            assert got is None, i
        else:
            assert [dict(d) for d in got] == want, i


def test_array_of_records_spark_roundtrip(spark, tmp_path):
    """array<struct> columns through write_avro/read_avro land as
    Spark ArrayType(StructType) rows via the vectorized decode, equal
    to the source frame."""
    from pyspark.sql import functions as F

    from dataingestion_spark.sources.avro import read_avro, write_avro

    docs = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 == 0, F.array().cast(
            "array<struct<a:bigint,b:string>>")).otherwise(F.array(
                F.struct((F.col("id") * 2).alias("a"),
                         F.col("id").cast("string").alias("b")),
                F.struct((F.col("id") * 3).alias("a"),
                         F.lit("x").alias("b")))).alias("ents"))
    d = str(tmp_path / "arr_structs")
    write_avro(docs, d, shards=1, order_by="doc_id", block_rows=16)
    a = read_avro(spark, d).orderBy("doc_id").collect()
    assert a == docs.orderBy("doc_id").collect() and len(a) == 3000
    got = {r["doc_id"]: r["ents"] for r in a}
    assert got[5] == []
    assert got[7][0]["a"] == 14 and got[7][1]["b"] == "x"


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_encoder_struct_byte_identity(tmp_path, codec):
    """r14: NON-nullable struct columns ENCODE through the vectorized
    path too — encode_frame flattens them to their children (one
    Arrow C pass per struct, wire = fields inlined) and the wave
    layout emits the twin. Must be byte-identical to the scalar
    encoder, including nullable longs > 2^53 inside the struct (the
    integer_object_nulls extraction) and arrays/nested structs."""
    import pandas as pd

    from dataingestion_spark.sources.avro import write_container_frame

    sch = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "inner", "type": {
            "type": "record", "name": "i", "fields": [
                {"name": "a", "type": "long"},
                {"name": "b", "type": "string"},
                {"name": "nd", "type": ["null", "double"],
                 "default": None},
                {"name": "big", "type": ["null", "long"],
                 "default": None},
                {"name": "emb", "type": {"type": "array",
                                         "items": "float"}},
                {"name": "deep", "type": {
                    "type": "record", "name": "d", "fields": [
                        {"name": "x", "type": "boolean"}]}}]}}]}
    rows = []
    for i in range(3000):
        rows.append({"id": i, "inner": {
            "a": i * 3, "b": f"t{i % 97}",
            "nd": None if i % 4 == 0 else i * 0.5,
            "big": None if i % 3 == 0 else (1 << 60) + i,
            "emb": [float(i % 7) * 0.5] * (i % 3),
            "deep": {"x": bool(i % 2)}}})
    pdf = pd.DataFrame({
        "id": [r["id"] for r in rows],
        "inner": pd.Series([r["inner"] for r in rows], dtype=object)})
    p1, p2 = str(tmp_path / "a.avro"), str(tmp_path / "b.avro")
    sync = b"0123456789abcdef"
    write_container(p1, sch, rows, codec=codec, sync=sync,
                    block_rows=128)
    assert write_container_frame(p2, sch, pdf, ["id", "inner"],
                                 codec=codec, sync=sync,
                                 block_rows=128)
    assert open(p1, "rb").read() == open(p2, "rb").read()


def test_encoder_struct_gates(tmp_path):
    """NULLABLE struct columns encode vectorized too (r14: recursive
    encode_frame over the drop_null'd child frame, generic union tag
    + span scatter — byte-identical); a null dict under a
    NON-nullable struct fails exactly like the scalar path."""
    import pandas as pd
    import pytest as _pt

    from dataingestion_spark.sources.avro import write_container_frame

    nullable = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "inner", "type": ["null", {
            "type": "record", "name": "i", "fields": [
                {"name": "a", "type": "long"},
                {"name": "b", "type": ["null", "string"],
                 "default": None}]}], "default": None}]}
    rows = [{"id": i,
             "inner": None if i % 3 == 0 else
             {"a": i * 7, "b": None if i % 5 == 0 else f"s{i}"}}
            for i in range(800)]
    pdf = pd.DataFrame({
        "id": [r["id"] for r in rows],
        "inner": pd.Series([r["inner"] for r in rows],
                           dtype=object)})
    p1, p2 = str(tmp_path / "a.avro"), str(tmp_path / "b.avro")
    sync = b"0123456789abcdef"
    write_container(p1, nullable, rows, sync=sync, block_rows=64)
    assert write_container_frame(p2, nullable, pdf, ["id", "inner"],
                                 sync=sync, block_rows=64)
    assert open(p1, "rb").read() == open(p2, "rb").read()

    nonnull = {"type": "record", "name": "r", "fields": [
        {"name": "inner", "type": {
            "type": "record", "name": "i", "fields": [
                {"name": "a", "type": "long"}]}}]}
    with _pt.raises(ValueError, match="null struct"):
        write_container_frame(
            str(tmp_path / "y.avro"), nonnull,
            pd.DataFrame({"inner": pd.Series([None, {"a": 1}],
                                             dtype=object)}),
            ["inner"])


def test_encoder_struct_spark_write(spark, tmp_path):
    """write_avro with a struct column routes through the vectorized
    encoder (no fallback) and the decode roundtrip is exact."""
    from pyspark.sql import functions as F

    from dataingestion_spark.sources.avro import read_avro, write_avro

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.struct((F.col("id") * 2).alias("a"),
                 F.col("id").cast("string").alias("b")).alias("meta"))
    d = str(tmp_path / "enc_structs")
    write_avro(docs, d, shards=1, order_by="doc_id", block_rows=64)
    back = {r["doc_id"]: r["meta"]
            for r in read_avro(spark, d).collect()}
    assert len(back) == 4000
    assert back[9]["a"] == 18 and back[9]["b"] == "9"


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_encoder_array_record_byte_identity(tmp_path, codec):
    """r14: array<record> columns ENCODE vectorized — the element
    stream is one recursive encode_frame over the exploded element
    frame, with count varints and zero terminators interleaved into
    a per-row payload (measured 2.5-2.6x scalar). Byte-identical,
    including a NULLABLE array<record> column and empty arrays."""
    import pandas as pd

    from dataingestion_spark.sources.avro import write_container_frame

    item = {"type": "record", "name": "e", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},
        {"name": "c", "type": ["null", "double"], "default": None},
        {"name": "deep", "type": {
            "type": "record", "name": "d", "fields": [
                {"name": "x", "type": "boolean"}]}}]}
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "ents", "type": {"type": "array", "items": item}},
        {"name": "opt", "type": ["null", {
            "type": "array", "items": "e"}], "default": None}]}
    rows = []
    for i in range(2500):
        c = (i * 7) % 5
        ents = [{"a": i * 10 + j, "b": f"é{(i + j) % 97}",
                 "c": None if (i + j) % 3 == 0 else (i + j) * 0.5,
                 "deep": {"x": bool((i + j) % 2)}}
                for j in range(c)]
        rows.append({"id": i, "ents": ents,
                     "opt": None if i % 4 == 0 else ents[:1]})
    pdf = pd.DataFrame({
        "id": [r["id"] for r in rows],
        "ents": pd.Series([r["ents"] for r in rows], dtype=object),
        "opt": pd.Series([r["opt"] for r in rows], dtype=object)})
    p1, p2 = str(tmp_path / "a.avro"), str(tmp_path / "b.avro")
    sync = b"0123456789abcdef"
    write_container(p1, sch, rows, codec=codec, sync=sync,
                    block_rows=128)
    assert write_container_frame(p2, sch, pdf, ["id", "ents", "opt"],
                                 codec=codec, sync=sync,
                                 block_rows=128)
    assert open(p1, "rb").read() == open(p2, "rb").read()

    # out-of-plan element (map inside) declines to scalar
    bad = {"type": "record", "name": "r", "fields": [
        {"name": "xs", "type": {"type": "array", "items": {
            "type": "record", "name": "m", "fields": [
                {"name": "kv", "type": {"type": "map",
                                        "values": "long"}}]}}}]}
    assert write_container_frame(
        str(tmp_path / "c.avro"), bad,
        pd.DataFrame({"xs": pd.Series([[{"kv": {"k": 1}}]],
                                      dtype=object)}), ["xs"]) is False


def test_encoder_array_record_spark_roundtrip(spark, tmp_path):
    """write_avro of an array<struct> frame goes vectorized encode →
    vectorized decode; the roundtrip equals the source frame."""
    from pyspark.sql import functions as F

    from dataingestion_spark.sources.avro import read_avro, write_avro

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 == 0, F.array().cast(
            "array<struct<a:bigint,b:string>>")).otherwise(F.array(
                F.struct((F.col("id") * 2).alias("a"),
                         F.col("id").cast("string").alias("b"))))
        .alias("ents"))
    d = str(tmp_path / "enc_arr")
    write_avro(docs, d, shards=1, order_by="doc_id", block_rows=64)
    a = read_avro(spark, d).orderBy("doc_id").collect()
    assert a == docs.orderBy("doc_id").collect() and len(a) == 4000
    got = {r["doc_id"]: r["ents"] for r in a}
    assert got[5] == [] and got[7][0]["a"] == 14
