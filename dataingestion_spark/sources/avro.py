"""Avro Object Container File source and sink (pure python).

Implemented against the PUBLIC Apache Avro 1.12 specification
(avro.apache.org/docs/1.12.0/specification): an Object Container File
is the 4-byte magic ``Obj\\x01``, a file-metadata map carrying
``avro.schema`` (writer schema JSON) and ``avro.codec``, a 16-byte sync
marker, then data blocks of ``count``/``byte-size``/``payload``/``sync``
with the payload a concatenation of binary-encoded records (zigzag
varint longs, length-prefixed bytes/strings, IEEE little-endian floats,
block-encoded arrays/maps, index-prefixed unions).

This image ships the avro *core* jars but not the ``spark-avro`` SQL
connector, so ``spark.read.format("avro")`` is unavailable — the codec
here is hand-written from the wire spec (same posture as the TFRecord
proto3 codec, `sources/tfrecord.py`), with golden known-answer bytes
from the spec's own example pinning the encoding.

Scale shape: Avro is a ROW-MAJOR format — unlike parquet/Arrow IPC,
column projection cannot skip bytes (every field must be parsed to find
the next), so ``columns=`` prunes only materialization, not IO or
decode. `read_avro` is one task per file (``binaryFile`` delivers
whole blobs; parallelism = shard count, same contract as TFRecord/
WARC/zstd JSONL — shard at write time so files stay executor-memory
sized); `read_avro_split` additionally scales IN by splitting each
container at sync markers (the spec's own splitting design), so one
oversized foreign shard decodes across many executors. The
writer is one task per hash-shard with in-shard ordering and a
shard-derived sync marker, so bytes are DETERMINISTIC given the data
(idempotent re-exports, content-addressable shards — the layout
contract shared by the TFRecord/WebDataset/Arrow-IPC sinks), and
flat frames ENCODE through the vectorized columnar encoder
(`sources/avro_vec_enc.py`, byte-identical, 3.3× measured). Flat
record schemas decode through the numpy lock-step columnar path
(`sources/avro_vec.py`, 2.5–4× flat / 10–12× on array<float>
embeddings per `scripts/scale_probe_avro.py`, growing with file
size); nested schemas and small files use the scalar per-value
decoder (documented hot-spot class, SCALE.md); the
``deflate`` codec is raw RFC-1951 per the spec, and ``snappy`` (the
spec's third core codec, the default on most real-world Avro corpora)
is pyarrow's bundled Snappy with the spec-required 4-byte big-endian
CRC32 of the uncompressed block appended to each compressed block.

Also the base layer for Apache Iceberg interop
(`interop/iceberg.py`): Iceberg manifests and manifest lists are Avro
files whose schemas carry ``field-id`` attributes — the parser keeps
unknown schema attributes intact so those files read and write through
this same codec.

Cited parity: the reference has no Avro surface; this extends the
training-data interchange matrix (SURVEY.md §2-beyond) alongside
TFRecord, WebDataset, zstd-JSONL and Arrow IPC.
"""

from __future__ import annotations

import json
import os
import struct
import zlib
from typing import Any, Callable, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = [
    "read_avro", "read_avro_split", "stream_avro", "write_avro",
    "spark_to_avro_schema", "avro_to_spark_schema",
    "encode_records", "decode_blocks", "write_container",
    "write_container_frame", "read_container",
]

_MAGIC = b"Obj\x01"
_EPOCH_ORDINAL = 719163  # datetime.date(1970, 1, 1).toordinal()


# ---------------------------------------------------------------------------
# primitive binary encoding (spec "Binary Encoding")

def _enc_long(out: bytearray, v: int) -> None:
    """Zigzag varint. Python's arbitrary-precision ints make
    ``(v << 1) ^ (v >> 63)`` correct for the whole 64-bit range."""
    v = (v << 1) ^ (v >> 63)
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


class _Cursor:
    """Position cursor over one decompressed block (or the header)."""

    __slots__ = ("buf", "pos", "name")

    def __init__(self, buf: bytes, name: str = "<avro>"):
        self.buf = buf
        self.pos = 0
        self.name = name

    def read_long(self) -> int:
        buf, pos = self.buf, self.pos
        shift = 0
        acc = 0
        try:
            while True:
                b = buf[pos]
                pos += 1
                acc |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
                if shift > 70:
                    raise ValueError(f"{self.name}: varint too long")
        except IndexError:
            raise ValueError(f"{self.name}: truncated varint") from None
        self.pos = pos
        return (acc >> 1) ^ -(acc & 1)

    def read_bytes(self) -> bytes:
        n = self.read_long()
        if n < 0:
            raise ValueError(f"{self.name}: negative byte-length {n}")
        end = self.pos + n
        if end > len(self.buf):
            raise ValueError(f"{self.name}: truncated bytes "
                             f"(need {n}, have {len(self.buf) - self.pos})")
        out = self.buf[self.pos:end]
        self.pos = end
        return out

    def read_fixed(self, n: int) -> bytes:
        end = self.pos + n
        if end > len(self.buf):
            raise ValueError(f"{self.name}: truncated fixed({n})")
        out = self.buf[self.pos:end]
        self.pos = end
        return out


# ---------------------------------------------------------------------------
# schema parsing — a small tree of dict nodes; unknown attributes (e.g.
# Iceberg's "field-id") are preserved on the node under "attrs"

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double",
               "bytes", "string"}


def parse_schema(js: Any, named: Optional[Dict[str, Dict]] = None) -> Dict:
    """Parse Avro schema JSON into the internal node tree.

    ``named`` accumulates named types (records/enums/fixed) so later
    references by full name resolve — required for real-world writer
    schemas (Iceberg reuses e.g. ``r2`` key/value records)."""
    if named is None:
        named = {}
    if isinstance(js, str):
        if js in _PRIMITIVES:
            return {"kind": js}
        if js in named:
            return named[js]
        raise ValueError(f"unknown schema reference {js!r}")
    if isinstance(js, list):
        return {"kind": "union",
                "branches": [parse_schema(b, named) for b in js]}
    if not isinstance(js, dict):
        raise ValueError(f"bad schema node: {js!r}")
    t = js.get("type")
    logical = js.get("logicalType")
    if t in _PRIMITIVES:
        node = {"kind": t}
        if logical:
            node["logical"] = logical
        return node
    if t == "record":
        name = js.get("name")
        full = (js["namespace"] + "." + name) if js.get("namespace") else name
        node: Dict = {"kind": "record", "name": full, "attrs": js}
        if full:
            named[full] = node
            if name:
                named.setdefault(name, node)
        node["fields"] = [
            {"name": f["name"],
             "schema": parse_schema(f["type"], named),
             "attrs": f}
            for f in js.get("fields", [])]
        return node
    if t == "array":
        return {"kind": "array", "items": parse_schema(js["items"], named)}
    if t == "map":
        return {"kind": "map", "values": parse_schema(js["values"], named)}
    if t == "enum":
        node = {"kind": "enum", "name": js.get("name"),
                "symbols": list(js["symbols"])}
        if js.get("name"):
            named[js["name"]] = node
        return node
    if t == "fixed":
        node = {"kind": "fixed", "name": js.get("name"),
                "size": int(js["size"])}
        if logical:
            node["logical"] = logical
        if js.get("name"):
            named[js["name"]] = node
        return node
    if isinstance(t, (dict, list)):
        return parse_schema(t, named)
    raise ValueError(f"unsupported Avro type {t!r}")


# ---------------------------------------------------------------------------
# Spark <-> Avro schema mapping

def spark_to_avro_schema(schema: T.StructType, name: str = "row",
                         namespace: Optional[str] = None) -> Dict:
    """Spark StructType -> Avro record schema JSON (dict).

    Nullable fields/elements become ``["null", T]`` unions with a null
    default — the standard Avro nullability idiom."""
    rec: Dict = {"type": "record", "name": name,
                 "fields": [
                     {"name": f.name,
                      "type": _spark_field_to_avro(f.dataType, f.nullable,
                                                   f.name),
                      **({"default": None} if f.nullable else {})}
                     for f in schema.fields]}
    if namespace:
        rec["namespace"] = namespace
    return rec


def _spark_field_to_avro(dt: T.DataType, nullable: bool, path: str) -> Any:
    base = _spark_type_to_avro(dt, path)
    return ["null", base] if nullable else base


def _spark_type_to_avro(dt: T.DataType, path: str) -> Any:
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.ArrayType):
        return {"type": "array",
                "items": _spark_field_to_avro(dt.elementType, dt.containsNull,
                                              path + "[]")}
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise ValueError(
                f"{path}: Avro maps require string keys, got {dt.keyType}")
        return {"type": "map",
                "values": _spark_field_to_avro(dt.valueType,
                                               dt.valueContainsNull,
                                               path + "{}")}
    if isinstance(dt, T.StructType):
        return spark_to_avro_schema(dt, name=path.replace(".", "_") + "_rec")
    raise ValueError(f"{path}: no Avro mapping for Spark type {dt} "
                     "(decimal/interval not supported by this codec)")


def avro_to_spark_schema(node: Dict) -> T.StructType:
    """Avro record node (from :func:`parse_schema`) -> Spark StructType."""
    if node["kind"] != "record":
        raise ValueError(f"top-level Avro schema must be a record, "
                         f"got {node['kind']}")
    fields = []
    for f in node["fields"]:
        dt, nullable = _avro_node_to_spark(f["schema"], f["name"])
        fields.append(T.StructField(f["name"], dt, nullable))
    return T.StructType(fields)


def _avro_node_to_spark(node: Dict, path: str) -> Tuple[T.DataType, bool]:
    kind = node["kind"]
    if kind == "union":
        branches = node["branches"]
        others = [b for b in branches if b["kind"] != "null"]
        if len(branches) > 2 or len(others) != 1:
            raise ValueError(
                f"{path}: only ['null', T] unions supported, got "
                f"{[b['kind'] for b in branches]}")
        dt, _ = _avro_node_to_spark(others[0], path)
        return dt, True
    logical = node.get("logical")
    if logical == "decimal":
        raise ValueError(f"{path}: Avro decimal logical type not supported")
    if kind == "long":
        if logical in ("timestamp-micros", "timestamp-millis",
                       "local-timestamp-micros", "local-timestamp-millis"):
            return T.TimestampType(), False
        return T.LongType(), False
    if kind == "int":
        if logical == "date":
            return T.DateType(), False
        return T.IntegerType(), False
    if kind == "double":
        return T.DoubleType(), False
    if kind == "float":
        return T.FloatType(), False
    if kind == "string":
        return T.StringType(), False
    if kind == "bytes":
        return T.BinaryType(), False
    if kind == "boolean":
        return T.BooleanType(), False
    if kind == "null":
        return T.NullType(), True
    if kind == "enum":
        return T.StringType(), False
    if kind == "fixed":
        return T.BinaryType(), False
    if kind == "array":
        dt, nullable = _avro_node_to_spark(node["items"], path + "[]")
        return T.ArrayType(dt, nullable), False
    if kind == "map":
        dt, nullable = _avro_node_to_spark(node["values"], path + "{}")
        return T.MapType(T.StringType(), dt, nullable), False
    if kind == "record":
        return avro_to_spark_schema(node), False
    raise ValueError(f"{path}: unsupported Avro kind {kind!r}")


# ---------------------------------------------------------------------------
# value encoders / decoders compiled per schema node

def _compile_encoder(node: Dict, path: str) -> Callable[[bytearray, Any], None]:
    kind = node["kind"]
    if kind == "union":
        branches = node["branches"]
        null_idx = next((i for i, b in enumerate(branches)
                         if b["kind"] == "null"), None)
        others = [(i, b) for i, b in enumerate(branches)
                  if b["kind"] != "null"]
        if null_idx is None or len(others) != 1:
            raise ValueError(f"{path}: only ['null', T] unions are writable")
        vi, vb = others[0]
        enc_v = _compile_encoder(vb, path)

        # None is the only null: NaN is a float value
        def enc_union(out, v, _ni=null_idx, _vi=vi, _enc=enc_v):
            if v is None:
                _enc_long(out, _ni)
            else:
                _enc_long(out, _vi)
                _enc(out, v)
        return enc_union
    if kind == "null":
        return lambda out, v: None
    if kind == "long" or kind == "int":
        logical = node.get("logical")
        if logical and logical.endswith(("timestamp-micros",
                                          "timestamp-millis")):
            import pandas as pd

            # Timestamp.value is ns since the epoch, UTC: a zoned value
            # keeps its instant, a naive one (a struct child from
            # Arrow) is UTC wall time
            div = 1000 if logical.endswith("micros") else 1_000_000
            return lambda out, v: _enc_long(
                out, pd.Timestamp(v).value // div)
        if logical == "date":
            return lambda out, v: _enc_long(
                out, v.toordinal() - _EPOCH_ORDINAL)
        return lambda out, v: _enc_long(out, int(v))
    if kind == "double":
        return lambda out, v: out.extend(struct.pack("<d", float(v)))
    if kind == "float":
        return lambda out, v: out.extend(struct.pack("<f", float(v)))
    if kind == "boolean":
        return lambda out, v: out.append(1 if v else 0)
    if kind == "string":
        def enc_str(out, v):
            b = v.encode("utf-8")
            _enc_long(out, len(b))
            out.extend(b)
        return enc_str
    if kind == "bytes":
        def enc_bytes(out, v):
            b = bytes(v)
            _enc_long(out, len(b))
            out.extend(b)
        return enc_bytes
    if kind == "fixed":
        size = node["size"]

        def enc_fixed(out, v, _n=size):
            b = bytes(v)
            if len(b) != _n:
                raise ValueError(f"{path}: fixed({_n}) got {len(b)} bytes")
            out.extend(b)
        return enc_fixed
    if kind == "enum":
        index = {s: i for i, s in enumerate(node["symbols"])}

        def enc_enum(out, v, _ix=index):
            try:
                _enc_long(out, _ix[v])
            except KeyError:
                raise ValueError(f"{path}: {v!r} not in enum "
                                 f"{node['symbols']}") from None
        return enc_enum
    if kind == "array":
        enc_item = _compile_encoder(node["items"], path + "[]")

        def enc_array(out, v, _enc=enc_item):
            n = len(v)
            if n:
                _enc_long(out, n)
                for item in v:
                    _enc(out, item)
            _enc_long(out, 0)
        return enc_array
    if kind == "map":
        enc_val = _compile_encoder(node["values"], path + "{}")

        # a dict, or Arrow's Python form of a map: (key, value) pairs
        def enc_map(out, v, _enc=enc_val):
            if v:
                _enc_long(out, len(v))
                for k, item in (v.items() if isinstance(v, dict) else v):
                    kb = k.encode("utf-8")
                    _enc_long(out, len(kb))
                    out.extend(kb)
                    _enc(out, item)
            _enc_long(out, 0)
        return enc_map
    if kind == "record":
        encs = [(f["name"], _compile_encoder(f["schema"],
                                             f"{path}.{f['name']}"))
                for f in node["fields"]]

        def enc_record(out, v, _encs=encs):
            get = v.get if isinstance(v, dict) else (
                lambda k: getattr(v, k, None))
            for name, enc in _encs:
                enc(out, get(name))
        return enc_record
    raise ValueError(f"{path}: cannot encode Avro kind {kind!r}")


def _compile_decoder(node: Dict, path: str) -> Callable[[_Cursor], Any]:
    kind = node["kind"]
    if kind == "union":
        decs = [_compile_decoder(b, path) for b in node["branches"]]

        def dec_union(cur, _decs=decs):
            i = cur.read_long()
            try:
                return _decs[i](cur)
            except IndexError:
                raise ValueError(
                    f"{path}: union index {i} out of range") from None
        return dec_union
    if kind == "null":
        return lambda cur: None
    if kind in ("long", "int"):
        logical = node.get("logical")
        if logical in ("timestamp-micros", "local-timestamp-micros"):
            import pandas as pd
            return lambda cur: pd.Timestamp(cur.read_long() * 1000)
        if logical in ("timestamp-millis", "local-timestamp-millis"):
            import pandas as pd
            return lambda cur: pd.Timestamp(cur.read_long() * 1_000_000)
        if logical == "date":
            import datetime
            return lambda cur: datetime.date.fromordinal(
                _EPOCH_ORDINAL + cur.read_long())
        return lambda cur: cur.read_long()
    if kind == "double":
        def dec_double(cur):
            v = struct.unpack("<d", cur.read_fixed(8))[0]
            return v
        return dec_double
    if kind == "float":
        return lambda cur: struct.unpack("<f", cur.read_fixed(4))[0]
    if kind == "boolean":
        return lambda cur: cur.read_fixed(1) == b"\x01"
    if kind == "string":
        return lambda cur: cur.read_bytes().decode("utf-8")
    if kind == "bytes":
        return lambda cur: cur.read_bytes()
    if kind == "fixed":
        size = node["size"]
        return lambda cur: cur.read_fixed(size)
    if kind == "enum":
        symbols = node["symbols"]

        def dec_enum(cur, _syms=symbols):
            i = cur.read_long()
            if not 0 <= i < len(_syms):
                raise ValueError(f"{path}: enum index {i} out of range")
            return _syms[i]
        return dec_enum
    if kind == "array":
        dec_item = _compile_decoder(node["items"], path + "[]")

        def dec_array(cur, _dec=dec_item):
            out = []
            while True:
                n = cur.read_long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    cur.read_long()  # block byte-size — not needed to parse
                for _ in range(n):
                    out.append(_dec(cur))
        return dec_array
    if kind == "map":
        dec_val = _compile_decoder(node["values"], path + "{}")

        def dec_map(cur, _dec=dec_val):
            out = {}
            while True:
                n = cur.read_long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    cur.read_long()
                for _ in range(n):
                    k = cur.read_bytes().decode("utf-8")
                    out[k] = _dec(cur)
        return dec_map
    if kind == "record":
        decs = [(f["name"], _compile_decoder(f["schema"],
                                             f"{path}.{f['name']}"))
                for f in node["fields"]]

        def dec_record(cur, _decs=decs):
            return {name: dec(cur) for name, dec in _decs}
        return dec_record
    raise ValueError(f"{path}: cannot decode Avro kind {kind!r}")


def _compile_skipper(node: Dict, path: str) -> Callable[[_Cursor], None]:
    """Advance the cursor past one value WITHOUT building it — writer
    fields the reader does not want cost parse time only."""
    kind = node["kind"]
    if kind == "union":
        skips = [_compile_skipper(b, path) for b in node["branches"]]

        def skip_union(cur, _skips=skips):
            i = cur.read_long()
            try:
                _skips[i](cur)
            except IndexError:
                raise ValueError(
                    f"{path}: union index {i} out of range") from None
        return skip_union
    if kind == "null":
        return lambda cur: None
    if kind in ("long", "int"):
        return lambda cur: cur.read_long() and None
    if kind == "double":
        return lambda cur: cur.read_fixed(8) and None
    if kind == "float":
        return lambda cur: cur.read_fixed(4) and None
    if kind == "boolean":
        return lambda cur: cur.read_fixed(1) and None
    if kind in ("string", "bytes"):
        return lambda cur: cur.read_bytes() and None
    if kind == "fixed":
        size = node["size"]
        return lambda cur: cur.read_fixed(size) and None
    if kind == "enum":
        return lambda cur: cur.read_long() and None
    if kind in ("array", "map"):
        inner = _compile_skipper(
            node["items"] if kind == "array" else node["values"],
            path + ("[]" if kind == "array" else "{}"))
        is_map = kind == "map"

        def skip_blocks(cur, _inner=inner, _map=is_map):
            while True:
                n = cur.read_long()
                if n == 0:
                    return
                if n < 0:
                    # negative count: byte size follows — skip the whole
                    # block without parsing items (the spec's fast path)
                    size = cur.read_long()
                    cur.read_fixed(size)
                    continue
                for _ in range(n):
                    if _map:
                        cur.read_bytes()
                    _inner(cur)
        return skip_blocks
    if kind == "record":
        skips = [_compile_skipper(f["schema"], f"{path}.{f['name']}")
                 for f in node["fields"]]

        def skip_record(cur, _skips=skips):
            for s in _skips:
                s(cur)
        return skip_record
    raise ValueError(f"{path}: cannot skip Avro kind {kind!r}")


_PROMOTIONS = {
    ("int", "long"): lambda v: v,
    ("int", "float"): float, ("int", "double"): float,
    ("long", "float"): float, ("long", "double"): float,
    ("float", "double"): lambda v: v,
    ("string", "bytes"): lambda v: v.encode("utf-8"),
    ("bytes", "string"): lambda v: v.decode("utf-8"),
}


def _default_value(field: Dict, path: str):
    """Reader-side value for a field the writer never wrote: the
    declared ``default`` (JSON form per spec — bytes defaults are
    latin-1 strings), else null for nullable unions, else loud."""
    attrs = field.get("attrs") or {}
    sch = field["schema"]
    if "default" in attrs:
        d = attrs["default"]
        kind = sch["kind"] if sch["kind"] != "union" \
            else sch["branches"][0]["kind"]
        if d is not None and kind == "bytes" and isinstance(d, str):
            return d.encode("latin-1")
        return d
    if sch["kind"] == "union" and any(
            b["kind"] == "null" for b in sch["branches"]):
        return None
    if sch["kind"] == "null":
        return None
    raise ValueError(
        f"{path}: reader field {field['name']!r} is missing from the "
        "writer schema and has no default")


def _compile_resolver(writer: Dict, reader: Dict,
                      path: str) -> Callable[[_Cursor], Any]:
    """Spec "Schema Resolution": decode data written under ``writer``
    into ``reader``-shaped values — field matching by name (writer-only
    fields skipped, reader-only fields take their default), numeric and
    string/bytes promotions, branch-wise union resolution."""
    wk, rk = writer["kind"], reader["kind"]
    if wk == "union":
        subs = [_compile_resolver(b, reader, path)
                for b in writer["branches"]]

        def res_wunion(cur, _subs=subs):
            i = cur.read_long()
            try:
                return _subs[i](cur)
            except IndexError:
                raise ValueError(
                    f"{path}: union index {i} out of range") from None
        return res_wunion
    if rk == "union":
        # first reader branch that accepts the writer type wins
        last_err = None
        for b in reader["branches"]:
            try:
                return _compile_resolver(writer, b, path)
            except ValueError as e:
                last_err = e
        raise ValueError(
            f"{path}: no reader union branch accepts writer "
            f"{wk}: {last_err}")
    if wk == rk and wk not in ("record", "array", "map", "enum",
                               "fixed"):
        # same primitive kind: the READER's logical type decides the
        # surfaced value (a reader asking for plain long gets the raw
        # long even if the writer annotated it)
        merged = dict(writer)
        if "logical" in reader:
            merged["logical"] = reader["logical"]
        else:
            merged.pop("logical", None)
        return _compile_decoder(merged, path)
    if (wk, rk) in _PROMOTIONS:
        base = _compile_decoder(writer, path)
        conv = _PROMOTIONS[(wk, rk)]
        return lambda cur, _b=base, _c=conv: _c(_b(cur))
    if wk == rk == "enum":
        return _compile_decoder(writer, path)
    if wk == rk == "fixed":
        if writer["size"] != reader["size"]:
            raise ValueError(f"{path}: fixed size {writer['size']} != "
                             f"reader {reader['size']}")
        return _compile_decoder(writer, path)
    if wk == rk == "array":
        item = _compile_resolver(writer["items"], reader["items"],
                                 path + "[]")

        def res_array(cur, _dec=item):
            out = []
            while True:
                n = cur.read_long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    cur.read_long()
                for _ in range(n):
                    out.append(_dec(cur))
        return res_array
    if wk == rk == "map":
        val = _compile_resolver(writer["values"], reader["values"],
                                path + "{}")

        def res_map(cur, _dec=val):
            out = {}
            while True:
                n = cur.read_long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    cur.read_long()
                for _ in range(n):
                    k = cur.read_bytes().decode("utf-8")
                    out[k] = _dec(cur)
        return res_map
    if wk == rk == "record":
        rfields = {f["name"]: f for f in reader["fields"]}
        steps = []  # (reader name | None, decode-or-skip fn)
        for wf in writer["fields"]:
            fp = f"{path}.{wf['name']}"
            if wf["name"] in rfields:
                steps.append((wf["name"], _compile_resolver(
                    wf["schema"], rfields[wf["name"]]["schema"], fp)))
            else:
                steps.append((None, _compile_skipper(wf["schema"], fp)))
        wnames = {f["name"] for f in writer["fields"]}
        fills = [(f["name"], _default_value(f, f"{path}.{f['name']}"))
                 for f in reader["fields"] if f["name"] not in wnames]

        def res_record(cur, _steps=steps, _fills=fills):
            out = {}
            for name, fn in _steps:
                if name is None:
                    fn(cur)
                else:
                    out[name] = fn(cur)
            for name, v in _fills:
                out[name] = v
            return out
        return res_record
    raise ValueError(
        f"{path}: writer {wk} is not resolvable to reader {rk}")


# ---------------------------------------------------------------------------
# container file framing

_CODECS = ("null", "deflate", "snappy")


def _snappy():
    """pyarrow's bundled Snappy (same route the zstd JSONL reader takes
    for zstd, `sources/jsonl.py`) — no separate python-snappy needed."""
    import pyarrow as pa

    try:
        return pa.Codec("snappy")
    except Exception as e:  # pragma: no cover - snappy is bundled
        raise ValueError(f"avro codec 'snappy' unavailable: {e}") from None


def _compress_block(codec: str, data: bytes) -> bytes:
    if codec == "deflate":
        co = zlib.compressobj(9, zlib.DEFLATED, -15)
        return co.compress(data) + co.flush()
    if codec == "snappy":
        # spec: snappy-compressed data followed by the 4-byte BIG-endian
        # CRC32 of the UNCOMPRESSED block
        comp = _snappy().compress(data, asbytes=True)
        return comp + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
    return data


def _decompress_block(codec: str, data: bytes, name: str) -> bytes:
    if codec == "deflate":
        try:
            return zlib.decompress(data, -15)
        except zlib.error as e:
            raise ValueError(f"{name}: deflate block corrupt: {e}")
    if codec == "snappy":
        if len(data) < 5:
            raise ValueError(f"{name}: snappy block too short "
                             f"({len(data)} bytes)")
        comp, crc = data[:-4], struct.unpack(">I", data[-4:])[0]
        # raw snappy streams open with the uncompressed length as a
        # little-endian varint — parse it so pyarrow (which requires
        # decompressed_size) can decode
        n = shift = i = 0
        while True:
            if i >= len(comp):
                raise ValueError(
                    f"{name}: snappy length preamble truncated")
            b = comp[i]
            i += 1
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        try:
            raw = _snappy().decompress(comp, decompressed_size=n,
                                       asbytes=True)
        except Exception as e:
            raise ValueError(f"{name}: snappy block corrupt: {e}")
        if zlib.crc32(raw) & 0xFFFFFFFF != crc:
            raise ValueError(
                f"{name}: snappy block CRC32 mismatch — corrupt block")
        return raw
    return data


def encode_records(schema_js: Any, rows: List[Any]) -> bytes:
    """Binary-encode ``rows`` (dicts for records) under ``schema_js``."""
    enc = _compile_encoder(parse_schema(schema_js), "$")
    out = bytearray()
    for row in rows:
        enc(out, row)
    return bytes(out)


def _container_header(schema_js, codec, sync, extra_meta):
    header = bytearray(_MAGIC)
    meta = {"avro.schema": json.dumps(schema_js).encode(),
            "avro.codec": codec.encode()}
    for k, v in (extra_meta or {}).items():
        if k.startswith("avro."):
            raise ValueError(f"extra_meta key {k!r} is reserved")
        meta[k] = v.encode() if isinstance(v, str) else bytes(v)
    _enc_long(header, len(meta))
    for k, v in sorted(meta.items()):
        kb = k.encode()
        _enc_long(header, len(kb))
        header.extend(kb)
        _enc_long(header, len(v))
        header.extend(v)
    _enc_long(header, 0)
    header.extend(sync)
    return bytes(header)


def write_container(path: str, schema_js: Any, rows: List[Any],
                    codec: str = "null", sync: Optional[bytes] = None,
                    block_rows: int = 1024,
                    extra_meta: Optional[Dict[str, str]] = None) -> None:
    """Write one Avro Object Container File (driver- or executor-side).

    ``extra_meta`` adds application key-value pairs to the file-metadata
    map (Iceberg manifests carry ``schema``/``partition-spec``/… there;
    keys must not start with ``avro.`` per the spec)."""
    if codec not in _CODECS:
        raise ValueError(f"unsupported avro codec {codec!r} "
                         f"(one of {list(_CODECS)})")
    if sync is None:
        import hashlib
        sync = hashlib.sha256(
            (os.path.basename(path) + json.dumps(schema_js, sort_keys=True))
            .encode()).digest()[:16]
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    enc = _compile_encoder(parse_schema(schema_js), "$")
    header = _container_header(schema_js, codec, sync, extra_meta)
    with open(path, "wb") as fh:
        fh.write(bytes(header))
        for start in range(0, len(rows), block_rows):
            chunk = rows[start:start + block_rows]
            payload = bytearray()
            for row in chunk:
                enc(payload, row)
            data = _compress_block(codec, bytes(payload))
            block = bytearray()
            _enc_long(block, len(chunk))
            _enc_long(block, len(data))
            block.extend(data)
            block.extend(sync)
            fh.write(bytes(block))


def _parse_header(blob: bytes, name: str = "<avro>"
                  ) -> Tuple[Dict, str, bytes, int, Any]:
    """Container header -> (writer schema node, codec, sync marker,
    offset just past the header sync, raw schema JSON). Shared by the
    scalar reader, the columnar reader, and the sync-split planner."""
    if blob[:4] != _MAGIC:
        raise ValueError(f"{name}: not an Avro container "
                         f"(magic {blob[:4]!r})")
    cur = _Cursor(blob, name)
    cur.pos = 4
    meta: Dict[str, bytes] = {}
    while True:
        n = cur.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            cur.read_long()
        for _ in range(n):
            k = cur.read_bytes().decode("utf-8")
            meta[k] = cur.read_bytes()
    sync = cur.read_fixed(16)
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in _CODECS:
        raise ValueError(f"{name}: unsupported avro codec {codec!r} "
                         f"(one of {list(_CODECS)})")
    try:
        schema_js = json.loads(meta["avro.schema"])
    except KeyError:
        raise ValueError(f"{name}: header missing avro.schema") from None
    return parse_schema(schema_js), codec, sync, cur.pos, schema_js


def write_container_frame(path: str, schema_js: Any, pdf,
                          cols: List[str], codec: str = "null",
                          sync: Optional[bytes] = None,
                          block_rows: int = 1024,
                          extra_meta: Optional[Dict[str, str]] = None
                          ) -> bool:
    """Columnar twin of :func:`write_container`: encode an Arrow table
    (nulls from its validity bitmaps) or a pandas frame (None/NaN/NaT
    are null in a nullable field) through the vectorized flat-record
    encoder (`sources/avro_vec_enc.py`) — BYTE-IDENTICAL output — and
    return True; returns False (writing nothing) when the schema is out
    of the vectorized plan so the caller can fall back."""
    from .avro_vec_enc import encode_frame

    if codec not in _CODECS:
        raise ValueError(f"unsupported avro codec {codec!r} "
                         f"(one of {list(_CODECS)})")
    if sync is None:
        import hashlib
        sync = hashlib.sha256(
            (os.path.basename(path) + json.dumps(schema_js,
                                                 sort_keys=True))
            .encode()).digest()[:16]
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    node = parse_schema(schema_js)
    res = encode_frame(node, pdf, cols)
    if res is None:
        return False
    payload, row_end = res
    header = _container_header(schema_js, codec, sync, extra_meta)
    n = len(row_end)
    with open(path, "wb") as fh:
        fh.write(header)
        for start in range(0, n, block_rows):
            stop = min(start + block_rows, n)
            lo = int(row_end[start - 1]) if start else 0
            hi = int(row_end[stop - 1])
            data = _compress_block(codec, payload[lo:hi])
            block = bytearray()
            _enc_long(block, stop - start)
            _enc_long(block, len(data))
            block.extend(data)
            block.extend(sync)
            fh.write(bytes(block))
    return True


def read_container(blob: bytes, name: str = "<avro>",
                   max_rows: Optional[int] = None,
                   reader_node: Optional[Dict] = None
                   ) -> Tuple[Dict, List[Any]]:
    """Parse one container file -> (writer schema node, decoded rows).

    With ``reader_node`` (a :func:`parse_schema` tree), rows come back
    READER-shaped via spec schema resolution — writer-only fields are
    skipped at parse time, reader-only fields take their defaults,
    int→long→float→double and string↔bytes promote. Corruption fails
    loudly with the file name: bad magic, unknown codec, sync-marker
    mismatch, truncated varints/bytes."""
    node, datas, counts = _container_blocks(blob, name)
    rows = _decode_payloads(datas, counts, name, node, reader_node)
    return node, rows if max_rows is None else rows[:max_rows]


def decode_blocks(blob: bytes, name: str = "<avro>") -> List[Any]:
    return read_container(blob, name)[1]


def _container_blocks(blob: bytes, name: str
                      ) -> Tuple[Dict, List[bytes], List[int]]:
    """Container framing -> (writer node, decompressed block payloads,
    row count per block). Corruption fails loudly with the file name:
    bad magic, unknown codec, sync-marker mismatch, truncation."""
    node, codec, sync, body_at, _ = _parse_header(blob, name)
    cur = _Cursor(blob, name)
    cur.pos = body_at
    datas: List[bytes] = []
    counts: List[int] = []
    while cur.pos < len(blob):
        count = cur.read_long()
        size = cur.read_long()
        data = cur.read_fixed(size)
        if cur.read_fixed(16) != sync:
            raise ValueError(f"{name}: sync marker mismatch at "
                             f"offset {cur.pos - 16} — corrupt block")
        datas.append(_decompress_block(codec, data, name))
        counts.append(count)
    return node, datas, counts


def read_container_columnar(blob: bytes, name: str = "<avro>",
                            reader_node: Optional[Dict] = None):
    """Columnar fast path: parse the container framing (header, sync
    checks, per-block decompress) then hand the decompressed blocks to
    the numpy lock-step decoder (`sources/avro_vec.py`). Returns
    (writer node, {column: pa.Array}) or (writer node, None) when the
    schema/file shape is out of the vectorized path's coverage — the
    caller then uses :func:`read_container`. Corruption raises exactly
    like the scalar path (file named)."""
    from .avro_vec import decode_blocks_columnar

    node, datas, counts = _container_blocks(blob, name)
    return node, decode_blocks_columnar(
        datas, counts, name, node, reader_node or node)


# ---------------------------------------------------------------------------
# Spark-facing reader / writer

def read_avro(spark: SparkSession, path: str,
              columns: Optional[List[str]] = None,
              glob: str = "*.avro",
              schema: Optional[Any] = None) -> DataFrame:
    """Read a directory of Avro container files as a DataFrame.

    The READER schema comes from ``schema`` (an Avro schema JSON dict
    or a Spark ``StructType``) or, by default, the first file's header
    (one driver-side read of the header bytes when the scheme is
    local). Every file resolves against it with the spec's schema-
    resolution rules — so an evolving corpus reads as one frame:
    pre-widening shards surface defaults/null for later columns,
    writer-only fields skip at parse time, int→long→float→double and
    string↔bytes promote, and a genuinely incompatible file fails
    loudly with its name and field path. One task per file;
    ``columns`` prunes the reader schema itself, so unprojected fields
    are SKIPPED during decode, not just dropped (row-major IO still
    reads the bytes; see module docstring).

    The parse runs in ``mapInArrow``: the vectorized decoder already
    builds Arrow buffers, so each file's columns cross executor→JVM as
    Arrow arrays with no pandas round-trip (the r13 struct probe put
    a pandas crossing at ~40% of decode cost). Files that fall out of
    vectorized coverage decode scalar and cross via ``pa.array``.
    Timestamps keep their instants under any session time zone
    (`sources/arrow_interchange.py`)."""
    scan = (spark.read.format("binaryFile")
            .option("pathGlobFilter", glob).load(path)
            .select("path", "content"))
    if schema is None:
        first = scan.select("path").limit(1).collect()
        if not first:
            raise ValueError(f"no files match {glob!r} under {path}")
        fpath = first[0]["path"]
        if fpath.startswith("file:"):
            local = fpath[5:]
            while local.startswith("//"):
                local = local[1:]
            with open(local, "rb") as fh:
                head = fh.read(1 << 20)  # header is tiny; 1 MB is generous
        else:  # pragma: no cover - no object store in this image
            head = bytes(scan.limit(1).collect()[0]["content"])
        schema = _parse_header(head, fpath)[4]
    parse, spark_schema = _container_parser(
        _resolve_reader_node(schema, columns), _file_blocks)
    return scan.mapInArrow(parse, spark_schema)


def _resolve_reader_node(schema: Any,
                         columns: Optional[List[str]]) -> Dict:
    """Reader node from a schema (Avro JSON dict or Spark StructType),
    with ``columns`` pruning — shared by every Spark-facing reader."""
    if isinstance(schema, T.StructType):
        node = parse_schema(spark_to_avro_schema(schema))
    else:
        node = parse_schema(schema)
    if columns is not None:
        by_name = {f["name"]: f for f in node["fields"]}
        missing = [c for c in columns if c not in by_name]
        if missing:
            raise ValueError(f"columns not in schema: {missing}")
        node = {"kind": "record", "name": node.get("name"),
                "fields": [by_name[c] for c in columns]}
    return node


def _file_blocks(row: Dict) -> Tuple[str, Dict, List[bytes], List[int]]:
    """(name, writer node, payloads, counts) of one whole-file
    ``(path, content)`` row."""
    return (row["path"],) + _container_blocks(row["content"], row["path"])


def _container_parser(reader_node: Dict, blocks: Callable):
    """(mapInArrow parse fn, Spark schema) shared by the batch scan,
    the streaming landing-dir tail and the sync-marker splits:
    ``blocks(row)`` turns one input row into (name, writer node,
    decompressed payloads, row counts), which decode against
    ``reader_node`` through the numpy lock-step path
    (`sources/avro_vec.py`) or, out of its coverage or below its
    block gate, the scalar decoder via ``pa.array``. Arrays are cast
    to the exact Arrow types Spark expects and shipped as one
    RecordBatch per row."""
    spark_schema = avro_to_spark_schema(reader_node)
    want = list(spark_schema.names)

    def parse(rbs):
        import pyarrow as pa

        from .arrow_interchange import _iter_rows, arrow_batch_builder
        from .avro_vec import decode_blocks_columnar

        target, _batch = arrow_batch_builder(spark_schema, want)
        for row in _iter_rows(rbs):
            name, node, datas, counts = blocks(row)
            if not datas:
                continue
            cols = decode_blocks_columnar(datas, counts, name, node,
                                          reader_node)
            if cols is None:
                rows = _decode_payloads(datas, counts, name, node,
                                        reader_node)
                cols = {c: pa.array([r.get(c) for r in rows],
                                    type=target[c]) for c in want}
            yield _batch(cols)

    return parse, spark_schema


def stream_avro(spark: SparkSession, path: str, schema: Any,
                columns: Optional[List[str]] = None,
                glob: str = "*.avro",
                max_files_per_trigger=None) -> DataFrame:
    """Streaming twin of :func:`read_avro`: tail a landing directory
    of Avro containers with checkpointed exactly-once shard discovery.
    ``schema`` is REQUIRED (Avro JSON dict or Spark StructType) — the
    landing dir may be empty when the stream starts, so there is no
    first header to probe; every arriving file resolves against it
    with the spec's schema-resolution rules, exactly like the batch
    reader (shared `_container_parser`)."""
    from .markdown import stream_binary_files

    parse, spark_schema = _container_parser(
        _resolve_reader_node(schema, columns), _file_blocks)
    return stream_binary_files(
        spark, path, glob,
        max_files_per_trigger=max_files_per_trigger
    ).mapInArrow(parse, spark_schema)


def read_avro_split(spark: SparkSession, path: str, *,
                    split_mb: int = 128,
                    columns: Optional[List[str]] = None,
                    schema: Optional[Any] = None,
                    glob_pat: str = "*.avro",
                    backend: Optional[Any] = None) -> DataFrame:
    """Scale-IN reader: split each container at SYNC MARKERS so one
    large file decodes across many executors.

    The Avro spec designs containers for exactly this ("a file may be
    split by searching for the sync marker"): the driver reads each
    header (schema, codec, 16-byte sync, header length — a few KB per
    file) and plans byte ranges of ``split_mb``; each task seeks to
    its range start, scans forward to the first sync, then decodes
    every block that STARTS inside its range (a straddling block
    belongs to the range it starts in — the next task's scan lands on
    that block's trailing sync, so coverage is exact and disjoint,
    modulo the 2^-128 false-sync probability the spec accepts).
    Blocks decode through the numpy lock-step columnar path
    (`sources/avro_vec.py` — vector width = blocks per split) with
    scalar fallback, and cross executor→JVM through the same
    ``mapInArrow`` parse as :func:`read_avro`.

    Contrast :func:`read_avro` (one task per file via ``binaryFile``):
    there parallelism = shard count, here parallelism = corpus bytes /
    split_mb, which is what a 100 TB corpus of awkwardly-large foreign
    shards needs. Local/POSIX (incl. mounted DFS) paths seek with
    ``open()``; any other scheme routes through the registered
    range-read :class:`~..sinks.data_backend.DataBackend` (or pass
    ``backend=`` explicitly). Header planning is driver-side for small
    file counts and one parallelized Spark job above 32 files, so a
    10^5-shard foreign corpus never serializes on driver IO."""
    from ..sinks.data_backend import (
        list_split_files, resolve_split_backend,
    )

    if split_mb < 1:
        raise ValueError("split_mb must be >= 1")
    backend = resolve_split_backend(path, backend)
    files = list_split_files(path, glob_pat, backend)
    if not files:
        raise ValueError(f"no files match {glob_pat!r} under {path}")

    # (codec, sync_hex, body_at, schema_json, size) per file — one
    # small ranged read each; distributed above 32 files (r11 VERDICT
    # #6: the driver header loop was O(files) small reads)
    if len(files) <= 32:
        headers = {p: _split_header_meta(p, backend) for p in files}
    else:
        bk = backend
        headers = dict(
            spark.sparkContext
            .parallelize(files, min(len(files), 256))
            .map(lambda p: (p, _split_header_meta(p, bk))).collect())

    reader_node = _resolve_reader_node(
        json.loads(headers[files[0]][3]) if schema is None else schema,
        columns)

    step = split_mb << 20
    ranges = []
    for p in files:
        codec, sync_hex, body_at, schema_json, size = headers[p]
        lo = body_at
        first = True
        while lo < size:
            hi = min(lo + step, size)
            ranges.append((p, lo, hi, first, sync_hex, codec,
                           schema_json))
            first = False
            lo = hi
    rdf = spark.createDataFrame(
        ranges, "path string, start long, end long, first boolean, "
                "sync_hex string, codec string, schema_json string"
    ).repartition(min(len(ranges), 4096))

    def split_blocks(row):
        datas, counts = _read_split_blocks(
            row["path"], row["start"], row["end"], row["first"],
            bytes.fromhex(row["sync_hex"]), row["codec"],
            backend=backend)
        node = parse_schema(json.loads(row["schema_json"]))
        return row["path"], node, datas, counts

    parse, spark_schema = _container_parser(reader_node, split_blocks)
    return rdf.mapInArrow(parse, spark_schema)


def _split_header_meta(path: str, backend: Any
                       ) -> Tuple[str, str, int, str, int]:
    """(codec, sync_hex, body offset, schema JSON string, file size)
    for split planning — a few KB of ranged reads per file, callable
    driver- or executor-side (the parallel planning job)."""
    cap = 1 << 20
    while True:  # headers are tiny; double on the rare huge one
        head = backend.read_range(path, 0, cap)
        if head is None:
            raise FileNotFoundError(path)
        try:
            _node, codec, sync, body_at, schema_js = _parse_header(
                head, path)
            break
        except ValueError as e:
            if "truncated" in str(e) and len(head) == cap \
                    and cap < (1 << 28):
                cap <<= 1
                continue
            raise
    size = backend.size(path)
    if size is None:
        raise FileNotFoundError(path)
    return codec, sync.hex(), body_at, json.dumps(schema_js), size


def _read_split_blocks(path: str, start: int, end: int, first: bool,
                       sync: bytes, codec: str,
                       backend: Any = None
                       ) -> Tuple[List[bytes], List[int]]:
    """Collect (decompressed payload, row count) for every block that
    STARTS in [start, end) — executor-side, seek + bounded reads
    (POSIX ``open`` or ranged-GET :class:`RangedFile`)."""
    from ..sinks.data_backend import open_split, resolve_split_backend

    datas: List[bytes] = []
    counts: List[int] = []
    with open_split(path, resolve_split_backend(path, backend)) as fh:
        if first:
            pos = start
        else:
            # scan for the first sync at offset >= start-16: a marker
            # ENDING exactly at the boundary precedes a block that
            # starts AT `start` (owned by this range — the previous
            # task stops at pos < end), so the scan must see it
            scan_at = max(start - 16, 0)
            found = None
            CHUNK = 4 << 20
            carry = b""
            base = scan_at
            fh.seek(scan_at)
            while found is None:
                chunk = fh.read(CHUNK)
                if not chunk:
                    break
                buf = carry + chunk
                i = buf.find(sync)
                if i >= 0:
                    found = base - len(carry) + i
                    break
                carry = buf[-15:]
                base += len(chunk)
            if found is None:
                return datas, counts
            pos = found + 16
        while pos < end:
            fh.seek(pos)
            head = fh.read(24)  # two varints are at most 2x10 bytes
            if not head:
                break
            cur = _Cursor(head, path)
            try:
                count = cur.read_long()
                size = cur.read_long()
            except ValueError:
                raise ValueError(
                    f"{path}: truncated block header at {pos}")
            data_at = pos + cur.pos
            fh.seek(data_at)
            data = fh.read(size)
            if len(data) < size:
                raise ValueError(f"{path}: truncated block at {pos}")
            if fh.read(16) != sync:
                raise ValueError(f"{path}: sync marker mismatch at "
                                 f"{data_at + size} — corrupt block")
            datas.append(_decompress_block(codec, data, path))
            counts.append(count)
            pos = data_at + size + 16
    return datas, counts


def _decode_payloads(datas: List[bytes], counts: List[int], name: str,
                     node: Dict, reader_node: Optional[Dict]
                     ) -> List[Any]:
    """Scalar decode of already-decompressed block payloads; with
    ``reader_node``, rows come back READER-shaped (see
    :func:`read_container`)."""
    if reader_node is None or node == reader_node:
        dec = _compile_decoder(node, "$")
    else:
        try:
            dec = _compile_resolver(node, reader_node, "$")
        except ValueError as e:
            raise ValueError(f"{name}: {e}") from None
    rows: List[Any] = []
    for data, count in zip(datas, counts):
        bc = _Cursor(data, name)
        for _ in range(count):
            rows.append(dec(bc))
        if bc.pos != len(data):
            raise ValueError(
                f"{name}: {len(data) - bc.pos} trailing bytes in "
                "block — writer/reader schema mismatch")
    return rows


def _holds_float_list(t) -> bool:
    import pyarrow as pa

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return (pa.types.is_floating(t.value_type)
                or _holds_float_list(t.value_type))
    if pa.types.is_struct(t):
        return any(_holds_float_list(f.type) for f in t)
    if pa.types.is_map(t):
        return _holds_float_list(t.item_type)
    return False


def _scalar_rows(tbl) -> List[Dict]:
    """An Arrow shard as row dicts for the scalar encoder, with None
    exactly where Arrow holds a null. ``to_pandas`` (several times
    faster than ``to_pylist``) keeps None and NaN apart in struct
    children and map values, but folds a top-level null into NaN/NaT
    and a null float list element into NaN: those columns are fixed
    from the validity bitmap, or taken through ``to_pylist``."""
    pdf = tbl.to_pandas(integer_object_nulls=True, maps_as_pydicts="strict")
    for c, col in zip(tbl.column_names, tbl.columns):
        if _holds_float_list(col.type):
            pdf[c] = col.to_pylist()
        elif col.null_count:
            valid = col.is_valid().to_numpy(zero_copy_only=False)
            pdf[c] = pdf[c].astype(object).where(valid, None)
    return pdf.to_dict("records")


def write_avro(df: DataFrame, out_dir: str, shards: int = 4,
               order_by: Optional[str] = None, prefix: str = "part",
               codec: str = "null", block_rows: int = 1024) -> List[str]:
    """Write ``df`` as ``shards`` Avro container files.

    Rows hash-shard on ``order_by`` (default: first column) and sort
    within a shard; the sync marker derives from the shard name — bytes
    are DETERMINISTIC given the data (same layout contract as the
    TFRecord/Arrow-IPC/WebDataset sinks). ``codec`` is 'null',
    'deflate' (raw RFC-1951) or 'snappy' (block + 4-byte BE CRC32 of
    the uncompressed data, the spec's three core codecs). One task
    per shard, which arrives as an Arrow table (``applyInArrow``), so
    nullable longs and timestamps are stored exactly under any session
    time zone; returns shard names."""
    import hashlib

    if shards < 1:
        raise ValueError("shards must be >= 1")
    if codec not in _CODECS:
        raise ValueError(f"unsupported avro codec {codec!r} "
                         f"(one of {list(_CODECS)})")
    from .arrow_interchange import _write_shards

    cols = df.columns
    schema_js = spark_to_avro_schema(df.schema, name="row")
    # compile once on the driver to fail fast on unmappable types
    _compile_encoder(parse_schema(schema_js), "$")
    os.makedirs(out_dir, exist_ok=True)

    def write_one(shard, tbl):
        name = f"{prefix}-{shard:05d}-of-{shards:05d}.avro"
        sync = hashlib.sha256(name.encode()).digest()[:16]
        tmp = os.path.join(out_dir, f".{name}.tmp")
        # both encoders take nullness from the Arrow shard's validity
        # bitmaps (a NaN stays a NaN), longs stay exact above 2^53 and
        # timestamps stay instants: vectorized columnar encoder first
        # (byte-identical output, sources/avro_vec_enc.py), scalar
        # per-row fallback otherwise
        if not write_container_frame(tmp, schema_js, tbl, cols,
                                     codec=codec, sync=sync,
                                     block_rows=block_rows):
            write_container(tmp, schema_js, _scalar_rows(tbl),
                            codec=codec, sync=sync,
                            block_rows=block_rows)
        os.replace(tmp, os.path.join(out_dir, name))
        return name

    return _write_shards(df, order_by or df.columns[0], shards, write_one)
