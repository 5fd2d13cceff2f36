"""Vectorized Avro ENCODER for flat records (numpy, columnar input).

The write-side twin of `sources/avro_vec.py`: `write_avro`'s shards
arrive as Arrow tables (columnar; a pandas frame converts to Arrow
first), so instead of converting to N row dicts and running the
per-value python encoder, we compute every
value's encoded byte length vectorized, lay out the whole payload's
offsets with cumsums, and SCATTER each field's bytes in ≤10 numpy
waves (one per varint byte position) or one strided store
(fixed-width types); string/bytes payloads join once and land through
the same XOR-scan range mask the decoder gathers with.

The output is BYTE-IDENTICAL to the scalar encoder (pinned by
differential tests over random frames — determinism is a layout
contract here, `sources/avro.py` module docstring), so the vectorized
path is a pure drop-in: `write_avro` uses it when the schema is flat
(primitives, ``['null', T]`` unions, strings/bytes, non-nullable
float/double/boolean arrays) or carries struct columns — NON-nullable
structs flatten to their children first (r14: one Arrow dict→Struct C
pass per struct column, wire = fields inlined; measured 2.65-2.74×
scalar, scripts/scale_probe_avro_struct_enc.py), NULLABLE structs and
arrays of records encode their present rows/elements through one
recursive ``encode_frame`` each and interleave tags/counts/spans —
and falls back to the scalar `write_container` otherwise (maps,
enum/fixed columns, logical types).

Measured (SCALE.md, calm-host MIN of 3 at 1M rows): 3.3x on a flat
4-col text frame, 3.2x on an embedding (long + 16-dim array<float>)
frame — and the real write_avro delta is larger because the scalar
path also pays the frame->dicts conversion. Encode was the repo's
last per-byte python hot path after r11 vectorized decode; the
remaining cost is memory-bound output assembly (first-touch page
faults on the scatter buffers), not interpreter dispatch.
"""
from __future__ import annotations

from typing import Any, Dict, List, Optional, Tuple

import numpy as np

_THRESH = np.array([1 << (7 * k) for k in range(1, 10)],
                   dtype=np.uint64)


def _zigzag_u(vals: np.ndarray) -> np.ndarray:
    """int64 -> zigzag uint64 (two's-complement arithmetic shift)."""
    v = vals.astype(np.int64)
    return ((v << np.int64(1)) ^ (v >> np.int64(63))).astype(np.uint64)


def _varint_len(u: np.ndarray) -> np.ndarray:
    return (np.searchsorted(_THRESH, u, side="right") + 1
            ).astype(np.int64)


def _emit_varints(out: np.ndarray, pos: np.ndarray, u: np.ndarray,
                  lens: np.ndarray) -> None:
    """Scatter each value's varint bytes at ``pos`` (one wave per byte
    index; wave k touches only values with more than k bytes)."""
    max_len = int(lens.max()) if len(lens) else 0
    idx = np.arange(len(u))
    for k in range(max_len):
        m = lens > k
        sub = idx[m] if not m.all() else idx
        byte = ((u[sub] >> np.uint64(7 * k)) & np.uint64(0x7F)
                ).astype(np.uint8)
        cont = (lens[sub] - 1) > k
        byte = byte | (cont.astype(np.uint8) << np.uint8(7))
        out[pos[sub] + k] = byte


def _scatter_ranges(out: np.ndarray, starts: np.ndarray,
                    lens: np.ndarray, values: np.ndarray) -> None:
    """out[starts[i]:starts[i]+lens[i]] = consecutive chunks of
    ``values`` — the write-side twin of the decoder's XOR-scan
    gather (ranges are disjoint and in position order)."""
    total = int(lens.sum())
    if total == 0:
        return
    nz = lens > 0
    s = starts[nz]
    e = (starts + lens)[nz]
    if len(s) > 1:
        adj = e[:-1] == s[1:]
        if adj.any():
            ka = np.concatenate(([True], ~adj))
            kb = np.concatenate((~adj, [True]))
            s, e = s[ka], e[kb]
    t = np.zeros(len(out) + 1, np.bool_)
    t[s] = True
    t[e] = True
    keep = np.logical_xor.accumulate(t[:-1])
    out[keep] = values


# ---------------------------------------------------------------------------
# plan

def _enc_plan(node: Dict) -> Optional[List[Dict]]:
    """Encode steps for a flat record, or None (caller goes scalar).
    Logical types excluded: write_avro's Spark input maps timestamps/
    dates through them rarely and the scalar path stays correct."""
    if node["kind"] != "record":
        return None
    steps = []
    for f in node["fields"]:
        sch = f["schema"]
        null_idx = None
        if sch["kind"] == "union":
            br = sch["branches"]
            if len(br) != 2 or sum(b["kind"] == "null"
                                   for b in br) != 1:
                return None
            null_idx = 0 if br[0]["kind"] == "null" else 1
            sch = br[1 - null_idx]
        if sch.get("logical"):
            return None
        kind = sch["kind"]
        elem = None
        if kind == "record" and null_idx is not None and sch["fields"]:
            # NULLABLE struct column (r14): the generic machinery
            # writes the union tag; present rows' bytes come from a
            # recursive encode_frame over the drop_null'd child frame
            # (the non-nullable case never reaches here — it flattens
            # in the pre-pass before planning)
            steps.append({"name": f["name"], "kind": "record_nullable",
                          "null_idx": null_idx, "items": sch,
                          "elem": None, "elem_w": None})
            continue
        if kind == "array":
            it = sch["items"]
            if it["kind"] == "record" and it["fields"]:
                # array<record> (r14): elements encode through a
                # recursive encode_frame over the exploded element
                # frame; count varints + spans + zero terminators
                # interleave in _col_arrays (element-plan problems
                # surface at encode time as a decline)
                steps.append({"name": f["name"],
                              "kind": "array_record",
                              "null_idx": null_idx, "items": it,
                              "elem": None, "elem_w": None})
                continue
            if it["kind"] not in ("double", "float", "boolean") \
                    or it.get("logical"):
                return None
            elem = it["kind"]
        elif kind not in ("long", "int", "double", "float", "boolean",
                          "string", "bytes"):
            return None
        steps.append({"name": f["name"], "kind": kind,
                      "null_idx": null_idx, "elem": elem,
                      "elem_w": {"double": 8, "float": 4,
                                 "boolean": 1}.get(elem)})
    return steps


# ---------------------------------------------------------------------------
# encode

def _col_arrays(step: Dict, arr) -> Dict[str, Any]:
    """Per-column preprocessing of one Arrow array -> numeric arrays /
    payload bytes and per-row encoded lengths (excluding the union
    tag). Nullness is the array's validity bitmap, so a NaN is a value
    and a null is a null. Vectorized: Arrow fill_null/casts + numpy, no
    per-row python (the first cut used list comprehensions and was
    SLOWER than the scalar encoder — the conversions dominate)."""
    import pyarrow as pa

    k = step["kind"]
    n = len(arr)
    nullable = step["null_idx"] is not None
    isnull = arr.is_null().to_numpy(zero_copy_only=False)

    if k in ("long", "int"):
        vals = arr.fill_null(0).to_numpy(zero_copy_only=False)
        u = _zigzag_u(vals.astype(np.int64))
        lens = _varint_len(u)
        lens[isnull] = 0
        return {"u": u, "lens": lens, "isnull": isnull}
    if k in ("double", "float"):
        w = 8 if k == "double" else 4
        dt = np.float64 if k == "double" else np.float32
        vals = np.ascontiguousarray(
            arr.fill_null(0.0).to_numpy(zero_copy_only=False), dtype=dt)
        lens = np.full(n, w, np.int64)
        lens[isnull] = 0
        return {"fixed": vals.view(np.uint8).reshape(n, w),
                "lens": lens, "isnull": isnull}
    if k == "boolean":
        vals = arr.fill_null(False).to_numpy(zero_copy_only=False)
        lens = np.ones(n, np.int64)
        lens[isnull] = 0
        return {"fixed": vals.astype(np.uint8).reshape(n, 1),
                "lens": lens, "isnull": isnull}
    if k in ("string", "bytes"):
        # the large (int64-offset) layout gives the UTF-8 values buffer
        # AND the per-row byte offsets in one Arrow C pass (pandas
        # .str.encode is a per-element python lambda — measured
        # ~1.3 s/M rows; this is ~30x less)
        typ = pa.large_utf8() if k == "string" else pa.large_binary()
        arr = arr.cast(typ)
        if arr.null_count and not nullable:
            raise ValueError("null in a non-nullable column")
        offs = np.frombuffer(arr.buffers()[1], np.int64,
                             count=len(arr) + 1 + arr.offset
                             )[arr.offset:]
        blens = np.diff(offs)
        vbuf = arr.buffers()[2]
        payload = (np.frombuffer(vbuf, np.uint8,
                                 count=int(offs[-1]))[int(offs[0]):]
                   if vbuf is not None else np.zeros(0, np.uint8))
        blens = blens.copy()
        blens[isnull] = 0
        u = _zigzag_u(blens)
        vlens = _varint_len(u)
        lens = vlens + blens
        lens[isnull] = 0
        return {"u": u, "vlens": vlens, "blens": blens,
                "payload": payload,
                "lens": lens, "isnull": isnull}
    if k == "record_nullable":
        # nullable struct (r14): encode the PRESENT rows' children via
        # one recursive _encode_columns (drop_null keeps row order),
        # then the generic scatter places each present row's span after
        # its union tag; null rows contribute only the tag byte
        item_node = step["items"]
        present = arr.drop_null()
        ecols = [f["name"] for f in item_node["fields"]]
        res = _encode_columns(
            item_node, {c: present.field(i) for i, c in enumerate(ecols)},
            ecols, len(present))
        if res is None:
            raise _StructOutOfScope  # child shape out of plan
        epayload = np.frombuffer(res[0], np.uint8)
        eend = res[1]
        spans = np.diff(np.concatenate((np.zeros(1, np.int64), eend)))
        lens = np.zeros(n, np.int64)
        lens[~isnull] = spans
        return {"payload": epayload, "lens": lens, "isnull": isnull}
    if k == "array_record":
        # array<record> (r14): the element stream is ONE recursive
        # encode_frame over the exploded element frame (elements are
        # contiguous in row order), then count varints + per-row
        # element spans + zero terminators interleave into a local
        # payload the generic range scatter places — proxy-measured
        # 3.3-3.6x (see scripts/scale_probe_avro_struct_enc.py notes)
        item_node = step["items"]
        if arr.null_count and not nullable:
            raise ValueError("null in a non-nullable column")
        offs, vals = _list_layout(arr)
        counts = np.diff(offs)
        counts[isnull] = 0
        ecols = [f["name"] for f in item_node["fields"]]
        res = _encode_columns(
            item_node, {c: vals.field(i) for i, c in enumerate(ecols)},
            ecols, len(vals))
        if res is None:
            raise _StructOutOfScope  # element shape out of plan
        epayload = np.frombuffer(res[0], np.uint8)
        eend = res[1]
        big_e = np.concatenate((np.zeros(1, np.int64), eend))
        row_span = big_e[offs[1:]] - big_e[offs[:-1]]
        u = _zigzag_u(counts)
        vlens = _varint_len(u)
        lens = np.where(counts > 0, vlens + row_span + 1,
                        np.int64(1))
        lens[isnull] = 0
        local = np.zeros(int(lens.sum()), np.uint8)
        rstart = np.cumsum(lens) - lens
        nz = (~isnull) & (counts > 0)
        _emit_varints(local, rstart[nz], u[nz], vlens[nz])
        _scatter_ranges(local, (rstart + vlens)[nz], row_span[nz],
                        epayload)
        # terminators (and empty-array single 0 bytes) are already
        # the zero-initialized buffer
        return {"payload": local, "lens": lens, "isnull": isnull}
    if k == "array":
        # the list layout: child values buffer + per-row offsets
        # (np.concatenate over millions of tiny cell arrays measured
        # ~10x slower)
        w = step["elem_w"]
        ctyp = {"double": pa.float64(), "float": pa.float32(),
                "boolean": pa.bool_()}[step["elem"]]
        if arr.null_count and not nullable:
            raise ValueError("null in a non-nullable column")
        offs, child = _list_layout(arr)
        child = child.cast(ctyp)
        counts = np.diff(offs)
        counts[isnull] = 0
        if not len(child):
            vals = np.zeros(0, np.uint8)
        elif step["elem"] == "boolean":
            # arrow packs bools to bits; avro wants one byte each
            vals = np.unpackbits(
                np.frombuffer(child.buffers()[1], np.uint8),
                bitorder="little")[child.offset:
                                   child.offset + len(child)]
        else:
            dt = np.float64 if step["elem"] == "double" else np.float32
            vals = np.frombuffer(child.buffers()[1], dt,
                                 count=child.offset + len(child)
                                 )[child.offset:]
        payload = vals.view(np.uint8)
        u = _zigzag_u(counts)
        vlens = _varint_len(u)
        blens = counts * w
        lens = np.where(counts > 0, vlens + blens + 1, 1)
        lens[isnull] = 0
        return {"u": u, "vlens": vlens, "blens": blens,
                "counts": counts, "payload": payload,
                "lens": lens, "isnull": isnull}
    raise AssertionError(k)  # pragma: no cover - plan gate


class _StructOutOfScope(Exception):
    """A struct column's shape leaves the flattening plan — the
    caller declines to the scalar encoder."""


def _pa_type_for(sch: Dict):
    """Arrow type mirroring an Avro value node (for the one-C-pass
    dict→StructArray extraction); raises _StructOutOfScope for shapes
    the encoder plan can't take."""
    import pyarrow as pa

    if sch["kind"] == "union":
        br = sch["branches"]
        if len(br) != 2 or sum(b["kind"] == "null" for b in br) != 1:
            raise _StructOutOfScope
        sch = br[1] if br[0]["kind"] == "null" else br[0]
    if sch.get("logical"):
        raise _StructOutOfScope
    k = sch["kind"]
    if k == "record":
        return pa.struct([(f["name"], _pa_type_for(f["schema"]))
                          for f in sch["fields"]])
    if k == "array":
        return pa.large_list(_pa_type_for(sch["items"]))
    try:
        return {"long": pa.int64(), "int": pa.int64(),
                "double": pa.float64(), "float": pa.float32(),
                "boolean": pa.bool_(), "string": pa.large_utf8(),
                "bytes": pa.large_binary()}[k]
    except KeyError:
        raise _StructOutOfScope from None


def _list_layout(arr):
    """(per-row offsets from 0 as int64, the child values those rows
    span) of a list array, slicing offset applied."""
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = arr.values.slice(int(offs[0]), int(offs[-1] - offs[0]))
    return offs - offs[0], vals


def _arrow_columns(node: Dict, data, cols: List[str]):
    """``data``'s ``cols`` as Arrow arrays, or None when a column's
    shape is out of plan. An Arrow table is taken as is; a pandas frame
    converts under pandas' null convention (None/NaN/NaT are null) in
    a nullable field, and keeps NaN as a value in a non-nullable one."""
    import pyarrow as pa

    if isinstance(data, pa.Table):
        return {c: data.column(c).combine_chunks() for c in cols}
    out = {}
    try:
        for f, c in zip(node["fields"], cols):
            out[c] = pa.array(data[c], type=_pa_type_for(f["schema"]),
                              from_pandas=f["schema"]["kind"] == "union")
    except _StructOutOfScope:
        return None
    return out


def _explode_struct(sa, rec_node: Dict, prefix: str,
                    out_cols: Dict, out_fields: List[Dict]) -> None:
    for i, f in enumerate(rec_node["fields"]):
        child = sa.field(i)
        sch = f["schema"]
        vnode = sch
        nullable = False
        if vnode["kind"] == "union":
            br = vnode["branches"]
            nullable = True
            vnode = br[1] if br[0]["kind"] == "null" else br[0]
        if vnode["kind"] == "record":
            if nullable:
                # a null struct removes its children from the wire —
                # not expressible as inlined nullable columns
                raise _StructOutOfScope
            _explode_struct(child, vnode, prefix + f["name"] + "\x1f",
                            out_cols, out_fields)
            continue
        name = prefix + f["name"]
        out_fields.append({"name": name, "schema": sch})
        out_cols[name] = child


def _flatten_struct_cols(node: Dict, columns: Dict, cols: List[str]):
    """(node', columns', cols') with every NON-nullable record field
    inlined to its children (wire-identical — a record's bytes are its
    fields in order); None when there is nothing to flatten or a struct
    shape is out of plan (caller goes scalar). r14 — the write-side
    twin of the decoder's struct flattening; proxy-measured ~3x
    (scripts/scale_probe_avro_struct_enc.py)."""
    if node["kind"] != "record" or not any(
            f["schema"].get("kind") == "record"
            for f in node["fields"]):
        return None
    try:
        new_fields: List[Dict] = []
        new_cols: List[str] = []
        data: Dict[str, Any] = {}
        for f, c in zip(node["fields"], cols):
            sch = f["schema"]
            if sch["kind"] != "record":
                new_fields.append(f)
                new_cols.append(c)
                data[c] = columns[c]
                continue
            if not sch["fields"]:
                raise _StructOutOfScope
            sa = columns[c]
            if sa.null_count:
                raise ValueError(
                    f"column {c!r}: null struct in a non-nullable "
                    "field")
            flat_fields: List[Dict] = []
            _explode_struct(sa, sch, c + "\x1f", data, flat_fields)
            new_fields.extend(flat_fields)
            new_cols.extend(ff["name"] for ff in flat_fields)
    except _StructOutOfScope:
        return None
    return ({"kind": "record", "name": node.get("name"),
             "fields": new_fields}, data, new_cols)


def encode_frame(node: Dict, data, cols: List[str]) -> Optional[Tuple]:
    """Encode ``data[cols]`` (an Arrow table, or a pandas frame) under
    flat record ``node`` -> (payload bytes, per-row end offsets) or
    None when out of plan. Bytes are identical to the scalar per-row
    encoder. NON-nullable struct columns flatten to their children
    first (r14, wire-identical); nullable structs and other nested
    shapes decline."""
    if node["kind"] != "record":
        return None
    columns = _arrow_columns(node, data, cols)
    if columns is None:
        return None
    return _encode_columns(node, columns, cols, len(data))


def _encode_columns(node: Dict, columns: Dict, cols: List[str], n: int
                    ) -> Optional[Tuple]:
    flat = _flatten_struct_cols(node, columns, cols)
    if flat is not None:
        node, columns, cols = flat
    steps = _enc_plan(node)
    if steps is None:
        return None
    if n == 0:
        return b"", np.zeros(0, np.int64)
    prepped = []
    row_len = np.zeros(n, np.int64)
    for step, cname in zip(steps, cols):
        try:
            p = _col_arrays(step, columns[cname])
        except _StructOutOfScope:
            return None  # element shape out of plan — caller scalar
        if step["null_idx"] is not None:
            p["taglen"] = 1  # zigzag(0|1) is always one byte
            row_len += 1
        elif p["isnull"].any():
            raise ValueError(
                f"column {cname!r}: null in a non-nullable field")
        row_len += p["lens"]
        prepped.append(p)

    row_end = np.cumsum(row_len)
    out = np.zeros(int(row_end[-1]), np.uint8)
    # field start positions: running offset within each row
    run = row_end - row_len
    for step, p in zip(steps, prepped):
        pos = run.copy()
        isnull = p["isnull"]
        if step["null_idx"] is not None:
            # union tag byte: zigzag(branch) = 0 for branch 0, 2 for 1
            val_branch = 1 - step["null_idx"]
            tag_val = np.where(isnull, step["null_idx"], val_branch)
            out[pos] = (tag_val << 1).astype(np.uint8)
            pos = pos + 1
            run = run + 1
        k = step["kind"]
        live = ~isnull
        if k in ("long", "int"):
            _emit_varints(out, pos[live], p["u"][live],
                          _varint_len(p["u"][live]))
        elif k in ("double", "float", "boolean"):
            w = p["fixed"].shape[1]
            out[pos[live, None] + np.arange(w)] = p["fixed"][live]
        elif k in ("string", "bytes"):
            _emit_varints(out, pos[live], p["u"][live],
                          p["vlens"][live])
            _scatter_ranges(out, (pos + p["vlens"])[live],
                            p["blens"][live], p["payload"])
        elif k == "array":
            nz = live & (p["counts"] > 0)
            _emit_varints(out, pos[nz], p["u"][nz], p["vlens"][nz])
            _scatter_ranges(out, (pos + p["vlens"])[nz],
                            p["blens"][nz], p["payload"])
            # terminators: 0 byte after the block (or alone when empty)
            term_at = np.where(p["counts"] > 0,
                               pos + p["vlens"] + p["blens"], pos)
            out[term_at[live]] = 0
        elif k in ("array_record", "record_nullable"):
            # the column payload is pre-assembled (count varints +
            # elements + terminators, or present struct spans) — one
            # range copy per live row
            _scatter_ranges(out, pos[live], p["lens"][live],
                            p["payload"])
        run = run + p["lens"]
    return out.tobytes(), row_end
