"""Vectorized columnar decode for flat Avro records (numpy + Arrow).

The Avro binary stream is inherently sequential — every value is a
zigzag varint or a varint-length-prefixed payload, so row N's offset is
unknowable until row N-1 is fully parsed. Per-value python (the scalar
decoder in `sources/avro.py`) therefore pays interpreter dispatch for
every byte group: ~0.3 M rows/s on a 4-column frame.

This module removes the per-row interpreter from the hot path with the
same lever the TFRecord crc32c got in r10 (GF(2)/numpy batching): the
container's OWN block structure. Blocks are independent decode units
(each starts at a known offset from the block header), so we decode all
blocks in LOCK-STEP — one "wave" decodes row r's field f across every
block simultaneously with numpy gathers:

- varints: per-byte waves over a position vector (≤10 iterations, each
  a fancy-indexed gather + mask update), then one vectorized zigzag;
- fixed-width (double/float/boolean): one strided gather + view cast;
- strings/bytes: waves record (start, length) only; after all waves one
  vectorized multi-range gather (`np.repeat` index arithmetic) builds a
  contiguous values buffer and the column materializes as an Arrow
  ``large_utf8``/``large_binary`` array via ``from_buffers`` — zero
  per-row python.

Vector width = number of blocks, so throughput GROWS with file size
(a 128 MB shard at the default 1024-row blocks is a ~1000-wide vector);
small files (< _MIN_BLOCKS blocks) fall back to the scalar decoder,
which is faster at that scale. Output is one ``pa.Array`` per column —
the product `read_avro`/`read_avro_split` ship to the JVM through
``mapInArrow`` — so the readers also skip the N-dict materialization
entirely.

Coverage: flat records of long/int/double/float/boolean/string/bytes/
enum/fixed, ``['null', T]`` nullable unions, timestamp/date logicals,
arrays of NON-nullable fixed-width elements (float/double/boolean —
the embedding-corpus shape, one gather per row) and of string/bytes
elements (the tokenized-text shape, r12 — one varint wave per element
INDEX, so a K-token row costs K waves at full block width, then the
same deferred-(start,len) single-gather trick as top-level strings).
The spec's negative-count blocks are honored, and MULTI-block arrays
(foreign writers chunk large ones) decode in the same waves: rows
drop out as their count-0 terminator arrives, continuation segments
gather per-row-contiguously (r12). Spec
schema-resolution projection (writer-only fields skip at wave speed),
reader defaults, and the int→long→float→double / string↔bytes
promotions. NON-nullable nested records flatten into the plan (r13:
wire-identical to inlined fields; struct columns reassemble from child
arrays at finalize — measured 3.2-4.1× scalar end-to-end,
scripts/scale_probe_avro_struct.py). NULLABLE records (r14) compile
to a ``record_group`` step: one zigzag branch wave yields the struct
validity mask, sub-field waves run on the reduced row set (a null
struct has no wire bytes), and ``pa.StructArray`` applies the mask at
assembly — measured 2.85-4.43× scalar
(scripts/scale_probe_avro_nullable_struct.py). RECORDS INSIDE ARRAYS
(r14, the entities/spans shape) vectorize via per-element per-FIELD
waves with flat element-granularity scatter and a single
LargeList<Struct> assembly — measured 2.4-4.3× scalar
(scripts/scale_probe_avro_array_struct.py); element fields are
limited to scalar kinds incl. nullable unions (nested records/
arrays/enum/fixed inside an element decline). Varint-numeric-element
or union-element arrays, maps, and nullability-MISMATCHED records
return None and the caller uses the scalar path — Iceberg manifests
stay scalar by design (small metadata files); maps stay scalar BY
MEASUREMENT (0.8×, r12: dict materialization dominates).

Equivalence with the scalar decoder is pinned by differential tests
(tests/test_avro_vec.py) over random schemas/values, and the measured
speedup is recorded in SCALE.md.
"""
from __future__ import annotations

from typing import Any, Dict, List, Optional, Tuple

import numpy as np

_MIN_BLOCKS = 64  # vector width below breakeven (~50 measured) — scalar


_U0, _U1, _U7, _U63 = (np.uint64(0), np.uint64(1), np.uint64(7),
                       np.uint64(63))
_M7F, _M80 = np.uint64(0x7F), np.uint64(0x80)


def _wave_varint(buf: np.ndarray, pos: np.ndarray,
                 idx: np.ndarray) -> np.ndarray:
    """Decode ONE varint per active block at ``pos[idx]``; advances
    ``pos`` in place; returns the raw (pre-zigzag) uint64 values."""
    b = buf[pos[idx]].astype(np.uint64)
    pos[idx] += 1
    val = b & _M7F
    more = (b & _M80) != 0
    if not more.any():  # all single-byte — the common fast path
        return val
    local = np.nonzero(more)[0]
    sub = idx[local]
    shift = _U7
    while True:
        b = buf[pos[sub]].astype(np.uint64)
        pos[sub] += 1
        if shift <= _U63:
            val[local] |= (b & _M7F) << shift
        more = (b & _M80) != 0
        if not more.any():
            return val
        local = local[more]
        sub = sub[more]
        shift = shift + _U7


def _zigzag(val: np.ndarray) -> np.ndarray:
    return ((val >> _U1).astype(np.int64)
            ^ -((val & _U1).astype(np.int64)))


def _gather_ranges(buf: np.ndarray, starts: np.ndarray,
                   lens: np.ndarray) -> np.ndarray:
    """Concatenate buf[starts[i]:starts[i]+lens[i]] for all i.

    The ranges are disjoint and appear in buffer order (row order IS
    position order under block-major decoding), so the gather is a
    boolean keep-mask built with the range-diff trick — O(|buf|)
    sequential memory, no per-byte index arithmetic (np.repeat on a
    multi-MB index array measured ~6x slower)."""
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, np.uint8)
    nz = lens > 0
    s = starts[nz]
    e = (starts + lens)[nz]
    # ranges are disjoint and in position order, so e[i] can only
    # collide with s[i+1]; merge those adjacent ranges so every toggle
    # point is unique, then one XOR-scan builds the keep mask.
    # (bool xor.accumulate measured ~25x faster than int cumsum here,
    # and np.add.at ~10x slower than plain fancy assignment)
    if len(s) > 1:
        adj = e[:-1] == s[1:]
        if adj.any():
            ka = np.concatenate(([True], ~adj))
            kb = np.concatenate((~adj, [True]))
            s, e = s[ka], e[kb]
    t = np.zeros(len(buf) + 1, np.bool_)
    t[s] = True
    t[e] = True
    keep = np.logical_xor.accumulate(t[:-1])
    return buf[keep]


# ---------------------------------------------------------------------------
# plan compilation

_VEC_KINDS = ("long", "int", "double", "float", "boolean",
              "string", "bytes", "enum", "fixed")
_PROMOTE = {("int", "long"), ("int", "float"), ("int", "double"),
            ("long", "float"), ("long", "double"), ("float", "double"),
            ("string", "bytes"), ("bytes", "string")}


def _unwrap(node: Dict) -> Tuple[Optional[Dict], Optional[int]]:
    """-> (value node, null branch index | None); (None, -1) if the
    union shape is unsupported (>2 branches / no null branch)."""
    if node["kind"] != "union":
        return node, None
    br = node["branches"]
    if len(br) != 2 or sum(b["kind"] == "null" for b in br) != 1:
        return None, -1
    ni = 0 if br[0]["kind"] == "null" else 1
    return br[1 - ni], ni


def _mangle_step(step: Dict, pref: str) -> Dict:
    """Prefix a flattened sub-field step's output name (recursing into
    nested ``record_group`` substeps) so sibling structs with
    same-named children never collide."""
    out = dict(step)
    if out.get("name") is not None:
        out["name"] = pref + out["name"]
    if out["kind"] == "record_group":
        out["substeps"] = [_mangle_step(s, pref)
                           for s in out["substeps"]]
    return out


def _mangle_asm(asm: Dict, pref: str) -> Dict:
    out = {
        "key": pref + asm["key"],
        "children": [
            (cn, pref + sk if sk is not None else None, dv)
            for cn, sk, dv in asm["children"]],
    }
    if asm.get("mask"):
        out["mask"] = pref + asm["mask"]
    return out


def _columnar_plan(writer: Dict, reader: Dict) -> Optional[Tuple]:
    """Compile (steps, fills, assemblies) for the lock-step decoder, or
    None when any field needs the scalar path. A step is a dict:
    name (None = skip), kind/logical (writer value), null_idx (writer),
    out_kind (reader value kind), symbols/size for enum/fixed.

    NON-nullable nested records flatten into the plan (r13 — a
    record-of-scalars is wire-identical to its fields inlined in
    order, so sub-fields become ordinary steps under mangled
    ``parent\\x1fchild`` names) and an *assembly* rebuilds each struct
    column from its child arrays at finalize, innermost first:
    ``{"key": out-or-mangled name, "children": [(child name, source
    key | None, default when source is None)]}``. Measured 3.2-4.1x
    over the scalar path WITH the pandas dict materialization
    (scripts/scale_probe_avro_struct.py) — unlike maps (0.8x, r12),
    because the scalar decoder pays nested dispatch per row while
    Arrow's struct-to-dicts crossing is one C pass.

    NULLABLE records (r14, proxy-measured 2.7-3.8x first:
    scripts/scale_probe_avro_nullable_struct.py) compile to a
    ``record_group`` step: one zigzag branch wave producing the
    struct's validity mask, with the flattened sub-field steps nested
    INSIDE the group and executed on the reduced (non-null) wave — a
    null struct contributes no wire bytes, which simple per-field
    masks cannot model but wave reduction models exactly. The
    assembly applies the mask via ``pa.StructArray.from_arrays(...,
    mask=)``. Writer-nullable requires reader-nullable (and vice
    versa); mismatched nullability stays scalar."""
    from .avro import _default_value

    if writer["kind"] != "record" or reader["kind"] != "record":
        return None
    rf = {f["name"]: f for f in reader["fields"]}
    steps: List[Dict] = []
    assemblies: List[Dict] = []
    for f in writer["fields"]:
        wnode, wnull = _unwrap(f["schema"])
        if wnode is None:
            return None
        if wnode["kind"] == "record":
            name = f["name"] if f["name"] in rf else None
            if name is None:  # writer-only struct: skip its fields
                sub_reader: Dict = {"kind": "record",
                                    "name": wnode.get("name"),
                                    "fields": []}
            else:
                rnode, rnull = _unwrap(rf[name]["schema"])
                if (rnode is None or rnode["kind"] != "record"
                        or not rnode["fields"]):
                    return None
                # nullability must agree on both sides: a writer null
                # cannot resolve into a non-nullable reader struct
                # (the scalar path raises properly), and a reader-only
                # null branch adds nothing the mask can't — mismatches
                # stay scalar
                if (wnull is None) != (rnull is None):
                    return None
                sub_reader = rnode
            sub = _columnar_plan(wnode, sub_reader)
            if sub is None:
                return None
            sub_steps, sub_fills, sub_asms = sub
            pref = f["name"] + "\x1f"
            m_steps = [_mangle_step(ss, pref) for ss in sub_steps]
            if wnull is None:
                steps.extend(m_steps)
            else:
                # nullable struct (r14): one branch wave -> validity
                # mask; sub-fields run on the reduced wave inside the
                # group (a null struct has NO wire bytes for them)
                steps.append({
                    "name": name, "kind": "record_group",
                    "null_idx": wnull, "reader_nullable": True,
                    "logical": None, "out_kind": "record_group",
                    "substeps": m_steps})
            if name is not None:
                assemblies.extend(
                    _mangle_asm(sa, pref) for sa in sub_asms)
                fillmap = dict(sub_fills)
                top_asm = {
                    "key": name,
                    "children": [
                        (sf["name"], None, fillmap[sf["name"]])
                        if sf["name"] in fillmap
                        else (sf["name"], pref + sf["name"], None)
                        for sf in sub_reader["fields"]]}
                if wnull is not None:
                    top_asm["mask"] = name
                assemblies.append(top_asm)
            continue
        elem = None
        elem_sub = None
        if wnode["kind"] == "array":
            # arrays of NON-nullable fixed-width elements vectorize in
            # one gather (the embedding shape: array<float>); string/
            # bytes elements vectorize via per-ELEMENT waves (the
            # tokenized-text shape: array<string>); RECORD elements
            # (the entities/spans shape, r14 — proxy-measured
            # 4.2-5.4x, scripts/scale_probe_avro_array_struct.py)
            # vectorize via per-element waves over the element's
            # flattened scalar fields, assembling ListArray<Struct>;
            # union-tagged or varint-numeric elements stay scalar
            it = wnode["items"]
            if it["kind"] == "record":
                pass  # validated against the reader below
            elif it["kind"] not in ("double", "float", "boolean",
                                    "string", "bytes"):
                return None
            elem = it["kind"]
        elif wnode["kind"] not in _VEC_KINDS:
            return None
        name = f["name"] if f["name"] in rf else None
        out_kind = wnode["kind"]
        if elem == "record":
            if name is None:
                r_items: Dict = {"kind": "record",
                                 "name": wnode["items"].get("name"),
                                 "fields": []}
            else:
                rnode, rnull = _unwrap(rf[name]["schema"])
                if (rnode is None or rnode["kind"] != "array"
                        or rnode["items"]["kind"] != "record"
                        or not rnode["items"]["fields"]):
                    return None
                r_items = rnode["items"]
            sub = _columnar_plan(wnode["items"], r_items)
            if sub is None:
                return None
            es, efills, easms = sub
            # element scope: scalar kinds incl. nullable unions, enum,
            # and fixed — nested records/arrays/logicals inside the
            # element decline to the scalar path
            if easms or any(
                    s["kind"] in ("array", "record_group")
                    or s.get("logical")
                    for s in es):
                return None
            elem_sub = (es, dict(efills),
                        [sf["name"] for sf in r_items["fields"]])
            steps.append({
                "name": name, "kind": "array", "logical": None,
                "null_idx": wnull, "reader_nullable": (
                    name is None
                    or _unwrap(rf[name]["schema"])[1] is not None),
                "out_kind": "array", "elem": "record",
                "elem_w": None, "elem_sub": elem_sub,
                "symbols": None, "size": None,
            })
            continue
        if name is not None:
            rnode, rnull = _unwrap(rf[name]["schema"])
            if rnode is None:
                return None
            wk, rk = wnode["kind"], rnode["kind"]
            if wk == "array":
                if rk != "array" or rnode["items"] != wnode["items"]:
                    return None
            elif wk != rk and (wk, rk) not in _PROMOTE:
                return None
            if wnode.get("logical") != rnode.get("logical"):
                return None
            if wk in ("enum", "fixed") and wk == rk:
                if wk == "enum" and wnode["symbols"] != rnode["symbols"]:
                    return None
                if wk == "fixed" and wnode["size"] != rnode["size"]:
                    return None
            out_kind = rk
        steps.append({
            "name": name, "kind": wnode["kind"],
            "logical": wnode.get("logical"), "null_idx": wnull,
            "reader_nullable": (name is None
                                or _unwrap(rf[name]["schema"])[1]
                                is not None),
            "out_kind": out_kind, "elem": elem,
            "elem_w": {"double": 8, "float": 4,
                       "boolean": 1}.get(elem),
            "symbols": wnode.get("symbols"), "size": wnode.get("size"),
        })
    fills = []
    wnames = {f["name"] for f in writer["fields"]}
    for f in reader["fields"]:
        if f["name"] not in wnames:
            fills.append((f["name"], _default_value(f, "$")))
    return steps, fills, assemblies


# ---------------------------------------------------------------------------
# column accumulators

class _Cols:
    def __init__(self, steps: List[Dict], n: int):
        self.n = n
        self.num: Dict[str, np.ndarray] = {}
        self.mask: Dict[str, np.ndarray] = {}
        self.starts: Dict[str, np.ndarray] = {}
        self.lens: Dict[str, np.ndarray] = {}
        # arrays of var-width elements: per-row element count + one
        # (elem_idx, rows, starts, lens) tuple per element wave,
        # scattered into flat buffers at finalize; fixed-width arrays
        # collect continuation segments (multi-block form) in fextra
        self.acounts: Dict[str, np.ndarray] = {}
        self.aparts: Dict[str, List[Tuple]] = {}
        self.fextra: Dict[str, List[Tuple]] = {}
        self._alloc(steps, n)

    def _alloc(self, steps: List[Dict], n: int) -> None:
        for s in steps:
            name = s["name"]
            if s["kind"] == "record_group":
                # the group itself carries only the struct validity
                # mask; its children allocate at FULL length (rows
                # under a null struct stay zero and are hidden by the
                # mask at assembly)
                if name is not None:
                    self.mask[name] = np.zeros(n, np.bool_)
                self._alloc(s["substeps"], n)
                continue
            if name is None:
                continue
            k = s["kind"]
            if k == "array" and s["elem_w"] is None:
                self.acounts[name] = np.zeros(n, np.int64)
                self.aparts[name] = []
            elif k == "array":
                self.starts[name] = np.zeros(n, np.int64)
                self.lens[name] = np.zeros(n, np.int64)
                self.fextra[name] = []
            elif k in ("string", "bytes", "fixed"):
                self.starts[name] = np.zeros(n, np.int64)
                self.lens[name] = np.zeros(n, np.int64)
            elif k == "double":
                self.num[name] = np.zeros(n, np.float64)
            elif k == "float":
                self.num[name] = np.zeros(n, np.float32)
            elif k == "boolean":
                self.num[name] = np.zeros(n, np.bool_)
            else:  # long / int / enum index
                self.num[name] = np.zeros(n, np.int64)
            self.mask[name] = np.zeros(n, np.bool_)


def _exec_elem_step(step: Dict, buf: np.ndarray, pos: np.ndarray,
                    idx: np.ndarray, wave: Optional[Dict]) -> None:
    """One element-FIELD wave inside an array<record> element (r14):
    like :func:`_exec_step` but writes into a per-wave dict instead of
    row-granularity columns — element slots aren't known until all
    counts are, so finalize scatters the waves. ``wave[name]`` becomes
    ``("num", valid_bool, values)`` or ``("str", valid_bool, starts,
    lens)``; ``wave is None`` = skip-only (writer-only array field).
    Plan gate limits element fields to scalar kinds (incl. nullable
    unions)."""
    name = step["name"]
    valid = None
    if step["null_idx"] is not None:
        bi = _zigzag(_wave_varint(buf, pos, idx))
        bad = (bi < 0) | (bi > 1)
        if bad.any():
            raise ValueError(f"union index {int(bi[bad][0])} "
                             "out of range")
        isval = bi != step["null_idx"]
        if name is not None and not step["reader_nullable"] \
                and not isval.all():
            raise ValueError(
                f"field {name!r}: writer null does not resolve to "
                "a non-nullable reader field")
        if not isval.all():
            valid = isval
            idx = idx[isval]
        if len(idx) == 0:
            if wave is not None and name is not None:
                if step["kind"] in ("string", "bytes", "fixed"):
                    wave[name] = ("str", valid, np.zeros(0, np.int64),
                                  np.zeros(0, np.int64))
                else:
                    wave[name] = ("num", valid,
                                  np.zeros(0, np.int64))
            return
    k = step["kind"]
    if k in ("long", "int"):
        vals = _zigzag(_wave_varint(buf, pos, idx))
        if wave is not None and name is not None:
            wave[name] = ("num", valid, vals)
    elif k in ("double", "float"):
        w = 8 if k == "double" else 4
        raw = buf[pos[idx, None] + np.arange(w)]
        if wave is not None and name is not None:
            wave[name] = ("num", valid, raw.view(
                "<f8" if k == "double" else "<f4").ravel())
        pos[idx] += w
    elif k == "boolean":
        if wave is not None and name is not None:
            wave[name] = ("num", valid, buf[pos[idx]] == 1)
        pos[idx] += 1
    elif k in ("string", "bytes"):
        lens = _zigzag(_wave_varint(buf, pos, idx))
        if (lens < 0).any():
            raise ValueError(f"negative byte-length {int(lens.min())}")
        if wave is not None and name is not None:
            wave[name] = ("str", valid, pos[idx].copy(), lens)
        pos[idx] += lens
    elif k == "enum":
        vals = _zigzag(_wave_varint(buf, pos, idx))
        if (vals < 0).any() or (vals >= len(step["symbols"])).any():
            raise ValueError("enum index out of range")
        if wave is not None and name is not None:
            wave[name] = ("num", valid, vals)
    elif k == "fixed":
        if wave is not None and name is not None:
            wave[name] = ("str", valid, pos[idx].copy(),
                          np.full(len(idx), step["size"], np.int64))
        pos[idx] += step["size"]
    else:  # pragma: no cover - plan gate excludes other kinds
        raise ValueError(f"unplannable element kind {k!r}")


def _exec_step(step: Dict, buf: np.ndarray, pos: np.ndarray,
               idx: np.ndarray, out_pos: np.ndarray,
               cols: _Cols) -> None:
    name = step["name"]
    if step["null_idx"] is not None:
        bi = _zigzag(_wave_varint(buf, pos, idx))
        bad = (bi < 0) | (bi > 1)
        if bad.any():
            raise ValueError(f"union index {int(bi[bad][0])} "
                             "out of range")
        isval = bi != step["null_idx"]
        if name is not None:
            if not step["reader_nullable"] and not isval.all():
                raise ValueError(
                    f"field {name!r}: writer null does not resolve to "
                    "a non-nullable reader field")
            cols.mask[name][out_pos[~isval]] = True
        if not isval.all():
            idx = idx[isval]
            out_pos = out_pos[isval]
        if len(idx) == 0:
            return
    k = step["kind"]
    if k == "record_group":
        # nullable struct: the preamble above consumed the branch
        # wave, recorded the validity mask, and reduced the wave to
        # rows where the struct is present — its sub-fields (which
        # have no wire bytes under a null struct) now decode on that
        # reduced wave
        for ss in step["substeps"]:
            _exec_step(ss, buf, pos, idx, out_pos, cols)
        return
    if k in ("long", "int"):
        vals = _zigzag(_wave_varint(buf, pos, idx))
        if name is not None:
            cols.num[name][out_pos] = vals
    elif k == "enum":
        vals = _zigzag(_wave_varint(buf, pos, idx))
        if (vals < 0).any() or (vals >= len(step["symbols"])).any():
            raise ValueError("enum index out of range")
        if name is not None:
            cols.num[name][out_pos] = vals
    elif k in ("double", "float"):
        w = 8 if k == "double" else 4
        if name is not None:
            raw = buf[pos[idx, None] + np.arange(w)]
            cols.num[name][out_pos] = raw.view(
                "<f8" if k == "double" else "<f4").ravel()
        pos[idx] += w
    elif k == "boolean":
        if name is not None:
            cols.num[name][out_pos] = buf[pos[idx]] == 1
        pos[idx] += 1
    elif k in ("string", "bytes"):
        lens = _zigzag(_wave_varint(buf, pos, idx))
        if (lens < 0).any():
            raise ValueError(f"negative byte-length {int(lens.min())}")
        if name is not None:
            cols.starts[name][out_pos] = pos[idx]
            cols.lens[name][out_pos] = lens
        pos[idx] += lens
    elif k == "fixed":
        if name is not None:
            cols.starts[name][out_pos] = pos[idx]
            cols.lens[name][out_pos] = step["size"]
        pos[idx] += step["size"]
    elif k == "array":
        # arrays are a SEQUENCE of (count, items...) blocks ending in
        # a count-0 terminator; rows drop out of the wave as their
        # terminator arrives, so multi-block arrays (foreign writers
        # chunk large ones) decode at full width with no fallback
        w = step["elem_w"]
        act, aout = idx, out_pos
        ebase = np.zeros(len(act), np.int64)  # elements decoded so far
        segno = 0
        while len(act):
            c = _zigzag(_wave_varint(buf, pos, act))
            neg = c < 0
            if neg.any():
                # negative-count block form: the byte size follows —
                # we decode elements ourselves, so only |count| matters
                _wave_varint(buf, pos, act[neg])
                c = np.abs(c)
            live = c > 0  # count 0 IS this row's terminator
            if not live.all():
                act, aout, ebase, c = (act[live], aout[live],
                                       ebase[live], c[live])
                if not len(act):
                    break
            if w is not None:  # fixed-width: one range per array block
                if name is not None:
                    if segno == 0:
                        cols.starts[name][aout] = pos[act]
                        cols.lens[name][aout] = c * w
                    else:
                        cols.fextra[name].append(
                            (aout.copy(), pos[act], c * w, segno))
                pos[act] += c * w
            elif step["elem"] == "record":
                # record elements (r14): per element index, run one
                # wave per flattened element FIELD — vector width
                # stays = active blocks, so a K-entity row costs
                # K * n_fields waves, not K*rows python dispatches
                if name is not None:
                    cols.acounts[name][aout] += c
                e = 0
                a2, o2, c2, eb2 = act, aout, c, ebase
                es = step["elem_sub"][0]
                while True:
                    m = c2 > e
                    if not m.any():
                        break
                    if not m.all():
                        a2, o2, c2, eb2 = a2[m], o2[m], c2[m], eb2[m]
                    wave = {} if name is not None else None
                    for ss in es:
                        _exec_elem_step(ss, buf, pos, a2, wave)
                    if name is not None:
                        cols.aparts[name].append(
                            (eb2 + e, o2.copy(), wave))
                    e += 1
            else:  # string/bytes: one varint wave per ELEMENT index —
                # vector width stays = active blocks, so a K-token row
                # costs K waves, not K*rows python calls
                if name is not None:
                    cols.acounts[name][aout] += c
                e = 0
                a2, o2, c2, eb2 = act, aout, c, ebase
                while True:
                    m = c2 > e
                    if not m.any():
                        break
                    if not m.all():
                        a2, o2, c2, eb2 = a2[m], o2[m], c2[m], eb2[m]
                    lens = _zigzag(_wave_varint(buf, pos, a2))
                    if (lens < 0).any():
                        raise ValueError(
                            f"negative byte-length {int(lens.min())}")
                    if name is not None:
                        cols.aparts[name].append(
                            (eb2 + e, o2.copy(), pos[a2], lens))
                    pos[a2] += lens
                    e += 1
            ebase = ebase + c
            segno += 1
    else:  # pragma: no cover - plan gate excludes other kinds
        raise ValueError(f"unplannable kind {k!r}")


# ---------------------------------------------------------------------------
# finalization to Arrow arrays

def _finalize(step: Dict, cols: _Cols, buf: np.ndarray):
    """One decoded column as a ``pa.Array``: the string/bytes/array
    branches assemble Arrow buffers directly, numeric branches use the
    C-level ``pa.array(ndarray, mask=)`` constructor. Timestamp
    logicals become Arrow timestamps of the wire's unit (UTC instants;
    ``local-*`` ones zone-less), dates become ``date32`` — the reader
    casts each to its Spark type with no time zone applied."""
    import pyarrow as pa

    name = step["name"]
    mask = cols.mask[name]
    has_null = bool(mask.any())
    k, out_k, logical = step["kind"], step["out_kind"], step["logical"]
    if k == "array" and step["elem"] == "record":
        # record elements (r14): scatter each element wave's per-field
        # data into flat element-granularity arrays, then assemble
        # LargeList<Struct> — same slot arithmetic as string elements,
        # and per-field flat ranges stay position-ordered (row order
        # IS position order under block-major decoding, fields in
        # element order within a row), so strings still gather in ONE
        # _gather_ranges pass per field
        es, efills, rnames = step["elem_sub"]
        counts = cols.acounts[name]
        total = int(counts.sum())
        offs = np.zeros(len(counts) + 1, np.int64)
        np.cumsum(counts, out=offs[1:])
        by_field = {s["name"]: s for s in es if s["name"] is not None}
        children = []
        for fname in rnames:
            if fname in efills:
                dflt = efills[fname]
                children.append(
                    pa.nulls(total) if dflt is None
                    else pa.array([dflt] * total))
                continue
            ss = by_field[fname]
            ek, eout = ss["kind"], ss["out_kind"]
            if ek in ("string", "bytes", "fixed"):
                fstarts = np.zeros(total, np.int64)
                flens = np.zeros(total, np.int64)
                fnull = np.zeros(total, np.bool_)
                for e_abs, rows_idx, wave in cols.aparts[name]:
                    slots = offs[rows_idx] + e_abs
                    tag, valid, sts, lns = wave[fname]
                    if valid is None:
                        fstarts[slots] = sts
                        flens[slots] = lns
                    else:
                        vs = slots[valid]
                        fstarts[vs] = sts
                        flens[vs] = lns
                        fnull[slots[~valid]] = True
                values = _gather_ranges(buf, fstarts, flens)
                str_offs = np.zeros(total + 1, np.int64)
                np.cumsum(flens, out=str_offs[1:])
                want_str = eout == "string"
                ctyp = pa.large_utf8() if want_str \
                    else pa.large_binary()
                validity = None
                if fnull.any():
                    validity = pa.py_buffer(
                        np.packbits(~fnull, bitorder="little"))
                child = pa.Array.from_buffers(
                    ctyp, total,
                    [validity, pa.py_buffer(str_offs),
                     pa.py_buffer(values)])
                if want_str:
                    try:
                        child.validate(full=True)
                    except pa.lib.ArrowInvalid as e:
                        raise ValueError(
                            f"invalid UTF-8 in array element field "
                            f"{name}.{fname}: {e}")
                children.append(child)
            else:
                dt = {"double": np.float64, "float": np.float32,
                      "boolean": np.bool_}.get(ek, np.int64)
                flat = np.zeros(total, dt)
                fnull = np.zeros(total, np.bool_)
                for e_abs, rows_idx, wave in cols.aparts[name]:
                    slots = offs[rows_idx] + e_abs
                    tag, valid, vals = wave[fname]
                    if valid is None:
                        flat[slots] = vals
                    else:
                        flat[slots[valid]] = vals
                        fnull[slots[~valid]] = True
                if ek == "enum":
                    idxs = pa.array(
                        flat.astype(np.int32),
                        mask=fnull if fnull.any() else None)
                    children.append(pa.DictionaryArray.from_arrays(
                        idxs, pa.array(ss["symbols"])).cast(
                        pa.large_utf8()))
                    continue
                if ek in ("long", "int") and eout in ("float",
                                                      "double"):
                    flat = flat.astype(
                        np.float64 if eout == "double"
                        else np.float32)
                elif ek == "float" and eout == "double":
                    flat = flat.astype(np.float64)
                children.append(pa.array(
                    flat, mask=fnull if fnull.any() else None))
        struct = pa.StructArray.from_arrays(children, rnames)
        validity = None
        if has_null:
            validity = pa.py_buffer(
                np.packbits(~mask, bitorder="little"))
        arr = pa.Array.from_buffers(
            pa.large_list(struct.type), len(counts),
            [validity, pa.py_buffer(offs)], children=[struct])
        return arr
    if k == "array" and step["elem_w"] is None:
        # string/bytes elements: scatter each element wave's
        # (start, len) into flat slot arrays (unique indices — fast
        # fancy assignment), then ONE multi-range gather builds the
        # values buffer and Arrow assembles large_list<large_utf8>
        counts = cols.acounts[name]
        total = int(counts.sum())
        offs = np.zeros(len(counts) + 1, np.int64)
        np.cumsum(counts, out=offs[1:])
        flat_starts = np.zeros(total, np.int64)
        flat_lens = np.zeros(total, np.int64)
        for e, rows_idx, sts, lns in cols.aparts[name]:
            slot = offs[rows_idx] + e
            flat_starts[slot] = sts
            flat_lens[slot] = lns
        values = _gather_ranges(buf, flat_starts, flat_lens)
        str_offs = np.zeros(total + 1, np.int64)
        np.cumsum(flat_lens, out=str_offs[1:])
        want_str = step["elem"] == "string"
        ctyp = pa.large_utf8() if want_str else pa.large_binary()
        child = pa.Array.from_buffers(
            ctyp, total,
            [None, pa.py_buffer(str_offs), pa.py_buffer(values)])
        validity = None
        if has_null:
            validity = pa.py_buffer(
                np.packbits(~mask, bitorder="little"))
        arr = pa.Array.from_buffers(
            pa.large_list(child.type), len(counts),
            [validity, pa.py_buffer(offs)], children=[child])
        if want_str:
            try:  # per-VALUE UTF-8, matching the scalar decoder
                arr.validate(full=True)
            except pa.lib.ArrowInvalid as e:
                raise ValueError(
                    f"invalid UTF-8 in array column {name!r}: {e}")
        return arr
    if k == "array":
        starts, lens = cols.starts[name], cols.lens[name]
        w = step["elem_w"]
        extras = cols.fextra.get(name) or []
        if extras:
            # multi-block rows: order every segment by (row, block) so
            # one gather yields per-row-contiguous element bytes
            n_rows = len(lens)
            rows_all = np.concatenate(
                [np.arange(n_rows, dtype=np.int64)]
                + [r for r, _s, _l, _g in extras])
            starts_all = np.concatenate(
                [starts] + [s for _r, s, _l, _g in extras])
            lens_all = np.concatenate(
                [lens] + [l for _r, _s, l, _g in extras])
            seg_all = np.concatenate(
                [np.zeros(n_rows, np.int64)]
                + [np.full(len(r), g, np.int64)
                   for r, _s, _l, g in extras])
            order = np.lexsort((seg_all, rows_all))
            values = _gather_ranges(buf, starts_all[order],
                                    lens_all[order])
            lens = np.bincount(rows_all, weights=lens_all,
                               minlength=n_rows).astype(np.int64)
        else:
            values = _gather_ranges(buf, starts, lens)
        counts = lens // w
        offs = np.zeros(len(counts) + 1, np.int64)
        np.cumsum(counts, out=offs[1:])
        total = int(counts.sum())
        if step["elem"] == "boolean":
            child = pa.Array.from_buffers(
                pa.bool_(), total,
                [None, pa.py_buffer(np.packbits(
                    values.view(np.bool_), bitorder="little"))])
        else:
            ctyp = pa.float64() if step["elem"] == "double" \
                else pa.float32()
            child = pa.Array.from_buffers(
                ctyp, total, [None, pa.py_buffer(values)])
        validity = None
        if has_null:
            validity = pa.py_buffer(
                np.packbits(~mask, bitorder="little"))
        arr = pa.Array.from_buffers(
            pa.large_list(child.type), len(counts),
            [validity, pa.py_buffer(offs)], children=[child])
        return arr
    if k in ("string", "bytes", "fixed"):
        starts, lens = cols.starts[name], cols.lens[name]
        values = _gather_ranges(buf, starts, lens)
        offs = np.zeros(len(lens) + 1, np.int64)
        np.cumsum(lens, out=offs[1:])
        want_str = out_k == "string"
        typ = pa.large_utf8() if want_str else pa.large_binary()
        validity = None
        if has_null:
            validity = pa.py_buffer(
                np.packbits(~mask, bitorder="little"))
        arr = pa.Array.from_buffers(
            typ, len(lens),
            [validity, pa.py_buffer(offs), pa.py_buffer(values)])
        if want_str:
            # per-VALUE UTF-8 validation (one C pass over the array):
            # validating the concatenated buffer would accept two
            # adjacent values that each split a multi-byte sequence —
            # the scalar decoder rejects those, so must this path
            try:
                arr.validate(full=True)
            except pa.lib.ArrowInvalid as e:
                raise ValueError(
                    f"invalid UTF-8 in string column {name!r}: {e}")
        return arr
    null_mask = mask if has_null else None
    if k == "enum":
        idx = pa.array(cols.num[name].astype(np.int32), mask=null_mask)
        return pa.DictionaryArray.from_arrays(
            idx, pa.array(step["symbols"])).cast(pa.large_utf8())
    if logical in ("timestamp-micros", "local-timestamp-micros",
                   "timestamp-millis", "local-timestamp-millis"):
        typ = pa.timestamp("us" if logical.endswith("micros") else "ms",
                           None if logical.startswith("local") else "UTC")
        return pa.array(cols.num[name], type=typ, mask=null_mask)
    if logical == "date":
        return pa.array(cols.num[name].astype(np.int32),
                        type=pa.date32(), mask=null_mask)
    vals = cols.num[name]
    if k in ("long", "int") and out_k in ("float", "double"):
        vals = vals.astype(np.float64 if out_k == "double"
                           else np.float32)
    elif k == "float" and out_k == "double":
        vals = vals.astype(np.float64)
    elif out_k == "int":
        vals = vals.astype(np.int32)
    return pa.array(vals, mask=null_mask)


# ---------------------------------------------------------------------------
# container driver

def _iter_value_steps(steps):
    """Yield every value-producing step, recursing through
    ``record_group`` substeps."""
    for s in steps:
        if s["kind"] == "record_group":
            yield from _iter_value_steps(s["substeps"])
        elif s["name"] is not None:
            yield s


def decode_blocks_columnar(datas: List[bytes], counts: List[int],
                           name: str, writer_node: Dict,
                           reader_node: Dict):
    """Decode already-decompressed block payloads (one bytes per block,
    ``counts[i]`` rows each) in lock-step -> dict[col, pa.Array] in
    READER field order, or None when out of coverage / too small. The
    caller feeds the arrays to ``mapInArrow``."""
    import pyarrow as pa

    plan = _columnar_plan(writer_node, reader_node)
    if plan is None or len(datas) < _MIN_BLOCKS:
        return None
    steps, fills, assemblies = plan

    sizes = np.array([len(d) for d in datas], np.int64)
    base = np.zeros(len(datas), np.int64)
    np.cumsum(sizes[:-1], out=base[1:])
    buf = np.frombuffer(b"".join(datas), np.uint8)
    cnt = np.array(counts, np.int64)
    n = int(cnt.sum())
    row_base = np.zeros(len(cnt), np.int64)
    np.cumsum(cnt[:-1], out=row_base[1:])

    cols = _Cols(steps, n)
    pos = base.copy()
    all_idx = np.arange(len(cnt))
    try:
        for r in range(int(cnt.max()) if len(cnt) else 0):
            active = all_idx[cnt > r]
            out_pos = row_base[active] + r
            for step in steps:
                _exec_step(step, buf, pos, active, out_pos, cols)
    except IndexError:
        raise ValueError(f"{name}: truncated block — varint or "
                         "payload runs past block end") from None
    except ValueError as e:
        raise ValueError(f"{name}: {e}") from None
    if not (pos == base + sizes).all():
        bad = int(np.nonzero(pos != base + sizes)[0][0])
        raise ValueError(
            f"{name}: {int(base[bad] + sizes[bad] - pos[bad])} trailing "
            "bytes in block — writer/reader schema mismatch")

    raw = {step["name"]: _finalize(step, cols, buf)
           for step in _iter_value_steps(steps)}
    out: Dict[str, Any] = {
        k: v for k, v in raw.items() if "\x1f" not in k}
    if assemblies:
        # rebuild struct columns from their flattened children,
        # innermost first
        built: Dict[str, Any] = {}

        def _child(key, dflt):
            if key is None:
                return (pa.nulls(n) if dflt is None
                        else pa.array([dflt] * n))
            return built[key] if key in built else raw[key]

        for asm in assemblies:
            mk = asm.get("mask")
            arr = pa.StructArray.from_arrays(
                [_child(k, dv) for _cn, k, dv in asm["children"]],
                [cn for cn, _k, _dv in asm["children"]],
                mask=pa.array(cols.mask[mk]) if mk else None)
            if "\x1f" in asm["key"]:
                built[asm["key"]] = arr
            else:
                out[asm["key"]] = arr
    for fname, fval in fills:
        out[fname] = (pa.nulls(n) if fval is None
                      else pa.array([fval] * n))
    return out
