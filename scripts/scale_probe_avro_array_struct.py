"""Measure-then-decide probe for vectorized ARRAY-OF-RECORDS Avro
decode (r14; the last nested shape still on the scalar path).

``array<record>`` is the entities/spans/token-offsets shape. On the
wire each element is its record's fields concatenated, inside the
usual (count, items..., 0) block framing — so a vectorized decoder
would run one wave per ELEMENT INDEX per FIELD (the string-array
pattern) and assemble ``pa.ListArray<StructArray>``.

The risk is the same place maps lost (0.8x, r12): the output must
materialize a python list of dicts PER ROW at the pandas crossing.
Structs won (2.5-4.9x, r13) because Arrow's fixed-key struct→dicts is
one C pass; list<struct>→list-of-dicts may or may not keep that
property at element granularity.

Proxy kernels (no decoder written):

* scalar    — `read_container` on the array<record> file + one
  ``pa.array`` per column (the readers' scalar fallback; the
  shipping path before r14).
* vec_proxy — vectorized decode of the EXPLODED twin (one row per
  element: the same field bytes minus count framing, so slightly
  LESS wire work than the real decoder would do — compensated by
  skipping the per-element count waves the real path would add) +
  ListArray-of-StructArray assembly from the known counts (until the
  readers went Arrow-only, plus a list-of-dicts pandas crossing).

Decision rule: implement only if vec_proxy clears ~1.5x at both
sizes; otherwise record the negative result (the maps precedent).

* vec       — the SHIPPED r14 path, added after the proxy cleared the
  bar at 4.2-5.4x: `read_container_columnar` on the array<record>
  file itself (per-element per-field waves, flat scatter, ONE gather
  per string field, LargeList<Struct> assembly).

Usage: python scripts/scale_probe_avro_array_struct.py [reps]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

SIZES = (200_000, 1_000_000)

NESTED = {"type": "record", "name": "r", "fields": [
    {"name": "id", "type": "long"},
    {"name": "ents", "type": {"type": "array", "items": {
        "type": "record", "name": "e", "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"}]}}}]}

EXPLODED = {"type": "record", "name": "x", "fields": [
    {"name": "a", "type": "long"},
    {"name": "b", "type": "string"}]}


def _counts(n):
    # 0..4 elements per row, deterministic
    return [(i * 7) % 5 for i in range(n)]


def _rows(n):
    out = []
    for i, c in enumerate(_counts(n)):
        out.append({"id": i, "ents": [
            {"a": i * 10 + j, "b": f"e{(i + j) % 997}"}
            for j in range(c)]})
    return out


def _exploded_rows(n):
    out = []
    for i, c in enumerate(_counts(n)):
        for j in range(c):
            out.append({"a": i * 10 + j, "b": f"e{(i + j) % 997}"})
    return out


def _time(fn, reps):
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    import pyarrow as pa

    from dataingestion_spark.sources.avro import (
        read_container, read_container_columnar, write_container,
    )

    for n in SIZES:
        pn = tempfile.mktemp(suffix=".avro")
        pf = tempfile.mktemp(suffix=".avro")
        write_container(pn, NESTED, _rows(n))
        write_container(pf, EXPLODED, _exploded_rows(n))
        nested_blob = open(pn, "rb").read()
        flat_blob = open(pf, "rb").read()
        os.remove(pn)
        os.remove(pf)

        counts = np.array(_counts(n), np.int64)
        offs = np.zeros(n + 1, np.int64)
        np.cumsum(counts, out=offs[1:])

        def scalar():
            _, rows = read_container(nested_blob, "probe")
            return {c: pa.array([r[c] for r in rows])
                    for c in ("id", "ents")}

        def vec_proxy():
            _, cols = read_container_columnar(flat_blob, "probe")
            assert cols is not None, "exploded twin fell back"
            struct = pa.StructArray.from_arrays(
                [cols["a"], cols["b"].cast(pa.string())], ["a", "b"])
            lst = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()), struct)
            return {"id": pa.array(np.arange(n, dtype=np.int64)),
                    "ents": lst}

        def vec():
            _, cols = read_container_columnar(nested_blob, "probe")
            assert cols is not None, "array<record> fell back"
            return cols

        sc = _time(scalar, reps)
        vp = _time(vec_proxy, reps)
        vr = _time(vec, reps)
        a, b, c = scalar(), vec_proxy(), vec()
        # equivalence: same element dicts per row, both kernels
        for i in (1, 3, 9, n - 1):
            want = a["ents"][i].as_py()
            assert want == b["ents"][i].as_py(), i
            assert want == c["ents"][i].as_py(), i
        print(json.dumps({
            "kernel": "avro_array_record", "rows": n,
            "mb": round(len(nested_blob) / 1e6, 1),
            "scalar_s": round(sc, 3), "vec_proxy_s": round(vp, 3),
            "vec_s": round(vr, 3),
            "speedup_proxy": round(sc / vp, 2),
            "speedup": round(sc / vr, 2)}))


if __name__ == "__main__":
    main()
