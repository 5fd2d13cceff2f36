"""Measure-then-decide probe for vectorized NESTED-RECORD Avro decode
(r13; VERDICT r12 item 5 — the map-decode lesson says bench BEFORE
code).

A record-of-scalars is wire-identical to its fields inlined in order,
so the vectorized implementation (landed r13 after this probe's proxy
measurement cleared the ~1.5x bar at 3.2-4.1x) flattens nested records
into the existing wave plan and assembles a ``pa.StructArray`` from
the child arrays at finalize. Kernels:

* scalar  — `read_container` on the NESTED file + one ``pa.array``
  per column (the readers' scalar fallback);
* vec     — `read_container_columnar` on the nested file: the REAL
  shipped path, ending at the Arrow arrays the readers hand to
  ``mapInArrow`` (until the readers went Arrow-only this kernel also
  paid a struct→dicts pandas crossing);
* vec_pa  — decode of the flat twin + StructArray assembly: the
  floor of the flattening design, recorded for the SCALE.md note.

Prints one JSON line per size; paste into SCALE.md.

Usage: python scripts/scale_probe_avro_struct.py [reps]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SIZES = (200_000, 1_000_000)

NESTED = {"type": "record", "name": "r", "fields": [
    {"name": "id", "type": "long"},
    {"name": "text", "type": ["null", "string"], "default": None},
    {"name": "inner", "type": {"type": "record", "name": "i", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},
        {"name": "c", "type": "double"}]}}]}

FLAT_TWIN = {"type": "record", "name": "r", "fields": [
    {"name": "id", "type": "long"},
    {"name": "text", "type": ["null", "string"], "default": None},
    {"name": "inner_a", "type": "long"},
    {"name": "inner_b", "type": "string"},
    {"name": "inner_c", "type": "double"}]}


def _nested_rows(n):
    return [{"id": i,
             "text": None if i % 7 == 0 else "lorem ipsum " * (i % 5),
             "inner": {"a": i * 3, "b": f"tag-{i % 997}",
                       "c": i * 0.25}} for i in range(n)]


def _flat_rows(n):
    return [{"id": i,
             "text": None if i % 7 == 0 else "lorem ipsum " * (i % 5),
             "inner_a": i * 3, "inner_b": f"tag-{i % 997}",
             "inner_c": i * 0.25} for i in range(n)]


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
        write_container(pn, NESTED, _nested_rows(n))
        write_container(pf, FLAT_TWIN, _flat_rows(n))
        nested_blob = open(pn, "rb").read()
        flat_blob = open(pf, "rb").read()
        os.remove(pn)
        os.remove(pf)
        # per-row wire bytes identical: headers differ (schema JSON)
        assert abs(len(nested_blob) - len(flat_blob)) < 4096

        def scalar():
            _, rows = read_container(nested_blob, "probe")
            return {c: pa.array([r.get(c) for r in rows])
                    for c in ("id", "text", "inner")}

        def vec():
            # the REAL path since r13: decode_blocks_columnar flattens
            # the nested record and assembles the struct at finalize
            _, cols = read_container_columnar(nested_blob, "probe")
            assert cols is not None, "nested record fell back"
            return cols

        def vec_proxy_pa():
            # arrow-native floor (no struct→dicts crossing): decode the
            # flat twin and stop at the StructArray
            _, cols = read_container_columnar(flat_blob, "probe")
            child = [pa.array(cols[k]) for k in
                     ("inner_a", "inner_b", "inner_c")]
            return pa.StructArray.from_arrays(child, ["a", "b", "c"])

        s = _time(scalar, reps)
        v = _time(vec, reps)
        vp = _time(vec_proxy_pa, reps)
        # equivalence spot-check of the proxy itself
        a, b = scalar(), vec()
        assert a["inner"][5].as_py() == b["inner"][5].as_py()
        print(json.dumps({
            "kernel": "avro_nested_record", "rows": n,
            "mb": round(len(nested_blob) / 1e6, 1),
            "scalar_s": round(s, 3), "vec_s": round(v, 3),
            "vec_pa_s": round(vp, 3),
            "speedup": round(s / v, 2),
            "speedup_arrow_native": round(s / vp, 2)}))


if __name__ == "__main__":
    main()
