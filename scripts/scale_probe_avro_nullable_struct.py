"""Measure-then-decide probe for vectorized NULLABLE-record Avro
decode (r14; VERDICT r13 item 3 — bench BEFORE code, the r12 map
lesson).

``["null", record]`` is the common real-world Avro shape (Kafka-ish
schemas wrap structs in a nullable union). On the wire a nullable
record is ONE zigzag branch varint per row, followed by the record's
fields only when the branch selects the record — so the vectorized
form is: a branch wave producing a validity mask, child waves running
on the masked (reduced) row set, and ``pa.StructArray`` taking the
mask natively at assembly.

Proxy kernels (no decoder written yet):

* scalar    — `read_container` on the NULLABLE-nested file + one
  ``pa.array`` per column: the readers' scalar fallback (the
  shipping path before r14, when the plan gate declined nullable
  records).
* vec_proxy — the r13 vectorized decode of the NON-NULL twin (same
  rows, null structs replaced by a present struct — slightly MORE wire
  bytes than the real nullable file, so the proxy under-states the
  win) + the mask application the real decoder would add: a zigzag
  branch wave over one byte per row and the struct rebuilt under a
  validity mask.
* vec       — the SHIPPED r14 path: `read_container_columnar` on the
  nullable file itself (record_group branch wave + masked substeps +
  StructArray mask). Added after the proxy cleared the bar at
  2.7x/3.8x.

Implement only if vec_proxy clears ~1.5x at both sizes.

Usage: python scripts/scale_probe_avro_nullable_struct.py [reps]
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

NULLABLE = {"type": "record", "name": "r", "fields": [
    {"name": "id", "type": "long"},
    {"name": "text", "type": ["null", "string"], "default": None},
    {"name": "inner", "type": ["null", {
        "type": "record", "name": "i", "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"},
            {"name": "c", "type": "double"}]}], "default": None}]}

NONNULL_TWIN = {"type": "record", "name": "r", "fields": [
    {"name": "id", "type": "long"},
    {"name": "text", "type": ["null", "string"], "default": None},
    {"name": "inner", "type": {"type": "record", "name": "i", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},
        {"name": "c", "type": "double"}]}}]}

NULL_EVERY = 5  # 20% null structs — a realistic optional-field rate


def _rows(n, nullable):
    out = []
    for i in range(n):
        inner = {"a": i * 3, "b": f"tag-{i % 997}", "c": i * 0.25}
        if nullable and i % NULL_EVERY == 0:
            inner = None
        out.append({
            "id": i,
            "text": None if i % 7 == 0 else "lorem ipsum " * (i % 5),
            "inner": inner})
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
        write_container(pn, NULLABLE, _rows(n, True))
        write_container(pf, NONNULL_TWIN, _rows(n, False))
        nullable_blob = open(pn, "rb").read()
        twin_blob = open(pf, "rb").read()
        os.remove(pn)
        os.remove(pf)

        mask = np.arange(n) % NULL_EVERY == 0
        branch_bytes = np.where(mask, 0, 2).astype(np.uint8)

        def scalar():
            _, rows = read_container(nullable_blob, "probe")
            return {c: pa.array([r.get(c) for r in rows])
                    for c in ("id", "text", "inner")}

        def vec_proxy():
            # r13 non-null struct decode...
            _, cols = read_container_columnar(twin_blob, "probe")
            assert cols is not None, "non-null twin fell back"
            # ...plus the work the nullable decoder would ADD: one
            # zigzag branch wave over a byte per row and the struct
            # rebuilt under the validity mask
            b = branch_bytes.astype(np.int64)
            _ = (b >> 1) ^ -(b & 1)  # zigzag wave cost stand-in
            inner = cols["inner"]
            cols["inner"] = pa.StructArray.from_arrays(
                inner.flatten(), [f.name for f in inner.type],
                mask=pa.array(mask))
            return cols

        def vec():
            _, cols = read_container_columnar(nullable_blob, "probe")
            assert cols is not None, "nullable struct fell back"
            return cols

        sc = _time(scalar, reps)
        vp = _time(vec_proxy, reps)
        vr = _time(vec, reps)
        # the proxy and the shipped path must produce the scalar
        # result exactly
        want = scalar()["inner"][:50].to_pylist()
        assert vec_proxy()["inner"][:50].to_pylist() == want
        assert vec()["inner"][:50].to_pylist() == want
        print(json.dumps({
            "kernel": "avro_nullable_record", "rows": n,
            "mb": round(len(nullable_blob) / 1e6, 1),
            "null_rate": round(1 / NULL_EVERY, 2),
            "scalar_s": round(sc, 3), "vec_proxy_s": round(vp, 3),
            "vec_s": round(vr, 3),
            "speedup_proxy": round(sc / vp, 2),
            "speedup": round(sc / vr, 2)}))


if __name__ == "__main__":
    main()
