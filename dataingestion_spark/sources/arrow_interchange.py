"""Shared helpers for the Arrow interchange at the Avro and Arrow IPC
boundaries: readers ship decoded/native Arrow columns executor→JVM as
RecordBatches through ``mapInArrow``, writers take their shard as an
Arrow table through ``groupBy(...).applyInArrow``. No pandas crossing
on either side.

Two rules make this exact:

- **Nullability**: Arrow refuses nullable→non-nullable casts, and
  Spark's reader applies its OWN schema while ignoring batch
  nullability flags — so arrays cast to an all-nullable twin of the
  schema's Arrow types.
- **Timestamps are instants**: Spark's ``TimestampType`` is
  ``timestamp[us, tz=UTC]`` on the Arrow side, and the JVM reads the
  raw microseconds since the epoch whatever the session time zone.
  Readers cast decoded timestamps to that type (a metadata change;
  a foreign file's nanoseconds are first floored to the microsecond,
  as Spark's JVM and its non-Arrow pandas conversion do, so every
  cast stays safe); writers receive the same raw instants. A pandas
  crossing would instead localize them to the session time zone and
  turn nullable longs into float64, which is why neither side has one.
"""
from __future__ import annotations

from typing import Callable, List


def arrow_batch_builder(spark_schema, want):
    """(target type map, arrays→RecordBatch fn). Executor-side only
    (imports pyarrow lazily)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    def _nullable(t):
        if pa.types.is_struct(t):
            return pa.struct([pa.field(f.name, _nullable(f.type))
                              for f in t])
        if pa.types.is_large_list(t) or pa.types.is_list(t):
            return pa.list_(_nullable(t.value_type))
        return t

    target = {f.name: _nullable(f.type)
              for f in to_arrow_schema(spark_schema)}

    def _batch(arrays_by_name):
        out = []
        for c in want:
            arr = arrays_by_name[c]
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            if arr.type != target[c]:
                if pa.types.is_timestamp(arr.type) and arr.type.unit == "ns":
                    arr = pc.floor_temporal(arr, unit="microsecond")
                arr = arr.cast(target[c])
            out.append(arr)
        return pa.RecordBatch.from_arrays(out, names=want)

    return target, _batch


def _iter_rows(rbs):
    """Each row of a ``mapInArrow`` input as a dict, one at a time: a
    whole-file row carries its file's bytes, so the batch is never
    copied out to python at once."""
    for rb in rbs:
        for i in range(rb.num_rows):
            yield rb.slice(i, 1).to_pylist()[0]


def _write_shards(df, key: str, shards: int,
                  write_one: Callable) -> List[str]:
    """Hash-shard ``df`` on ``key`` into ``shards`` groups, sort each
    group on ``key`` (stable) and call ``write_one(shard, table)`` once
    per group inside ``applyInArrow``; it writes one file and returns
    its name. Returns the sorted names. ``table`` holds ``df``'s
    columns exactly as Spark's Arrow serializer ships them."""
    from pyspark.sql import functions as F

    sel = df.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col(key).cast("string")),
                         F.lit(shards)).cast("int"))

    def run(tbl):
        import pyarrow as pa

        shard = tbl.column("_shard")[0].as_py()
        tbl = tbl.drop_columns(["_shard"]).sort_by(key).combine_chunks()
        return pa.table({"name": [write_one(shard, tbl)],
                         "n_records": pa.array([tbl.num_rows],
                                               pa.int64())})

    manifest = (sel.groupBy("_shard").applyInArrow(
        run, "name string, n_records long").collect())
    return sorted(r["name"] for r in manifest)
