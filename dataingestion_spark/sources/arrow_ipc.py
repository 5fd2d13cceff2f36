"""Arrow IPC (Feather v2) file source and sink.

The Arrow IPC *file* format is the random-access interchange format
training loops and dataloaders read zero-copy (mmap) — the natural
hand-off between a Spark curation pipeline and a local tokenizer/
packing stage when parquet decode overhead matters. Both sides ride
pyarrow's bundled implementation; no new dependency.

Scale shape: an IPC file is a sequence of record batches with a footer
index — random-access by BATCH, but the repo's reader keeps the
one-task-per-file shape of the other byte-stream sources (TFRecord,
WARC, zstd-JSONL) because `binaryFile` delivers whole blobs; shard at
write time so files stay executor-memory sized. The writer is one task
per hash-shard with in-shard ordering, so bytes are DETERMINISTIC
given the data (same layout contract as the TFRecord/WebDataset/zstd
sinks — re-exports are idempotent, shards content-addressable).

Cited parity: the reference has no Arrow surface; this extends the
training-data interchange matrix (SURVEY.md §2-beyond) the same way
TFRecord (`sources/tfrecord.py`) and WebDataset (`sinks/webdataset.py`)
do.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

__all__ = ["read_arrow_ipc", "read_arrow_ipc_split",
           "write_arrow_ipc"]


def read_arrow_ipc(spark: SparkSession, path: str,
                   columns: Optional[List[str]] = None,
                   glob: str = "*.arrow") -> DataFrame:
    """Read a directory of Arrow IPC (Feather v2) files.

    Schema comes from the first file's footer (one driver-side read —
    explicit, not inferred per task); every file must match it, a
    mismatch fails loudly with the file name. ``columns`` prunes at the
    deserialization boundary (IPC is columnar, so unprojected columns
    are never materialized). One task per file.

    The file's own RecordBatches ship straight to the JVM via
    ``mapInArrow`` — the on-disk format IS Arrow. Timestamps keep
    their instants under any session time zone
    (`sources/arrow_interchange.py`)."""
    import pyarrow as pa

    scan = (spark.read.format("binaryFile")
            .option("pathGlobFilter", glob).load(path)
            .select("path", "content"))
    # schema comes from one FOOTER, not one whole file: collect only the
    # path (cheap metadata row) and open the footer directly when the
    # scheme is local; only a non-local scheme pays a full-blob collect
    first = scan.select("path").limit(1).collect()
    if not first:
        raise ValueError(f"no files match {glob!r} under {path}")
    fpath = first[0]["path"]
    if fpath.startswith("file:"):
        local = fpath[5:]
        while local.startswith("//"):  # file:///x and file:/x both occur
            local = local[1:]
        schema = pa.ipc.open_file(local).schema
    else:  # pragma: no cover - no object store in this image
        blob = scan.limit(1).collect()[0]["content"]
        schema = pa.ipc.open_file(pa.py_buffer(bytes(blob))).schema
    schema, spark_schema = _project(schema, columns)

    def parse(rbs):
        from .arrow_interchange import _iter_rows, arrow_batch_builder

        _target, batch = arrow_batch_builder(spark_schema, schema.names)
        for row in _iter_rows(rbs):
            reader = pa.ipc.open_file(pa.py_buffer(row["content"]))
            yield from _ship(reader, row["path"], schema, batch,
                             range(reader.num_record_batches))

    return scan.mapInArrow(parse, spark_schema)


def _project(schema, columns):
    """(projected Arrow schema, its Spark schema); unknown ``columns``
    fail loudly."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import from_arrow_schema

    if columns is not None:
        missing = [c for c in columns if c not in schema.names]
        if missing:
            raise ValueError(f"columns not in schema: {missing}")
        schema = pa.schema([schema.field(c) for c in columns])
    return schema, from_arrow_schema(schema)


def _ship(reader, fpath, schema, batch, batch_ids):
    """Check one opened file against the pinned schema, then yield its
    non-empty batches ``batch_ids`` projected and cast for Spark by
    ``batch`` (from :func:`arrow_batch_builder`)."""
    want = schema.names
    _check_file_schema(reader.schema, schema, want, fpath)
    for bi in batch_ids:
        b = reader.get_batch(bi)
        if b.num_rows:
            yield batch({c: b.column(c) for c in want})


def _check_file_schema(fschema, schema, want, fpath) -> None:
    """Every projected field must exist in the file with the exact
    footer-probed type — a mismatch names the file and field."""
    for name in want:
        expect = schema.field(name)
        if (name not in fschema.names
                or fschema.field(name).type != expect.type):
            got = (fschema.field(name).type
                   if name in fschema.names else None)
            raise ValueError(
                f"{fpath}: field {name!r} is {got}, "
                f"expected {expect.type}")


def write_arrow_ipc(df: DataFrame, out_dir: str, shards: int = 4,
                    order_by: Optional[str] = None,
                    prefix: str = "part",
                    batch_rows: int = 4096,
                    compression: Optional[str] = None) -> List[str]:
    """Write ``df`` as ``shards`` Arrow IPC (Feather v2) files.

    Rows hash-shard on ``order_by`` (default: first column) and sort
    within a shard — deterministic bytes given the data. ``batch_rows``
    sets the record-batch granularity inside each file (the unit a
    random-access consumer reads); one task per shard, written from
    the Arrow table Spark ships (``applyInArrow``) with no pandas step.
    Returns shard names.

    ``compression`` ('zstd' or 'lz4') uses the IPC format's native
    per-buffer compression — unlike whole-file gzip, the file STAYS
    random-access by batch and readers (ours included) decompress
    transparently; mmap zero-copy is traded away, which is the
    standard Feather-compressed trade."""
    import os

    if shards < 1:
        raise ValueError("shards must be >= 1")
    if compression not in (None, "zstd", "lz4"):
        raise ValueError(f"unsupported compression {compression!r} "
                         "(None, 'zstd' or 'lz4')")
    from pyspark.sql.pandas.types import to_arrow_schema

    from .arrow_interchange import _write_shards

    # the file schema is PINNED from the Spark schema: every shard
    # carries the same types (timestamps as UTC instants) whatever the
    # session time zone or the shard's content
    arrow_schema = to_arrow_schema(df.schema)
    os.makedirs(out_dir, exist_ok=True)

    def write_one(shard, tbl):
        import pyarrow as pa

        name = f"{prefix}-{shard:05d}-of-{shards:05d}.arrow"
        tmp = os.path.join(out_dir, f".{name}.tmp")
        tbl = tbl.cast(arrow_schema)
        opts = pa.ipc.IpcWriteOptions(
            compression=compression) if compression else None
        with pa.OSFile(tmp, "wb") as sink:
            with pa.ipc.new_file(sink, tbl.schema, options=opts) as w:
                for batch in tbl.to_batches(max_chunksize=batch_rows):
                    w.write_batch(batch)
        os.replace(tmp, os.path.join(out_dir, name))
        return name

    return _write_shards(df, order_by or df.columns[0], shards, write_one)


def _open_ipc(path: str, backend):
    """Random-access IPC reader handle: plain pyarrow file open for
    the local backend (lazy per-batch reads from an OSFile), a
    ``pa.PythonFile`` over the buffered :class:`RangedFile` elsewhere
    (footer + assigned batches arrive as ranged GETs)."""
    import pyarrow as pa

    from ..sinks.data_backend import LocalDataBackend, RangedFile

    if isinstance(backend, LocalDataBackend):
        return pa.ipc.open_file(path)
    return pa.ipc.open_file(pa.PythonFile(RangedFile(backend, path),
                                          mode="r"))


def _ipc_meta(path: str, backend) -> tuple:
    """(num record batches, file size) from the footer — a couple of
    small tail reads, callable driver- or executor-side."""
    size = backend.size(path)
    if size is None:
        raise FileNotFoundError(path)
    return _open_ipc(path, backend).num_record_batches, size


def read_arrow_ipc_split(spark: SparkSession, path: str,
                         columns: Optional[List[str]] = None, *,
                         split_mb: int = 128,
                         glob_pat: str = "*.arrow",
                         backend=None) -> DataFrame:
    """Scale-IN Arrow IPC reader: the file format's FOOTER indexes
    every record batch, so splitting needs no resync heuristics at all
    — the planner reads each footer (small tail reads), assigns
    contiguous batch ranges of ~``split_mb`` bytes to tasks, and each
    task random-accesses exactly its batches (``get_batch`` seeks per
    the footer's block index; unassigned batches are never read).

    Contrast :func:`read_arrow_ipc` (one ``binaryFile`` task per
    file): there parallelism = shard count and a task materializes the
    whole blob; here parallelism = corpus bytes / split_mb and a task
    touches only its own batch ranges — what one oversized Feather
    shard of embeddings needs. Same schema contract as the whole-file
    reader: pinned from the first footer, per-file type check, loud
    mismatch. ``columns`` prunes at the deserialization boundary.
    Local paths open directly; other schemes route through the
    range-read DataBackend (or pass ``backend=``). Footer probes run
    as one Spark job above 32 files. Each task's batches ship straight
    to the JVM via ``mapInArrow`` (see :func:`read_arrow_ipc`)."""
    from ..sinks.data_backend import (
        list_split_files, resolve_split_backend,
    )

    if split_mb < 1:
        raise ValueError("split_mb must be >= 1")
    backend = resolve_split_backend(path, backend)
    files = list_split_files(path, glob_pat, backend)
    if not files:
        raise ValueError(f"no files match {glob_pat!r} under {path}")
    if len(files) <= 32:
        metas = {p: _ipc_meta(p, backend) for p in files}
    else:
        bk = backend
        metas = dict(
            spark.sparkContext
            .parallelize(files, min(len(files), 256))
            .map(lambda p: (p, _ipc_meta(p, bk))).collect())

    schema, spark_schema = _project(
        _open_ipc(files[0], backend).schema, columns)

    step = split_mb << 20
    ranges = []
    for p in files:
        n_batches, size = metas[p]
        if n_batches == 0:
            continue
        per_batch = max(size // n_batches, 1)
        per_task = max(int(step // per_batch), 1)
        for lo in range(0, n_batches, per_task):
            ranges.append((p, lo, min(per_task, n_batches - lo)))
    if not ranges:  # only empty files: one no-op task keeps the shape
        ranges = [(files[0], 0, 0)]
    rdf = spark.createDataFrame(
        ranges, "path string, first long, count long"
    ).repartition(min(len(ranges), 4096))

    def decode(rbs):
        from .arrow_interchange import _iter_rows, arrow_batch_builder

        _target, batch = arrow_batch_builder(spark_schema, schema.names)
        for row in _iter_rows(rbs):
            first = row["first"]
            yield from _ship(_open_ipc(row["path"], backend), row["path"],
                             schema, batch,
                             range(first, first + row["count"]))

    return rdf.mapInArrow(decode, spark_schema)
