"""WebDataset-style tar shard export.

Training loaders (WebDataset, torchdata, NeMo) stream samples from tar
shards: members grouped by a basename key, extension = field
(``000123.txt``, ``000123.json``, …), shards sized for sequential
reads. This sink turns a DataFrame into those shards with Spark doing
the heavy lifting: one ``applyInArrow`` group per shard (the shard is
the parallel unit — 100 TB is just more shards), members sorted by key
inside each shard, and a manifest row per shard back to the planner.

Determinism is part of the contract: fixed USTAR format, mtime=0,
uid/gid=0, mode 0644, sorted members — the same rows always produce
byte-identical shards, so shard files can be content-addressed and
re-exports are idempotent. The archive size is a closed form of the
member sizes (512-byte header + payload rounded up to 512 per member,
1024-byte end marker, whole archive padded to the 10240-byte record
size), which is what the driver oracle checks.

The reference's sinks write per-chunk rows to vector stores
(``src/Microsoft.Extensions.DataIngestion/Writers/VectorStoreWriter.cs``);
tar-shard export is part of the beyond-reference training-data surface.
Executors write shards with local file APIs — point ``out_dir`` at a
fuse mount (or swap ``open`` for an fsspec handle) for object storage.
"""

from __future__ import annotations

import io
import os
import tarfile
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MANIFEST_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("n_members", IntegerType()),
        StructField("tar_nbytes", LongType()),
        StructField("first_key", StringType()),
        StructField("last_key", StringType()),
    ]
)


def build_tar_bytes(members: List[Tuple[str, bytes]]) -> bytes:
    """Byte-deterministic USTAR archive from (name, payload) members."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            info.mode = 0o644
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def tar_size_closed_form(member_sizes: List[int]) -> int:
    """What ``len(build_tar_bytes(...))`` must return — kept next to the
    builder so the invariant is stated once (the DuckDB oracle mirrors
    this arithmetic)."""
    body = sum(512 + (s + 511) // 512 * 512 for s in member_sizes) + 1024
    return (body + 10239) // 10240 * 10240


def write_webdataset(
    df: DataFrame,
    out_dir: Optional[str],
    shard_col: str = "shard_id",
    key_col: str = "key",
    text_col: str = "text",
    meta_col: Optional[str] = "meta",
) -> DataFrame:
    """Export ``df`` as WebDataset tar shards; returns the manifest.

    Each row becomes ``{key}.txt`` (+ ``{key}.json`` when ``meta_col``
    is set, already-serialized JSON strings). Rows are sorted by key
    within the shard. ``out_dir=None`` builds every archive in memory
    and returns the manifest without writing — the dry-run/audit path.

    A member holds ``str()`` of its cell: the shard crosses as Arrow,
    so a long above 2^53 is written exactly and a float NaN as ``nan``.
    A null cell writes no member, the way a WebDataset sample lacks a
    field.
    """
    fields = [text_col] + ([meta_col] if meta_col else [])
    cols = [shard_col, key_col] + fields

    def export(tbl):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        rows = tbl.sort_by(key_col).to_pylist()
        shard_id = int(rows[0][shard_col])
        members: List[Tuple[str, bytes]] = []
        for row in rows:
            key = str(row[key_col])
            for col, ext in zip(fields, ("txt", "json")):
                if row[col] is not None:
                    members.append((f"{key}.{ext}", str(row[col]).encode()))
        data = build_tar_bytes(members)
        assert len(data) == tar_size_closed_form([len(d) for _, d in members])
        if out_dir is not None:
            os.makedirs(out_dir, exist_ok=True)
            tmp = os.path.join(out_dir, f".shard-{shard_id:05d}.tar.tmp")
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.replace(tmp, os.path.join(out_dir, f"shard-{shard_id:05d}.tar"))
        return pa.Table.from_pylist(
            [{"shard_id": shard_id, "n_members": len(members),
              "tar_nbytes": len(data), "first_key": str(rows[0][key_col]),
              "last_key": str(rows[-1][key_col])}],
            schema=to_arrow_schema(MANIFEST_SCHEMA))

    return (
        df.select(*cols).groupBy(shard_col).applyInArrow(export, MANIFEST_SCHEMA)
    )


MEMBER_SCHEMA = StructType(
    [StructField(c, StringType()) for c in ("path", "key", "ext", "payload")]
)


def _member_batch(rows: List[Tuple[str, str, str, str]]):
    """(path, key, ext, payload) tuples as one RecordBatch of
    :data:`MEMBER_SCHEMA` (executor side)."""
    import pyarrow as pa

    cols = list(zip(*rows)) or [()] * len(MEMBER_SCHEMA.fields)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, pa.string()) for c in cols], names=MEMBER_SCHEMA.names)


def _tar_member_parser():
    """mapInArrow parse fn over (path, content) rows — shared by the
    batch scan and the streaming landing-dir tail."""
    from ..sources.arrow_interchange import _iter_rows

    def run(batches) -> Iterator:
        for row in _iter_rows(batches):
            p, rows = row["path"], []
            with tarfile.open(fileobj=io.BytesIO(row["content"])) as tf:
                for info in tf.getmembers():
                    base, _, ext = info.name.rpartition(".")
                    payload = tf.extractfile(info).read().decode("utf-8", "replace")
                    rows.append((p, base, ext, payload))
            yield _member_batch(rows)

    return run


def read_webdataset(spark, path: str) -> DataFrame:
    """Shards → (shard, key, ext, payload) rows — the loader-side check
    that exported shards are readable; binaryFile scan, one tar per
    task."""
    from ..sources.markdown import binary_file_scan

    return binary_file_scan(spark, path, glob="*.tar").mapInArrow(
        _tar_member_parser(), MEMBER_SCHEMA)


def stream_webdataset(spark, path: str, glob: str = "*.tar",
                      max_files_per_trigger=None) -> DataFrame:
    """Streaming twin of :func:`read_webdataset`: tail a landing
    directory of WebDataset tar shards (an export pipeline's output)
    with checkpointed exactly-once shard discovery; member parsing is
    the batch reader's code via `_tar_member_parser`, so the row
    contract cannot drift. ``max_files_per_trigger`` paces catch-up."""
    from ..sources.markdown import stream_binary_files

    return stream_binary_files(
        spark, path, glob,
        max_files_per_trigger=max_files_per_trigger
    ).mapInArrow(_tar_member_parser(), MEMBER_SCHEMA)


# ---------------------------------------------------------------------------
# scale-IN: byte-range splitting of tar shards (USTAR headers are
# checksum-validated, 512-aligned structures — resync is exact)

def _wds_sniff_meta(path: str, backend):
    """(magic, file size, pax-global overrides, data start) for split
    planning — callable driver- or executor-side.

    HEAD-of-archive pax GLOBAL (g) members (``git archive`` and some
    exporters emit one at offset 0) are captured HERE, once per file:
    their ``path``/``size`` overrides ship to every task as defaults
    and ``data_start`` tells task 0 where real members begin, so the
    split reader handles the common global shape without the loud
    refusal it keeps for MID-archive globals (state a byte-range task
    genuinely cannot see)."""
    head = backend.read_range(path, 0, 1024)
    size = backend.size(path)
    if head is None or size is None:
        raise FileNotFoundError(path)
    magic = head[257:262]
    gl: dict = {}
    data_start = 0
    while True:
        blk = head[data_start:data_start + 512]
        if len(blk) < 512:
            blk = backend.read_range(path, data_start, 512) or b""
        h = _tar_header(blk)
        if h is None or h[2] != b"g":
            break
        payload = backend.read_range(path, data_start + 512, h[1])
        if payload is None or len(payload) < h[1]:
            raise ValueError(
                f"{path}: truncated pax GLOBAL header at byte "
                f"{data_start}")
        px = _parse_pax(payload, where=f"{path} @ byte {data_start}")
        gl.update({k: v for k, v in px.items()
                   if k in ("path", "size")})
        data_start = _next_at(data_start, h[1])
    return magic, size, gl, data_start


def _tar_header(blk: bytes):
    """(member name, payload size, typeflag) if ``blk`` is a valid
    USTAR header (magic at 257 + stored checksum matches the spec sum
    with the chksum field read as spaces), else None."""
    if len(blk) < 512 or blk[257:262] != b"ustar":
        return None
    try:
        stored = int(blk[148:156].replace(b"\x00", b" ").strip() or b"0", 8)
        size = int(blk[124:136].replace(b"\x00", b" ").strip() or b"0", 8)
    except ValueError:
        return None
    if sum(blk[:148]) + 8 * 32 + sum(blk[156:512]) != stored:
        return None
    name = blk[0:100].split(b"\x00", 1)[0].decode("utf-8", "replace")
    prefix = blk[345:500].split(b"\x00", 1)[0].decode("utf-8", "replace")
    if prefix:
        name = prefix + "/" + name
    return name, size, blk[156:157]


#: extension typeflags that PREFIX a member's real header: GNU longname
#: (L) / longlink (K), pax per-file records (x). A pax GLOBAL header
#: (g) sets defaults for every later member — state a byte-range task
#: cannot see — so it still raises in the split path.
_EXT_FLAGS = (b"L", b"K", b"x")
#: how far a resync walks BACK over a candidate's preceding extension
#: headers (blocks). Pax path/size records and GNU longnames are well
#: under 32 KB; payload bytes aliasing a checksummed ext header that
#: chains exactly onto the candidate is the same (documented)
#: tar-in-tar caveat the forward resync already carries.
_EXT_BACK_BLOCKS = 64


def _parse_pax(payload: bytes, *, where: str = "pax payload") -> dict:
    """Decode pax extended-header records (POSIX.1-2001:
    ``"%d %s=%s\\n" % (length, keyword, value)`` where *length* counts
    the whole record, digits and newline included). ``where`` names the
    payload's location (path + byte offset) so a malformed or truncated
    record surfaces in the reader's own error style instead of a bare
    ``index``/``int`` ValueError."""
    out = {}
    pos = 0
    while pos < len(payload):
        try:
            sp = payload.index(b" ", pos)
            rec_len = int(payload[pos:sp])
        except ValueError:
            raise ValueError(
                f"{where}: malformed pax record at payload offset {pos}")
        rec = payload[pos:pos + rec_len]
        if rec_len <= 0 or not rec.endswith(b"\n"):
            raise ValueError(
                f"{where}: malformed pax record at payload offset {pos} "
                "(bad length or missing trailing newline)")
        key, _, val = rec[sp - pos + 1:-1].partition(b"=")
        out[key.decode("utf-8")] = val.decode("utf-8")
        pos += rec_len
    return out


def _next_at(off: int, payload: int) -> int:
    return off + 512 + (payload + 511) // 512 * 512


def _seq_owner(fh, at: int) -> int:
    """First header offset of the member SEQUENCE whose real header
    sits at ``at`` — walks back over immediately-preceding GNU/pax
    extension headers that chain exactly onto ``at`` (ext payloads span
    blocks, so the owner may be several blocks back)."""
    owner = at
    moved = True
    while moved:
        moved = False
        for back in range(1, _EXT_BACK_BLOCKS + 1):
            q = owner - 512 * back
            if q < 0:
                break
            fh.seek(q)
            h = _tar_header(fh.read(512))
            if (h is not None and h[2] in _EXT_FLAGS
                    and _next_at(q, h[1]) == owner):
                owner = q
                moved = True
                break
    return owner


def _read_tar_span(path: str, start: int, end: int, size: int,
                   backend=None, globals_: Optional[dict] = None,
                   data_start: int = 0) -> List[Tuple[str, bytes]]:
    """(member name, payload) for every member whose SEQUENCE (GNU/pax
    extension headers included) starts in [start, end). Headers are
    512-aligned from file start, so resync = first aligned offset >=
    start whose block passes the checksum AND whose implied next header
    also validates (or is the end marker / EOF / inside the final
    partial padding); a candidate that is the real header of a sequence
    whose extension headers began before ``start`` belongs to the
    previous task and is skipped. ``globals_``/``data_start`` carry the
    planner-probed HEAD-of-archive pax GLOBAL overrides (r14): members
    default to them (per-member x records win), scanning starts past
    the global sequence, and a g header at any LATER offset still
    refuses loudly."""
    from ..sinks.data_backend import open_split, resolve_split_backend

    gdefaults = dict(globals_ or {})
    with open_split(path, resolve_split_backend(path, backend)) as fh:
        def _ok_at(off: int):
            fh.seek(off)
            return _tar_header(fh.read(512))

        def _chains(cand: int, h) -> bool:
            nxt = _next_at(cand, h[1])
            if nxt > size:
                return False        # payload would extend past EOF
            if nxt + 512 > size:
                return True         # last member; no room for another
            fh.seek(nxt)
            blk = fh.read(512)
            return (not blk or blk == b"\x00" * 512
                    or _tar_header(blk) is not None)

        if start == 0:
            pos = data_start
        else:
            pos = None
            cand = max((start + 511) // 512 * 512, data_start)
            while cand + 512 <= size:
                h = _ok_at(cand)
                if h is not None and _chains(cand, h):
                    owner = _seq_owner(fh, cand)
                    if owner >= start:
                        pos = owner
                        break
                    # sequence claimed by the previous split: walk it
                    # from its OWNER (pax size overrides may live in
                    # ext headers before `start`), skip past the real
                    # member, then keep scanning synchronized
                    p = owner
                    fh.seek(p)
                    h2 = _tar_header(fh.read(512))
                    psize = (int(gdefaults["size"])
                             if "size" in gdefaults else None)
                    while h2 is not None and h2[2] in _EXT_FLAGS:
                        if h2[2] == b"x":
                            pdata = fh.read(h2[1])
                            if len(pdata) < h2[1]:
                                raise ValueError(
                                    f"{path}: truncated extension at "
                                    f"byte {p}")
                            px = _parse_pax(
                                pdata, where=f"{path} @ byte {p}")
                            if "size" in px:
                                psize = int(px["size"])
                        p = _next_at(p, h2[1])
                        fh.seek(p)
                        h2 = _tar_header(fh.read(512))
                    if h2 is None:
                        raise ValueError(
                            f"{path}: corrupt tar header at byte {p}")
                    cand = _next_at(
                        p, h2[1] if psize is None else psize)
                    continue
                cand += 512
            if pos is None or pos >= end:
                return []
        rows: List[Tuple[str, bytes]] = []
        while pos < end and pos + 512 <= size:
            fh.seek(pos)
            blk = fh.read(512)
            if blk == b"\x00" * 512:   # end-of-archive marker
                break
            h = _tar_header(blk)
            if h is None:
                raise ValueError(f"{path}: corrupt tar header at "
                                 f"byte {pos}")
            # chain through this sequence's extension headers — they
            # may cross `end`; the sequence START owning the member is
            # what keeps splits exactly-once. Planner-probed globals
            # seed the overrides; per-member records win (POSIX pax
            # precedence)
            overrides: dict = dict(gdefaults)
            while h[2] in _EXT_FLAGS:
                if h[1] > 512 * (_EXT_BACK_BLOCKS - 1):
                    # larger than the resync back-walk can see — a
                    # LATER split boundary could double- or zero-count
                    # this member, so refuse here, deterministically
                    raise ValueError(
                        f"{path}: extension payload of {h[1]} bytes "
                        f"at byte {pos} exceeds the split reader's "
                        f"{512 * (_EXT_BACK_BLOCKS - 1)}-byte bound — "
                        "use read_webdataset")
                data = fh.read(h[1])
                if len(data) < h[1]:
                    raise ValueError(
                        f"{path}: truncated extension at byte {pos}")
                if h[2] == b"L":
                    overrides["path"] = \
                        data.split(b"\x00", 1)[0].decode(
                            "utf-8", "replace")
                elif h[2] == b"x":
                    px = _parse_pax(data, where=f"{path} @ byte {pos}")
                    overrides.update(
                        {k: v for k, v in px.items()
                         if k in ("path", "size")})
                # K (longlink) applies to link targets only — consumed
                pos = _next_at(pos, h[1])
                if pos + 512 > size:
                    raise ValueError(
                        f"{path}: extension header at EOF")
                fh.seek(pos)
                h = _tar_header(fh.read(512))
                if h is None:
                    raise ValueError(
                        f"{path}: corrupt tar header at byte {pos}")
            name, psize, tf = h
            if tf == b"g":
                raise ValueError(
                    f"{path}: MID-archive pax GLOBAL header at byte "
                    f"{pos} sets archive-wide state a byte-range task "
                    "cannot see (head-of-archive globals are planner-"
                    "captured) — use read_webdataset")
            name = overrides.get("path", name)
            psize = int(overrides.get("size", psize))
            if tf in (b"0", b"\x00"):
                data = fh.read(psize)
                if len(data) < psize:
                    raise ValueError(
                        f"{path}: truncated member at byte {pos}")
                rows.append((name, data))
            pos = _next_at(pos, psize)
        return rows


def read_webdataset_split(spark, path: str, *, split_mb: int = 128,
                          glob_pat: str = "*.tar", backend=None
                          ) -> DataFrame:
    """Scale-IN WebDataset reader: byte-range splits of tar shards, so
    one oversized shard fans out across executors instead of one task.

    Every USTAR header is 512-aligned and carries a checksum, so a
    task landing mid-payload resyncs EXACTLY: scan aligned offsets,
    validate the checksum, and require the implied next header (or the
    end marker / EOF) to validate too — payload bytes that happen to
    look like a header fail the chain. A member belongs to the split
    its header starts in. Same row contract as :func:`read_webdataset`
    ((path, key, ext, payload) per member — a sample whose members
    straddle a boundary emits from two tasks, exactly as the
    whole-file reader emits per member). GNU longname (L/K) and pax
    per-file (x) extension headers chain through: a member is owned by
    the split its SEQUENCE starts in, with `path`/`size` overrides
    honored — python's tarfile writes pax BY DEFAULT, so foreign
    shards commonly carry them. HEAD-of-archive pax GLOBAL (g)
    members (the ``git archive`` shape) are captured by the planner's
    per-file probe and their overrides shipped to every task (r14);
    a g header anywhere PAST the head still raises loudly (archive-
    wide state a byte-range task cannot see; the tarfile-backed
    whole-file reader handles those).
    Caveat: a payload that is ITSELF a 512-aligned USTAR archive
    (tar-in-tar) can capture a resync — its inner headers chain
    validly — so such corpora must use :func:`read_webdataset`; the
    text/json members this sink writes cannot alias.
    Local paths seek with ``open()``; other schemes route through the
    range-read DataBackend, like the avro/tfrecord/warc/jsonl.zst/
    arrow split readers."""
    from ..sinks.data_backend import (
        list_split_files, resolve_split_backend,
    )

    if split_mb < 1:
        raise ValueError("split_mb must be >= 1")
    backend = resolve_split_backend(path, backend)
    files = list_split_files(path, glob_pat, backend)
    if not files:
        raise ValueError(f"no files match {glob_pat!r} under {path}")
    # distributed probes above 32 files, like the other split planners
    if len(files) <= 32:
        probes = {p: _wds_sniff_meta(p, backend) for p in files}
    else:
        bk = backend
        probes = dict(
            spark.sparkContext
            .parallelize(files, min(len(files), 256))
            .map(lambda p: (p, _wds_sniff_meta(p, bk))).collect())
    metas = {}
    for p in files:
        magic, fsize, gl, data_start = probes[p]
        if magic != b"ustar":
            raise ValueError(f"{p}: not a USTAR archive")
        metas[p] = fsize
    # head-of-archive pax GLOBAL overrides + member-data start, per
    # file — shipped to every task (small: the probe bounds the walk
    # to the first KBs); empty for the overwhelmingly common case
    gmap = {p: (probes[p][2], probes[p][3]) for p in files
            if probes[p][2] or probes[p][3]}

    step = split_mb << 20
    ranges = []
    for p in files:
        fsize = metas[p]
        lo = 0
        while lo < fsize:
            hi = min(lo + step, fsize)
            ranges.append((p, lo, hi, fsize))
            lo = hi
    rdf = spark.createDataFrame(
        ranges, "path string, start long, end long, size long"
    ).repartition(min(len(ranges), 4096))

    from ..sources.arrow_interchange import _iter_rows

    def run(batches) -> Iterator:
        for row in _iter_rows(batches):
            p, rows = row["path"], []
            gl, ds = gmap.get(p, ({}, 0))
            for name, data in _read_tar_span(
                    p, row["start"], row["end"], row["size"],
                    backend=backend, globals_=gl, data_start=ds):
                base, _, ext = name.rpartition(".")
                rows.append((p, base, ext, data.decode("utf-8", "replace")))
            yield _member_batch(rows)

    return rdf.mapInArrow(run, MEMBER_SCHEMA)
