"""Manifest-based versioned vector table: O(changed-buckets) incremental
replace on plain parquet.

The plain-parquet replace in ``vector_store.py`` rewrites the whole table.
This store removes that limit with the core idea of transactional table
formats (Delta/Iceberg), reduced to what the replace-by-document contract
needs:

* data files live under ``<table>/files/`` named ``b{bucket}-{uuid}.parquet``,
  one or more per doc_bucket (bucket = crc32(documentid) % N_BUCKETS, the
  same layout key the writer already uses);
* a manifest ``manifest-{version}.json`` lists the files of each bucket for
  that version; the CONDITIONAL PUT of the manifest (``commit_backend.py``)
  is the commit point — natively supported by S3/GCS/Azure as well as POSIX
  — and ``_CURRENT`` is a best-effort pointer hint readers probe past;
* incremental replace reads ONLY the buckets containing replaced documents,
  anti-joins the old rows, writes fresh files for those buckets, and commits
  a manifest that reuses every untouched file — old versions stay readable
  (time travel) until vacuumed.

Crash-safety ordering matches the reference's insert-before-delete
(``VectorStoreWriter.cs:76-108``): new files are fully written before the
manifest swap; nothing is deleted at commit time (``vacuum`` is explicit).

Two scale features on top of the bucket layout (both optional in the
manifest — older manifests read fine):

* **per-file stats** (``stats``: file → min/max ``documentid`` + row count,
  harvested from the parquet footers at write time) let point lookups prune
  to the files whose range can contain the requested ids —
  :func:`read_documents` reads O(matching files), not O(bucket);
* **equality deletion vectors** (``deletes``: bucket → delete-file names;
  ``seq``: file → commit version) make deletes and replaces O(batch):
  :func:`delete_documents` / ``incremental_replace(mode="dv")`` append a
  tiny parquet of deleted ``documentid`` s instead of rewriting the bucket.
  A delete applies only to data files with a STRICTLY SMALLER sequence
  number (the Iceberg equality-delete rule), so a replace commit can carry
  both the new rows and the delete vector: same sequence ⇒ the new rows
  survive. :func:`compact` materialises the deletes and drops the vectors.
"""

from __future__ import annotations

import json
import uuid
import zlib
from typing import Dict, Iterable, List, Optional, Tuple

from pyspark.sql import DataFrame, functions as F

from ..partitioning import local_frame
from .commit_backend import backend_for
from .vector_store import N_BUCKETS  # single source for the layout constant

_CURRENT = "_CURRENT"


def _join(table: str, *parts: str) -> str:
    """Path join that preserves URI schemes (os.path.join mangles
    ``s3://`` on some platforms)."""
    return "/".join([table.rstrip("/"), *parts])


def _bucket_col() -> F.Column:
    # must stay identical to vector_store.build_vector_records' doc_bucket
    # and get_document's zlib.crc32 — all three derive from N_BUCKETS above
    return (F.crc32(F.col("documentid").cast("binary")) % N_BUCKETS).cast("int")


def _manifest_path(table: str, version: int) -> str:
    return _join(table, f"manifest-{version:06d}.json")


def _data_delete(table: str, name: str) -> None:
    """Remove an uncommitted data-plane file (DV written for a bucket
    with no pre-existing files) through the table's data backend."""
    from .data_backend import data_backend_for

    data_backend_for(table).delete(_join(table, "files", name))


def current_version(table: str) -> Optional[int]:
    """Live version = the highest committed manifest. ``_CURRENT`` is a
    HINT that may lag one swap behind (a writer can die between the
    manifest claim — the commit point — and the pointer write), so the
    reader probes forward from the hint until the first missing
    manifest. Claims are strictly sequential (version N+1 is only ever
    claimed when N exists), so the first gap is the end of the log."""
    be = backend_for(table)
    text = be.read_text(_join(table, _CURRENT))
    v = None if text is None else int(text.strip())
    probe = 0 if v is None else v + 1
    while True:
        nxt = be.read_text(_manifest_path(table, probe))
        if nxt is None:
            return v
        try:  # claims are atomic, so an unparseable manifest is external
            json.loads(nxt)  # garbage, not a commit — the log ends before it
        except json.JSONDecodeError:
            return v
        v = probe
        probe += 1


# Full-state manifest cadence. Version v % N == 0 stores the complete
# table state (the Delta "checkpoint" analog); other versions store a
# DELTA against their predecessor — O(changed entries), not O(table) —
# so a 1-row append to a million-file table commits a small document
# instead of rewriting every file's stats. Readers reconstruct by
# walking at most N-1 deltas back to the nearest full manifest.
_CHECKPOINT_EVERY = 10

# map-shaped sections diffed per entry in delta manifests; everything
# else (version/ts/op/schema/txn/constraints/bloom_cols) is small and
# stored verbatim in EVERY manifest, so probes and history never replay
_DIFF_KEYS = ("buckets", "stats", "seq", "deletes", "ext")


def _delta_doc(state: Dict, base: Dict) -> Dict:
    """``state`` encoded as a delta against ``base`` (its predecessor):
    per diffed section, changed/new entries under ``<key>+`` and removed
    entry names under ``<key>-``; small keys verbatim. Exactly the keys
    present in ``state`` reconstruct — a small key dropped by the commit
    (e.g. pruned empty constraints) stays dropped on replay."""
    d: Dict = {}
    for k in _DIFF_KEYS:
        new, old = state.get(k) or {}, base.get(k) or {}
        add = {x: v for x, v in new.items() if x not in old or old[x] != v}
        rem = [x for x in old if x not in new]
        if k in ("buckets", "deletes") and add:
            # list-valued sections grow by appending (append/DV commits
            # extend the per-bucket list): when the old list is a prefix
            # of the new, ship only the SUFFIX — an append to a bucket of
            # F files costs O(new names), not O(F)
            ext = {x: v[len(old[x]):] for x, v in add.items()
                   if x in old and isinstance(v, list)
                   and v[:len(old[x])] == old[x]}
            if ext:
                d[k + "^"] = ext
                add = {x: v for x, v in add.items() if x not in ext}
        if add:
            d[k + "+"] = add
        if rem:
            d[k + "-"] = rem
    small = {k: v for k, v in state.items() if k not in _DIFF_KEYS}
    return {**small, "base": base["version"], "d": d}


def read_manifest(table: str, version: Optional[int] = None) -> Dict:
    """The complete state of ``version`` (default: head). Delta manifests
    reconstruct by replaying forward from the nearest full manifest —
    at most ``_CHECKPOINT_EVERY - 1`` small reads; full manifests (and
    every manifest of a pre-delta table) return as stored."""
    v = current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table}")
    be = backend_for(table)
    chain: List[Dict] = []
    w = v
    while True:
        text = be.read_text(_manifest_path(table, w))
        if text is None:
            raise FileNotFoundError(_manifest_path(table, w))
        doc = json.loads(text)
        if "base" not in doc:
            state = doc
            break
        chain.append(doc)
        w = doc["base"]
    for doc in reversed(chain):
        nxt: Dict = {}
        for k in _DIFF_KEYS:
            merged = dict(state.get(k) or {})
            for x in doc.get("d", {}).get(k + "-", []):
                merged.pop(x, None)
            merged.update(doc.get("d", {}).get(k + "+", {}))
            for x, suffix in doc.get("d", {}).get(k + "^", {}).items():
                merged[x] = list(merged.get(x) or []) + suffix
            if merged:
                nxt[k] = merged
        for k, val in doc.items():
            if k not in ("d", "base"):
                nxt[k] = val
        nxt.setdefault("buckets", {})  # the one section readers index raw
        state = nxt
    return state


class ConcurrentWriteError(RuntimeError):
    """Another writer committed since this transaction read the table."""


class ConstraintViolation(ValueError):
    """A data-adding commit carried rows failing a table CHECK constraint."""


def _enforce_constraints(df: DataFrame, constraints: Dict[str, str]) -> None:
    """Reject the BATCH if any row fails any registered constraint
    (Delta CHECK semantics: a row violates when the expr is FALSE; NULL
    passes, SQL style). One Spark job total regardless of constraint
    count — all exprs evaluate in a single filter pass, and the error
    names the failed constraint(s) of the first violating row. Runs
    BEFORE the manifest commit; files already written by a rejected
    batch stay invisible orphans until vacuum. Tables without
    constraints pay nothing."""
    if not constraints:
        return
    checks = [
        F.when(~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True)),
               F.lit(name))
        for name, expr in sorted(constraints.items())
    ]
    hit = (
        df.withColumn("_failed", F.array_compact(F.array(*checks)))
        .filter(F.size("_failed") > 0)
        .limit(1).collect()
    )
    if hit:
        row = hit[0]
        failed = list(row["_failed"])
        doc = row["documentid"] if "documentid" in row.__fields__ else "?"
        raise ConstraintViolation(
            f"batch violates CHECK constraint(s) {failed} "
            f"(first offending documentid: {doc!r}); "
            f"exprs: {[constraints[n] for n in failed]}")


_BLOOM_BITS = 2048  # 256 bytes/file in the manifest; ~1% FP at ~200 ids
_BLOOM_K = 3


def _bloom_positions(doc_id: str):
    import hashlib

    h = hashlib.md5(doc_id.encode()).hexdigest()
    for i in range(_BLOOM_K):
        yield int(h[i * 8:(i + 1) * 8], 16) % _BLOOM_BITS


def _bloom_build(doc_ids) -> str:
    bits = bytearray(_BLOOM_BITS // 8)
    for d in doc_ids:
        for p in _bloom_positions(str(d)):
            bits[p // 8] |= 1 << (p % 8)
    return bytes(bits).hex()


def _bloom_maybe_contains(bloom_hex: str, doc_id: str) -> bool:
    bits = bytes.fromhex(bloom_hex)
    return all(bits[p // 8] & (1 << (p % 8)) for p in _bloom_positions(doc_id))


def _commit(table: str, version: int, buckets: Dict[str, List[str]],
            expected_current: Optional[int] = None,
            extra: Optional[Dict] = None, op: Optional[str] = None) -> int:
    """Optimistic-concurrency commit. The CONDITIONAL PUT of the
    manifest file is the commit point: data files are fully written
    before ``_commit`` is called (insert-before-swap ordering), the
    manifest payload is complete at claim time, and version numbers are
    claimed strictly sequentially — so winning the claim IS the commit,
    and losing it means another writer committed that version first
    (``ConcurrentWriteError``: re-read the table and retry).

    ``_CURRENT`` is only a best-effort HINT written after the claim; a
    crash between the two leaves a fully committed version that
    :func:`current_version` still finds by probing past the stale hint.
    There is no ambiguous "orphan" state — the earlier design that
    skipped supposed orphans could mistake a racer's in-flight commit
    (claim done, pointer not yet swapped) for garbage and silently base
    a new commit on stale state.

    Storage primitives go through :mod:`.commit_backend`: conditional
    put + plain atomic overwrite, both native on S3/GCS/Azure — the
    protocol runs unchanged against object storage, with no renames."""
    be = backend_for(table)
    if expected_current is not None and current_version(table) != expected_current:
        raise ConcurrentWriteError(
            f"table advanced past version {expected_current}; retry the write"
        )
    import time as _time

    state = {"version": version, "buckets": buckets,
             # FLOOR to ms, never round up: a commit's recorded time must
             # not exceed any wall-clock reading taken after it returns
             # (TIMESTAMP AS OF with a just-taken stamp must see it)
             "ts": int(_time.time() * 1000) / 1000,
             **({"op": op} if op else {}),
             **(extra or {})}
    doc = state
    if version % _CHECKPOINT_EVERY != 0:
        try:
            # the base is the already-committed predecessor — immutable,
            # so the delta is deterministic regardless of racing writers
            doc = _delta_doc(state, read_manifest(table, version - 1))
        except (FileNotFoundError, json.JSONDecodeError):
            doc = state  # no reconstructible base: store full
    payload = json.dumps(doc)
    if not be.put_if_absent(_manifest_path(table, version), payload):
        existing = be.read_text(_manifest_path(table, version))
        try:
            if existing is not None:
                json.loads(existing)
        except json.JSONDecodeError:
            # claims are atomic, so an unparseable manifest is EXTERNAL
            # corruption squatting on the version number. Do NOT
            # delete-and-reclaim here: two writers hitting this branch
            # concurrently could each delete what the other just
            # committed (the loser's delete lands after the winner's
            # claim — a lost update). Corruption is an operator problem;
            # fail with the exact path so it can be removed manually.
            raise ConcurrentWriteError(
                f"unparseable manifest squatting on version {version} "
                f"({_manifest_path(table, version)}) — external corruption; "
                f"remove it manually, then retry")
        raise ConcurrentWriteError(
            f"version {version} was committed concurrently; retry the write"
        )
    be.put_atomic(_join(table, _CURRENT), str(version))
    return version


def _arrow_file_stats(tbl, bloom_cols: Optional[List[str]] = None) -> Dict:
    """Per-file pruning stats of an arrow table: documentid [min,max] +
    row count + id bloom, per-column [min,max] + null counts for data
    skipping (Delta-style: primitive columns only, JSON-safe values,
    first 32 columns; failures skip the column — a file without stats is
    always read, never wrongly skipped), plus blooms for the declared
    columns. Shared by the bucket writer's emit path (stats computed in
    the same pass that writes the file, zero extra IO) and
    :func:`analyze_table` (back-fill without rewriting)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    vals = tbl["documentid"].to_pylist()
    if not vals:
        return {"rows": 0}
    stat: Dict = {"min": min(vals), "max": max(vals),
                  "rows": len(vals), "bloom": _bloom_build(vals)}
    cols: Dict = {}
    nulls: Dict = {}
    for fld in list(tbl.schema)[:32]:
        if fld.name in ("documentid", "doc_bucket"):
            continue
        t = fld.type
        ok = (pa.types.is_integer(t)
              or pa.types.is_floating(t)
              or pa.types.is_string(t)
              or pa.types.is_large_string(t)
              or pa.types.is_boolean(t))
        if not ok:
            continue
        try:
            mm = pc.min_max(tbl[fld.name])
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            if lo is not None and hi is not None:
                cols[fld.name] = [lo, hi]
            # null count in the same pass (Delta's nullCount): drives
            # IS [NOT] NULL skipping
            nulls.setdefault(fld.name, tbl[fld.name].null_count)
        except Exception:
            pass
    if cols:
        stat["cols"] = cols
    if nulls:
        stat["nulls"] = nulls
    for bc in bloom_cols or []:
        if bc not in tbl.column_names:
            continue
        bvals = [str(x) for x in tbl[bc].to_pylist() if x is not None]
        if bvals:
            stat.setdefault("blooms", {})[bc] = _bloom_build(bvals)
    return stat


def _write_bucket_files(records: DataFrame, table: str, token: str,
                        stats: Optional[Dict[str, Dict]] = None,
                        prefix: str = "b",
                        single_task: bool = False,
                        derive_deletes: bool = False,
                        split_col: Optional[str] = None,
                        sort_col: Optional[str] = None,
                        bloom_cols: Optional[List[str]] = None,
                        max_rows_per_file: Optional[int] = None,
                        write_parallelism: Optional[int] = None,
                        colmap: Optional[Dict[str, str]] = None):
    """Write records (must carry doc_bucket) grouped per bucket; returns
    bucket -> new file names.

    ``write_parallelism=P`` lifts the write job above the bucket-count
    task ceiling: rows shuffle on (doc_bucket, salt) into ~P partitions,
    each task emitting its own uniquely-named files per bucket it holds
    — a 1000-executor ingest commit is no longer capped at N_BUCKETS
    concurrent writers. Trade: ~P files per commit instead of one per
    touched bucket (``compact``/OPTIMIZE consolidate on the maintenance
    cadence). Default (None) keeps one file per bucket.

    Executors write the parquet files DIRECTLY with pyarrow inside
    ``mapInArrow`` (exact Spark types, no pandas round trip) into the
    table's ``files/`` dir under unique never-overwritten names, and
    return (bucket, file name, pruning stats) as ROWS — one Spark job
    yields the files, the bucket map, and the per-file min/max/bloom
    stats with zero post-hoc file reads. This replaces a
    ``partitionBy``-committer write (task temp dirs + renames + footer
    re-reads) whose fixed overhead dominated small-batch commits ~3x.
    Crash safety is unchanged: files not referenced by a committed
    manifest are invisible orphans until ``vacuum`` collects them.

    ``single_task`` skips the shuffle and writes everything from one
    task (for tiny tables -- deletion vectors -- where a repartition is
    pure overhead).

    IO goes through the table scheme's :class:`~.data_backend.DataBackend`.
    On executor-writable backends (local FS, object stores) each task
    writes its files in place and only (bucket, name, stats) rows return
    to the driver — the scale path. On driver-side backends (the memory
    emulator) the serialized bytes ride back in the same rows and the
    driver performs the puts; those backends are test-scale by contract
    (``DataBackend.executor_writes``).

    ``derive_deletes=True`` additionally writes, per bucket, a ``del-…``
    equality-delete file of the DATA rows' distinct documentids — inside
    the SAME task, zero extra Spark work. This is exactly the DV a
    replace/upsert commit needs: under the strictly-smaller sequence rule
    a DV entry for a documentid with no older rows (a pure insert) is a
    no-op, so deriving the delete set from the written rows is equivalent
    to shipping the matched-ids frame separately — and saves the second
    write job plus the union lineage whose job overhead dominated
    small-batch merge latency. Returns ``(data_buckets, del_buckets)``
    in this mode.

    ``split_col`` (an int column) splits each bucket's rows into one file
    PER DISTINCT VALUE instead of one file per bucket, and ``sort_col``
    orders rows within each file — the write side of
    :func:`optimize_zorder` (clustered multi-file buckets with tight
    per-file stats). Both helper columns are dropped before writing."""
    from .data_backend import data_backend_for

    if colmap:
        # column-mapping mode: files carry frozen PHYSICAL names; the
        # logical batch maps here, stats/blooms key by physical below
        records = records.select(*[F.col(c).alias(colmap.get(c, c))
                                   for c in records.columns])
        bloom_cols = [colmap.get(c, c) for c in (bloom_cols or [])]
    be = data_backend_for(table)
    files_dir = _join(table, "files")
    be.ensure_dir(files_dir)
    # ship only a picklable backend to executors; None ⇒ payload returns
    exec_be = be if be.executor_writes else None
    mixed = derive_deletes
    if single_task:
        shaped = records.coalesce(1)
    elif write_parallelism and write_parallelism > 1:
        salts = max(1, -(-int(write_parallelism) // N_BUCKETS))
        shaped = records.repartition(
            int(write_parallelism), "doc_bucket",
            F.pmod(F.xxhash64(F.col("documentid")), F.lit(salts)))
    else:
        shaped = records.repartition("doc_bucket")
    want_stats = stats is not None

    def write_batches(batches):
        import json as _json
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pqt

        acc: Dict[tuple, list] = {}
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            for b in pc.unique(tbl["doc_bucket"]).to_pylist():
                tb = tbl.filter(pc.equal(tbl["doc_bucket"], b))
                if split_col is None:
                    acc.setdefault((int(b),), []).append(tb)
                else:
                    for s in pc.unique(tb[split_col]).to_pylist():
                        acc.setdefault((int(b), int(s)), []).append(
                            tb.filter(pc.equal(tb[split_col], s)))
        buckets_o, names_o, stats_o, payload_o, kind_o = [], [], [], [], []

        def emit(b, tbl, name, kind, with_stats):
            sink = pa.BufferOutputStream()
            pqt.write_table(tbl, sink)
            data = sink.getvalue().to_pybytes()
            if exec_be is not None:
                exec_be.write_bytes(f"{files_dir}/{name}", data)
                payload_o.append(b"")
            else:
                payload_o.append(data)
            st = ""
            if with_stats and "documentid" in tbl.column_names:
                try:  # stats are an optimization, never a correctness gate
                    st = _json.dumps(_arrow_file_stats(tbl, bloom_cols))
                except Exception:
                    st = ""
            buckets_o.append(str(b))
            names_o.append(name)
            stats_o.append(st)
            kind_o.append(kind)

        for key, parts in sorted(acc.items()):
            b = key[0]
            tbl = pa.concat_tables(parts)
            if sort_col is not None:
                tbl = tbl.sort_by(sort_col)
            drop = [c for c in (split_col, sort_col)
                    if c is not None and c in tbl.column_names]
            if drop:
                tbl = tbl.drop_columns(drop)
            chunks = ([tbl] if not max_rows_per_file
                      else [tbl.slice(i, max_rows_per_file)
                            for i in range(0, max(tbl.num_rows, 1),
                                           max_rows_per_file)])
            for ck in chunks:
                emit(b, ck,
                     f"{prefix}{b}-{token}-{_uuid.uuid4().hex[:8]}.parquet",
                     "d", want_stats)
            if mixed and tbl.num_rows:
                del_tbl = (tbl.select(["documentid", "doc_bucket"])
                           .group_by(["documentid", "doc_bucket"])
                           .aggregate([]))
                emit(b, del_tbl,
                     f"del-{b}-d{token}-{_uuid.uuid4().hex[:8]}.parquet",
                     "x", False)
        yield pa.RecordBatch.from_pydict(
            {"bucket": buckets_o, "name": names_o, "stats": stats_o,
             "payload": payload_o, "kind": kind_o})

    out: Dict[str, List[str]] = {}
    out_del: Dict[str, List[str]] = {}
    rows = shaped.mapInArrow(
        write_batches,
        schema="bucket string, name string, stats string, payload binary, "
               "kind string",
    ).collect()
    for r in sorted(rows, key=lambda r: (int(r["bucket"]), r["name"])):
        if exec_be is None:
            be.write_bytes(f"{files_dir}/{r['name']}", r["payload"])
        tgt = out if r["kind"] == "d" else out_del
        tgt.setdefault(r["bucket"], []).append(r["name"])
        if want_stats and r["kind"] == "d" and r["stats"]:
            stats[r["name"]] = json.loads(r["stats"])
    if mixed:
        return out, out_del
    return out


def _manifest_meta(manifest: Dict) -> Dict:
    """The optional bookkeeping sections, with defaults for old manifests."""
    return {
        "seq": dict(manifest.get("seq", {})),
        "stats": dict(manifest.get("stats", {})),
        "deletes": {b: list(v) for b, v in manifest.get("deletes", {}).items()},
        # table schema as StructField jsonValues, widened commit-by-commit;
        # [] on pre-schema manifests (reads fall back to footer merging)
        "schema": list(manifest.get("schema", [])),
        # writer-app -> highest applied epoch: the idempotent-retry guard
        # for streaming foreachBatch sinks (Delta's txn appId/version)
        "txn": dict(manifest.get("txn", {})),
        # file name -> ABSOLUTE path for files referenced OUTSIDE this
        # table's files/ dir (shallow clones, Delta-style); names absent
        # here resolve to files/<name> as always
        "ext": dict(manifest.get("ext", {})),
        # constraint name -> SQL boolean expr every data-adding commit
        # must satisfy (Delta CHECK constraints; NULL passes, SQL style)
        "constraints": dict(manifest.get("constraints", {})),
        # columns whose per-file Bloom filters are recorded at write time
        # (equality skipping on high-cardinality non-key columns)
        "bloom_cols": list(manifest.get("bloom_cols", [])),
        # logical -> PHYSICAL column names (Delta column-mapping analog):
        # None = mapping never used (identity everywhere, zero overhead);
        # a dict (even empty) = RENAME/DROP has happened — data files keep
        # frozen physical names, the manifest schema stays logical, and
        # new columns get fresh physical names so a re-added name can
        # never resurrect buried data
        "colmap": (dict(manifest["colmap"]) if "colmap" in manifest
                   else None),
    }


def _txn_applied(manifest: Dict, txn) -> bool:
    """True if this (app, epoch) already committed — the retried micro-batch
    must be skipped, not re-applied."""
    if txn is None:
        return False
    app, epoch = txn
    last = manifest.get("txn", {}).get(str(app))
    return last is not None and int(epoch) <= int(last)


def _txn_record(meta: Dict, txn) -> None:
    if txn is not None:
        app, epoch = txn
        meta["txn"][str(app)] = int(epoch)


def _seed_schema(spark, table: str, manifest: Dict, meta: Dict) -> None:
    """On a PRE-SCHEMA manifest (``meta['schema'] == []``) that already has
    data files, seed the schema from the existing files' merged footer
    schema before any batch fields are unioned in. Without this, an
    append/replace of a narrower batch would record only the batch's
    fields, and the schema-trusting read path would silently drop columns
    that exist only in older files (they previously survived via the
    mergeSchema fallback)."""
    if meta["schema"] or not any(manifest["buckets"].values()):
        return
    from .data_backend import data_backend_for

    be = data_backend_for(table)
    files_dir = _join(table, "files")
    names = [n for ns in manifest["buckets"].values() for n in ns]
    if be.spark_readable:
        paths = [_join(files_dir, n) for n in names]
        existing = spark.read.option("mergeSchema", "true").parquet(*paths).schema
    else:
        existing = _scan_via_backend(spark, be, files_dir, names).schema
    meta["schema"] = existing.jsonValue()["fields"]


def _schema_union(meta: Dict, df: DataFrame) -> None:
    """Fold a data write's schema into the manifest's: existing fields keep
    their position and FIRST-SEEN type, new fields append. This is what
    mergeSchema computed from every footer on every read — recording it at
    commit time makes reads footer-scan-free. A same-name type change is
    not merged (first type wins); as with mergeSchema, such files fail at
    scan time rather than silently coercing."""
    names = {f["name"] for f in meta["schema"]}
    for f in df.schema.jsonValue()["fields"]:
        if f["name"] not in names:
            meta["schema"].append(f)
            names.add(f["name"])
            if meta.get("colmap") is not None and f["name"] != "doc_bucket":
                # column-mapping mode: a NEW column gets a fresh physical
                # name, so re-adding a previously dropped/renamed name can
                # never read that name's buried bytes out of old files.
                # setdefault, not assignment: a rebase splices the
                # already-written physical name in BEFORE re-unioning the
                # schema, and overwriting it would orphan the new
                # column's bytes in the files written pre-rebase
                meta["colmap"].setdefault(f["name"],
                                          "c" + uuid.uuid4().hex[:12])


def _prune_meta(meta: Dict, buckets: Dict[str, List[str]]) -> Dict:
    """Drop seq/stats entries for files no longer referenced by ``buckets``
    or ``meta['deletes']`` so manifests don't grow monotonically."""
    live = {n for names in buckets.values() for n in names}
    live |= {n for names in meta["deletes"].values() for n in names}
    meta["seq"] = {n: s for n, s in meta["seq"].items() if n in live}
    meta["stats"] = {n: s for n, s in meta["stats"].items() if n in live}
    meta["deletes"] = {b: v for b, v in meta["deletes"].items() if v}
    meta["ext"] = {n: p for n, p in meta["ext"].items() if n in live}
    if not meta["ext"]:
        meta.pop("ext")
    if not meta["constraints"]:
        meta.pop("constraints")
    if not meta["bloom_cols"]:
        meta.pop("bloom_cols")
    if meta.get("colmap") is None:
        meta.pop("colmap", None)
    return meta


def _cmap(meta: Dict) -> Dict[str, str]:
    """logical -> physical names; {} = identity."""
    return meta.get("colmap") or {}


def _phys_name(meta: Dict, col: str) -> str:
    return _cmap(meta).get(col, col)


def _phys_fields(meta: Dict) -> List[Dict]:
    """The manifest schema with field names mapped to their PHYSICAL
    parquet names — what a trusted-schema file read must ask for."""
    cm = _cmap(meta)
    if not cm:
        return meta["schema"]
    return [{**f, "name": cm.get(f["name"], f["name"])}
            for f in meta["schema"]]


def _to_logical(df: DataFrame, meta: Dict) -> DataFrame:
    """Alias a physical-named scan back to logical names (identity when
    the table never renamed); internal columns (_seq etc.) pass through."""
    cm = _cmap(meta)
    if not cm:
        return df
    inv = {p: l for l, p in cm.items()}
    return df.select(*[F.col(c).alias(inv.get(c, c)) for c in df.columns])


def _scan_via_backend(spark, be, files_dir: str, names: List[str],
                      schema_fields: Optional[List[Dict]] = None,
                      seqs: Optional[Dict[str, int]] = None,
                      seq_col: str = "_seq",
                      ext: Optional[Dict[str, str]] = None) -> DataFrame:
    """Materialize the named files from a non-Spark-readable DataBackend
    through the driver: per-file arrow tables → one unioned DataFrame,
    conformed to the manifest schema when given (missing columns become
    typed nulls, like the schema-trusting parquet read), with an optional
    per-file sequence-number literal for DV application. Bounded use only
    — backends that set ``spark_readable=False`` are test/emulation
    backends by contract."""
    import io

    import pyarrow.parquet as pqt
    from pyspark.sql import types as T

    dfs = []
    for n in names:
        p = (ext or {}).get(n) or f"{files_dir}/{n}"
        data = be.read_bytes(p)
        if data is None:
            raise FileNotFoundError(p)
        df = spark.createDataFrame(pqt.read_table(io.BytesIO(data)))
        if seqs is not None:
            df = df.withColumn(seq_col, F.lit(int(seqs.get(n, 0))))
        dfs.append(df)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    if schema_fields:
        st = T.StructType.fromJson({"type": "struct", "fields": schema_fields})
        cols = [
            (F.col(f.name) if f.name in out.columns
             else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in st.fields
        ]
        if seqs is not None:
            cols.append(F.col(seq_col))
        out = out.select(*cols)
    return out


def _read_files(spark, table: str, manifest: Dict,
                bucket_subset: Optional[Iterable[str]] = None,
                file_subset: Optional[Iterable[str]] = None) -> DataFrame:
    """Read data files of the manifest (optionally restricted to buckets /
    specific files) with equality deletion vectors applied: a delete entry
    kills rows of data files whose sequence number is STRICTLY SMALLER than
    the delete file's (Iceberg equality-delete semantics) — rows appended in
    the same commit as the delete survive."""
    meta = _manifest_meta(manifest)
    buckets = manifest["buckets"]
    sel = set(buckets) if bucket_subset is None else {str(b) for b in bucket_subset}
    names = [
        n for b in sorted(sel) for n in buckets.get(b, [])
        if file_subset is None or n in file_subset
    ]
    if not names:
        if meta["schema"]:
            # a committed-but-empty version (or an all-pruned subset) is a
            # legitimate state — surface it as an empty frame of the
            # manifest schema, not an error
            from pyspark.sql import types as T

            st = T.StructType.fromJson({"type": "struct",
                                        "fields": meta["schema"]})
            return spark.createDataFrame([], st)
        raise FileNotFoundError(
            f"version {manifest['version']} of {table} has no matching files"
        )
    from .data_backend import data_backend_for

    be = data_backend_for(table)
    files_dir = _join(table, "files")
    del_names = [n for b in sorted(sel) for n in meta["deletes"].get(b, [])]
    if be.spark_readable:
        # commits may widen the schema over time (append with a new column
        # via unionByName); the commit-time union recorded in the manifest
        # gives the same widened view WITHOUT reading every file's footer
        # here (a whole extra job per read on multi-file tables). Files
        # predating a column surface null for it, exactly as mergeSchema
        # did. Pre-schema manifests fall back to footer merging.
        path_for = lambda n: meta["ext"].get(n) or _join(files_dir, n)  # noqa: E731
        paths = [path_for(n) for n in names]
        if meta["schema"]:
            from pyspark.sql import types as T

            st = T.StructType.fromJson({"type": "struct",
                                        "fields": _phys_fields(meta)})
            df = spark.read.schema(st).parquet(*paths)
        else:
            df = spark.read.option("mergeSchema", "true").parquet(*paths)
        if not del_names:
            return _to_logical(df, meta)

        # file basename -> seq (names are unique by construction); the lit
        # map is manifest-sized driver data, well under broadcast limits.
        # Built as ONE sql expression string: create_map from 2N F.lit
        # Columns costs 2N py4j round trips (~0.5 s of driver chatter on
        # a 100-file table) before any job runs. File names are generated
        # hex tokens — no quoting hazards.
        def seq_map(for_names):
            entries = ", ".join(
                f"'{n}', {int(meta['seq'].get(n, 0))}" for n in for_names)
            return F.expr(f"map({entries})")

        basename = lambda: F.element_at(F.split(F.input_file_name(), "/"), -1)  # noqa: E731
        df = df.withColumn("_seq", seq_map(names)[basename()])
        deletes = (
            spark.read.parquet(*[path_for(n) for n in del_names])
            .withColumn("_dseq", seq_map(del_names)[basename()])
        )
    else:
        # non-Spark-readable backend: driver-materialized per-file scans
        # (test-scale by the backend's contract); the per-file seq rides
        # in as a literal column since input_file_name() has no meaning
        df = _scan_via_backend(spark, be, files_dir, names,
                               schema_fields=_phys_fields(meta) or None,
                               seqs=meta["seq"] if del_names else None,
                               ext=meta["ext"])
        if not del_names:
            return _to_logical(df, meta)
        deletes = _scan_via_backend(spark, be, files_dir, del_names,
                                    seqs=meta["seq"], seq_col="_dseq",
                                    ext=meta["ext"])
    deletes = deletes.groupBy("documentid").agg(F.max("_dseq").alias("_dseq"))
    cols = [c for c in df.columns if c != "_seq"]
    return _to_logical(
        df.join(F.broadcast(deletes), "documentid", "left")
        .filter(F.col("_dseq").isNull() | (F.col("_dseq") <= F.col("_seq")))
        # the join moved its key to the front — restore the scan's column
        # order so DV and DV-free reads are positionally identical
        # (exceptAll/unionByName consumers depend on it)
        .select(*cols), meta)


def write_table(records: DataFrame, table: str, txn=None,
                max_rows_per_file: Optional[int] = None,
                write_parallelism: Optional[int] = None) -> int:
    """Full (over)write as version 0... n+1; returns the committed version.

    The prior manifest's txn map (writer-app -> last applied epoch) is
    carried forward and this write's idempotency is checked against it:
    an overwrite must not reset OTHER writers' retry watermarks (a later
    retried append from another app would be re-applied, double-counting
    rows), and a retried overwrite itself must be a no-op — Delta's
    appId/version semantics."""
    from .data_backend import data_backend_for

    data_backend_for(table).ensure_dir(table)  # also validates the scheme
    cv = current_version(table)
    txn_map: Dict[str, int] = {}
    cons: Dict[str, str] = {}
    bcols: List[str] = []
    cmap: Optional[Dict[str, str]] = None
    if cv is not None:
        prior = read_manifest(table)
        if _txn_applied(prior, txn):
            return prior["version"]
        txn_map = {str(a): int(e) for a, e in prior.get("txn", {}).items()}
        cons = dict(prior.get("constraints", {}))
        bcols = list(prior.get("bloom_cols", []))
        cmap = dict(prior["colmap"]) if "colmap" in prior else None
    if txn is not None:
        txn_map[str(txn[0])] = int(txn[1])
    _enforce_constraints(records, cons)
    records = records.withColumn("doc_bucket", _bucket_col())
    token = uuid.uuid4().hex[:8]
    stats: Dict[str, Dict] = {}
    buckets = _write_bucket_files(records, table, token, stats=stats,
                                  bloom_cols=bcols,
                                  max_rows_per_file=max_rows_per_file,
                                  write_parallelism=write_parallelism,
                                  colmap=cmap)
    version = 0 if cv is None else cv + 1
    version = _commit(
        table, version, buckets, expected_current=cv, op="WRITE",
        extra={"seq": {n: version for names in buckets.values() for n in names},
               "stats": stats,
               "schema": records.schema.jsonValue()["fields"],
               **({"colmap": cmap} if cmap is not None else {}),
               **({"txn": txn_map} if txn_map else {}),
               **({"constraints": cons} if cons else {}),
               **({"bloom_cols": bcols} if bcols else {})},
    )
    return version


def version_at_timestamp(table: str, ts: float) -> int:
    """Newest committed version whose commit time is <= ``ts`` (Delta
    ``TIMESTAMP AS OF``). Commit times are recorded in each manifest;
    pre-timestamp manifests count as time 0 (always eligible)."""
    live = current_version(table)
    if live is None:
        raise FileNotFoundError(f"no committed version in {table}")
    best = None
    for v in range(live, -1, -1):
        try:
            m = read_manifest(table, v)
        except (FileNotFoundError, json.JSONDecodeError):
            continue
        if float(m.get("ts", 0.0)) <= ts:
            best = v
            break  # commit times are monotone along the log
    if best is None:
        raise ValueError(
            f"no version of {table} existed at timestamp {ts}")
    return best


def read_table(spark, table: str, version: Optional[int] = None,
               timestamp: Optional[float] = None) -> DataFrame:
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(table, timestamp)
    manifest = read_manifest(table, version)
    return _read_files(spark, table, manifest)


_SKIP_OPS = ("<=", ">=", "!=", "=", "<", ">",
             "is_null", "not_null")  # longest-match order


def _file_may_match(stat: Dict, col: str, op: str, value) -> bool:
    """Can a file with these stats hold a row satisfying ``col op value``?
    True (must read) unless the [min,max] range PROVES no row matches.
    Files without stats for the column always read — skipping is an
    optimization, never a correctness gate."""
    if op == "=":
        bloom = (stat or {}).get("blooms", {}).get(col)
        if bloom is not None and not _bloom_maybe_contains(bloom, str(value)):
            return False  # bloom proves absence: skip regardless of range
    if op in ("is_null", "not_null"):
        nulls = (stat or {}).get("nulls", {}).get(col)
        rows = (stat or {}).get("rows")
        if nulls is None or rows is None:
            return True  # no null stats recorded: must read
        return nulls > 0 if op == "is_null" else nulls < rows
    rng = (stat or {}).get("cols", {}).get(col)
    if not rng:
        return True
    lo, hi = rng
    if type(lo) is not type(value) and not (
            isinstance(lo, (int, float)) and isinstance(value, (int, float))):
        return True  # incomparable stat/literal types: must read
    try:
        if op == "=":
            return lo <= value <= hi
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
        if op == "!=":
            return not (lo == hi == value)
    except TypeError:
        return True
    return True


def _cond_expr(conditions):
    """Spark Column for conjunctive ``(col, op, literal)`` conditions —
    the full ``_SKIP_OPS`` set including is_null/not_null (whose literal
    slot is ignored)."""
    cond = None
    for c, op, v in conditions:
        left = F.col(c)
        if op == "is_null":
            expr = left.isNull()
        elif op == "not_null":
            expr = left.isNotNull()
        else:
            try:
                expr = {"=": left == v, "!=": left != v, "<": left < v,
                        "<=": left <= v, ">": left > v, ">=": left >= v}[op]
            except KeyError:
                raise ValueError(f"unsupported condition op {op!r} on {c!r}")
        cond = expr if cond is None else (cond & expr)
    return cond


def candidate_files_where(table: str, conditions, version: Optional[int] = None):
    """File names that may hold rows matching ALL ``conditions`` — each a
    ``(column, op, literal)`` tuple with op in ``= != < <= > >= is_null
    not_null`` (the null forms ignore the literal; pass None) — pruned
    by the per-file column [min,max,null-count] stats recorded at write
    time. Returns (manifest, {bucket: [names]})."""
    manifest = read_manifest(table, version)
    meta = _manifest_meta(manifest)
    for col, op, _ in conditions:
        if op not in _SKIP_OPS:
            raise ValueError(f"unsupported skip op {op!r} on {col!r}")
    chosen: Dict[str, List[str]] = {}
    # stats are keyed by the PHYSICAL column names files carry
    phys = [(_phys_name(meta, c), op, v) for c, op, v in conditions]
    for b, names in manifest["buckets"].items():
        keep = [
            n for n in names
            if all(_file_may_match(meta["stats"].get(n), c, op, v)
                   for c, op, v in phys)
        ]
        if keep:
            chosen[b] = keep
    return manifest, chosen


def read_table_where(spark, table: str, conditions,
                     version: Optional[int] = None) -> DataFrame:
    """Delta-style data skipping: read only the files whose per-column
    [min,max] stats may satisfy ALL of ``conditions`` (conjunctive
    ``(column, op, literal)`` tuples), then apply the same conditions as
    real Spark filters for exactness. Equivalent to
    ``read_table(...).filter(...)`` by construction — the stats only
    prune files that provably hold no matching row; files or columns
    without stats are always read. DVs apply as on any read.

    At 100 TB this is the difference between a predicate scanning every
    bucket and one that touches the handful of files whose ranges
    overlap — the same role parquet row-group stats play one level
    down, lifted to the manifest so pruning happens before any footer
    IO."""
    manifest, chosen = candidate_files_where(table, conditions, version)
    names = {n for ns in chosen.values() for n in ns}
    df = _read_files(spark, table, manifest,
                     bucket_subset=chosen.keys() or None,
                     file_subset=names) if chosen else _read_files(
        spark, table, manifest, bucket_subset=[])
    for col, op, value in conditions:
        if op in ("is_null", "not_null"):
            df = df.filter(F.expr(
                f"`{col}` IS {'NOT ' if op == 'not_null' else ''}NULL"))
            continue
        sql_op = "<>" if op == "!=" else op
        lit = f"'{str(value).replace(chr(39), chr(39) * 2)}'" \
            if isinstance(value, str) else repr(value)
        df = df.filter(F.expr(f"`{col}` {sql_op} {lit}"))
    return df


def read_documents(spark, table: str, doc_ids: List[str],
                   version: Optional[int] = None) -> DataFrame:
    """Point lookup: rows of the given documentids, reading only the buckets
    the ids hash to AND (when footer stats are in the manifest) only the
    files whose [min,max] documentid range can contain one of them."""
    manifest = read_manifest(table, version)
    meta = _manifest_meta(manifest)
    by_bucket: Dict[str, List[str]] = {}
    for d in doc_ids:
        by_bucket.setdefault(str(zlib.crc32(d.encode()) % N_BUCKETS), []).append(d)
    chosen = set()
    for b, ids in by_bucket.items():
        for n in manifest["buckets"].get(b, []):
            st = meta["stats"].get(n)
            if st is None or "min" not in st:
                chosen.add(n)  # no stats -> must read
            elif any(
                st["min"] <= d <= st["max"]
                and ("bloom" not in st
                     or _bloom_maybe_contains(st["bloom"], d))
                for d in ids
            ):
                chosen.add(n)
    if not chosen:  # every file stat-pruned: the ids are provably absent
        return _read_files(spark, table, manifest).limit(0).filter(F.lit(False))
    df = _read_files(spark, table, manifest,
                     bucket_subset=by_bucket, file_subset=chosen)
    return df.filter(F.col("documentid").isin(doc_ids))


def _candidate_files(table: str, doc_ids: List[str],
                     version: Optional[int] = None) -> List[str]:
    """The data files :func:`read_documents` would open (exposed for tests
    and capacity planning)."""
    manifest = read_manifest(table, version)
    meta = _manifest_meta(manifest)
    out = []
    buckets = {str(zlib.crc32(d.encode()) % N_BUCKETS): True for d in doc_ids}
    for b in sorted(buckets):
        for n in manifest["buckets"].get(b, []):
            st = meta["stats"].get(n)
            if st is None or "min" not in st or any(
                st["min"] <= d <= st["max"]
                and ("bloom" not in st
                     or _bloom_maybe_contains(st["bloom"], d))
                for d in doc_ids
            ):
                out.append(n)
    return out


def incremental_replace(records: DataFrame, table: str, mode: str = "rewrite",
                        txn=None) -> int:
    """Replace-by-documentid. ``mode="rewrite"`` (default) rewrites only the
    buckets containing replaced documents — O(changed-buckets); every other
    bucket's files are reused by reference. ``mode="dv"`` appends the new
    rows plus an equality deletion vector in ONE commit — O(batch) even for
    huge buckets; run :func:`compact` to materialise. Returns the version.

    ``txn=(app_id, epoch)`` makes the commit idempotent under retries: a
    replace whose epoch is <= the app's last committed epoch is a no-op
    returning the current version — exactly-once table contents for a
    foreachBatch sink that re-runs failed micro-batches.

    In rewrite mode the batch is evaluated ONCE: it is persisted for the
    commit, so the constraint check, the one collect of its
    (documentid, bucket) pairs and the bucket write all read the same
    rows, and the upstream chain (parse, chunk, enrich, embed) runs
    once per commit. The cache is released on every exit."""
    if mode not in ("rewrite", "dv"):
        raise ValueError(f"mode must be 'rewrite' or 'dv', got {mode!r}")
    spark = records.sparkSession
    if current_version(table) is None:
        return write_table(records, table, txn=txn)
    if mode == "dv":
        return _replace_with_dv(records, table, txn=txn)

    records = records.withColumn("doc_bucket", _bucket_col())
    manifest = read_manifest(table)
    if _txn_applied(manifest, txn):
        return manifest["version"]
    # a cached frame keeps its lineage, so a lost block recomputes
    records.persist()
    try:
        meta = _manifest_meta(manifest)
        _enforce_constraints(records, meta["constraints"])
        _txn_record(meta, txn)
        # one collect gives both the affected buckets and the anti-join
        # ids (doc_bucket is a function of documentid)
        pairs = records.select("documentid", "doc_bucket").distinct().toArrow()
        affected = sorted({str(b) for b in pairs.column("doc_bucket").to_pylist()})
        have_old = any(manifest["buckets"].get(b) for b in affected)
        if have_old:
            incoming_docs = local_frame(spark, pairs.select(["documentid"]),
                                        records.select("documentid").schema)
            survivors = (
                _read_files(spark, table, manifest, bucket_subset=affected)
                .join(F.broadcast(incoming_docs), "documentid", "left_anti")
            )
            merged = survivors.unionByName(records, allowMissingColumns=True)
        else:
            merged = records

        token = uuid.uuid4().hex[:8]
        version = manifest["version"] + 1
        _seed_schema(spark, table, manifest, meta)
        _schema_union(meta, merged)
        new_buckets = _write_bucket_files(merged, table, token, stats=meta["stats"],
                                          bloom_cols=meta["bloom_cols"],
                                          colmap=meta["colmap"])
        buckets = {
            b: names for b, names in manifest["buckets"].items() if b not in affected
        }
        buckets.update(new_buckets)
        for names in new_buckets.values():
            meta["seq"].update({n: version for n in names})
        # the rewrite applied any pending deletes for these buckets
        meta["deletes"] = {b: v for b, v in meta["deletes"].items() if b not in affected}
        return _commit(table, version, buckets, expected_current=manifest["version"],
                       extra=_prune_meta(meta, buckets), op="REPLACE")
    finally:
        records.unpersist()


def _replace_with_dv(records: DataFrame, table: str, txn=None) -> int:
    """Append new rows + a deletion vector for their documentids in one
    commit. New data files and the delete files share the commit's sequence
    number; deletes apply only to files with seq STRICTLY below, so the new
    rows survive while every older copy of those documents dies."""
    records = records.withColumn("doc_bucket", _bucket_col())
    manifest = read_manifest(table)
    if _txn_applied(manifest, txn):
        return manifest["version"]
    meta = _manifest_meta(manifest)
    _enforce_constraints(records, meta["constraints"])
    _txn_record(meta, txn)
    version = manifest["version"] + 1
    token = uuid.uuid4().hex[:8]
    _seed_schema(records.sparkSession, table, manifest, meta)
    _schema_union(meta, records)
    # one job for data files AND delete vectors (see _write_bucket_files)
    new_buckets, del_buckets = _write_bucket_files(
        records, table, token, stats=meta["stats"], derive_deletes=True,
        bloom_cols=meta["bloom_cols"], colmap=meta["colmap"])
    buckets = {b: list(names) for b, names in manifest["buckets"].items()}
    for b, names in new_buckets.items():
        buckets.setdefault(b, []).extend(names)
        meta["seq"].update({n: version for n in names})
    for b, names in del_buckets.items():
        if manifest["buckets"].get(b):  # DV is pointless on a fresh bucket
            meta["deletes"].setdefault(b, []).extend(names)
            meta["seq"].update({n: version for n in names})
        else:
            for n in names:
                _data_delete(table, n)
    return _commit(table, version, buckets, expected_current=manifest["version"],
                   extra=_prune_meta(meta, buckets), op="REPLACE_DV")


def delete_documents(spark, table: str, doc_ids: List[str]) -> int:
    """Delete documents by id WITHOUT rewriting any data file: commits one
    tiny equality-delete parquet per affected bucket — O(batch) regardless
    of table size. Returns the new version."""
    manifest = read_manifest(table)
    meta = _manifest_meta(manifest)
    version = manifest["version"] + 1
    rows = [(d, zlib.crc32(d.encode()) % N_BUCKETS) for d in sorted(set(doc_ids))]
    del_df = spark.createDataFrame(rows, "documentid string, doc_bucket int")
    token = "x" + uuid.uuid4().hex[:7]
    del_buckets = _write_bucket_files(del_df, table, token, prefix="del-",
                                      single_task=True)
    for b, names in del_buckets.items():
        if manifest["buckets"].get(b):
            meta["deletes"].setdefault(b, []).extend(names)
            meta["seq"].update({n: version for n in names})
        else:
            for n in names:
                _data_delete(table, n)
    buckets = {b: list(names) for b, names in manifest["buckets"].items()}
    return _commit(table, version, buckets, expected_current=manifest["version"],
                   extra=_prune_meta(meta, buckets), op="DELETE")


def delete_where(spark, table: str, conditions) -> int:
    """Predicate delete (``DELETE FROM t WHERE ...`` for conjunctive
    ``(col, op, literal)`` conditions): per-file stats + blooms prune to
    the candidate files, ONLY those are scanned for matching documentids,
    and one equality-DV commit kills every row of the matched documents —
    no data file rewritten, ids never collected to the driver (the DV
    files are written straight from the distributed frame). O(matching
    files + DV rows) whatever the table size. Documents are deleted as
    WHOLE units (any row matching deletes the document — documents are
    the unit of replacement everywhere in this store). Returns the new
    version (unchanged if nothing matched)."""
    manifest, chosen = candidate_files_where(table, conditions)
    meta = _manifest_meta(manifest)
    if not any(chosen.values()):
        return manifest["version"]
    names = {n for ns in chosen.values() for n in ns}
    df = _read_files(spark, table, manifest, bucket_subset=chosen,
                     file_subset=names)
    hits = (df.filter(_cond_expr(conditions)).select("documentid").distinct()
            .withColumn("doc_bucket", _bucket_col()))
    version = manifest["version"] + 1
    token = "x" + uuid.uuid4().hex[:7]
    del_buckets = _write_bucket_files(hits, table, token, prefix="del-")
    if not del_buckets:
        return manifest["version"]
    for b, dnames in del_buckets.items():
        if manifest["buckets"].get(b):
            meta["deletes"].setdefault(b, []).extend(dnames)
            meta["seq"].update({n: version for n in dnames})
        else:
            for n in dnames:
                _data_delete(table, n)
    buckets = {b: list(ns) for b, ns in manifest["buckets"].items()}
    return _commit(table, version, buckets,
                   expected_current=manifest["version"],
                   extra=_prune_meta(meta, buckets), op="DELETE_WHERE")


def update_where(spark, table: str, conditions,
                 set_map: Dict[str, str]) -> int:
    """Predicate update (``UPDATE t SET col = expr WHERE ...``):
    stats/bloom-pruned scan finds matched documentids, ALL rows of those
    documents (whole-document semantics) are read from just the affected
    buckets, the ``set_map`` SQL expressions are applied, and the new
    row versions land as one replace-by-documentid DV commit — no
    unmatched file rewritten. ``set_map`` exprs may reference any row
    column (e.g. ``{"n_chars": "n_chars + 10"}``). O(affected buckets),
    CHECK constraints enforced on the rewritten rows like any replace."""
    manifest, chosen = candidate_files_where(table, conditions)
    if not any(chosen.values()):
        return manifest["version"]
    names = {n for ns in chosen.values() for n in ns}
    scan = _read_files(spark, table, manifest, bucket_subset=chosen,
                       file_subset=names)
    ids = scan.filter(_cond_expr(conditions)).select("documentid").distinct()
    affected = sorted(str(r[0]) for r in
                      ids.withColumn("b", _bucket_col())
                      .select("b").distinct().collect())
    if not affected:
        return manifest["version"]
    full = (_read_files(spark, table, manifest, bucket_subset=affected)
            .join(F.broadcast(ids), "documentid", "semi"))
    updated = full.withColumns(
        {col: F.expr(e) for col, e in set_map.items()})
    if "doc_bucket" in updated.columns:
        updated = updated.drop("doc_bucket")
    return incremental_replace(updated, table, mode="dv")


def append_table(records: DataFrame, table: str, txn=None,
                 max_rows_per_file: Optional[int] = None,
                 rebase_attempts: int = 5,
                 write_parallelism: Optional[int] = None) -> int:
    """Append-only commit for documents known to be new: adds files to the
    affected buckets WITHOUT reading or rewriting existing ones — O(batch)
    regardless of table size. This is what accumulates small files per
    bucket; run :func:`compact` periodically.

    Losing a commit race does NOT re-run the Spark write job: append
    data files reference no prior state, so the commit REBASES — re-read
    the new head, splice the already-written files in with a fresh
    sequence number, re-claim (up to ``rebase_attempts`` heads). This is
    how N concurrent appenders stay O(N) total work instead of O(N²)
    write-job re-runs; Delta resolves blind appends the same way. Any
    constraints added concurrently are re-enforced before the re-claim,
    and a concurrently-applied ``txn`` epoch turns the rebase into a
    no-op (the already-written files are left as vacuum-collectable
    orphans rather than risking a double-append)."""
    if current_version(table) is None:
        return write_table(records, table, txn=txn,
                           max_rows_per_file=max_rows_per_file,
                           write_parallelism=write_parallelism)
    records = records.withColumn("doc_bucket", _bucket_col())
    manifest = read_manifest(table)
    if _txn_applied(manifest, txn):
        return manifest["version"]
    meta = _manifest_meta(manifest)
    _enforce_constraints(records, meta["constraints"])
    enforced = dict(meta["constraints"])
    _txn_record(meta, txn)
    version = manifest["version"] + 1
    token = uuid.uuid4().hex[:8]
    _seed_schema(records.sparkSession, table, manifest, meta)
    base_colmap = None if meta["colmap"] is None else dict(meta["colmap"])
    base_names = {f["name"] for f in meta["schema"]}
    _schema_union(meta, records)
    # the physical column names baked into the files below are fixed by
    # THIS head's colmap; a rebase onto a head whose colmap differs on
    # any PRE-EXISTING column (a concurrent rename/drop committed
    # mid-append) cannot splice them in. Columns this append itself
    # introduced (written_colmap minus base_colmap) are ours to splice.
    written_colmap = None if meta["colmap"] is None else dict(meta["colmap"])
    new_buckets = _write_bucket_files(records, table, token,
                                      stats=meta["stats"],
                                      bloom_cols=meta["bloom_cols"],
                                      max_rows_per_file=max_rows_per_file,
                                      write_parallelism=write_parallelism,
                                      colmap=meta["colmap"])
    new_names = [n for names in new_buckets.values() for n in names]
    new_stats = {n: meta["stats"][n] for n in new_names if n in meta["stats"]}
    for attempt in range(max(1, rebase_attempts)):
        buckets = {b: list(names) for b, names in manifest["buckets"].items()}
        for b, names in new_buckets.items():
            buckets.setdefault(b, []).extend(names)
            meta["seq"].update({n: version for n in names})
        try:
            return _commit(table, version,
                           buckets, expected_current=manifest["version"],
                           extra=_prune_meta(meta, buckets), op="APPEND")
        except ConcurrentWriteError:
            if attempt == max(1, rebase_attempts) - 1:
                raise
        # rebase: fresh head + the files already on disk, no Spark re-run
        manifest = read_manifest(table)
        if _txn_applied(manifest, txn):
            return manifest["version"]  # our files become vacuumable orphans
        meta = _manifest_meta(manifest)
        # a column OUR files carry that predates this append and is gone
        # from the racing head's schema was dropped (or renamed away)
        # concurrently — splicing our files in would resurrect it. The
        # colmap comparison below cannot see this for identity-mapped
        # columns (pre-mapping-mode names have no colmap entry).
        head_names = {f["name"] for f in meta["schema"]}
        gone = sorted(c for c in records.columns
                      if c != "doc_bucket" and c in base_names
                      and c not in head_names)
        if gone:
            raise ConcurrentWriteError(
                f"column mapping of {table} changed concurrently "
                f"(column(s) {gone} dropped/renamed during the append); "
                "re-run the append against the new head")
        head_colmap = None if meta["colmap"] is None else dict(meta["colmap"])
        if head_colmap != written_colmap:
            # A schema-EVOLVING append's written_colmap is the pre-write
            # head plus fresh physical names for the columns IT added
            # (ours = written minus base), so it can never equal a
            # racing head's colmap even when the race was a plain data
            # append. That case is safe to rebase: every column that
            # predates this append must map identically in the head
            # (else a rename/drop really did race — Delta's
            # metadata-changed conflict), our added names must not
            # exist in the head (a concurrent add of the same logical
            # name wrote different physical bytes), and our physical
            # names must collide with nothing the head maps. Then the
            # added entries splice in so the written files read back
            # whole; columns the head added concurrently are kept as
            # the head has them.
            ours = ({} if written_colmap is None else
                    {k: v for k, v in written_colmap.items()
                     if base_colmap is None or k not in base_colmap})
            safe = (head_colmap is not None and written_colmap is not None
                    and all(head_colmap.get(k) == v
                            for k, v in written_colmap.items()
                            if k not in ours)
                    and all(k not in head_colmap
                            and v not in set(head_colmap.values())
                            for k, v in ours.items()))
            if not safe:
                # the written files carry pre-change physical names —
                # splicing them under a renamed/dropped map would
                # silently null the renamed column on read
                raise ConcurrentWriteError(
                    f"column mapping of {table} changed concurrently "
                    "(rename/drop committed during the append); re-run "
                    "the append against the new head")
            for k, v in ours.items():
                meta["colmap"][k] = v
        if meta["constraints"] != enforced:
            _enforce_constraints(records, meta["constraints"])
            enforced = dict(meta["constraints"])
        _txn_record(meta, txn)
        meta["stats"].update(new_stats)
        _seed_schema(records.sparkSession, table, manifest, meta)
        _schema_union(meta, records)
        version = manifest["version"] + 1


def _merge_target_files(manifest: Dict, meta: Dict, existing, precheck):
    """Target files a merge must read: within each affected bucket, only
    files whose documentid [min,max] footer range OVERLAPS the source
    batch's id range for that bucket. A file outside the range provably
    holds none of the source ids, so every per-id join (matched
    detection, insert anti-join) is unaffected by skipping it — the same
    never-wrongly-skip contract as :func:`candidate_files_where`. Files
    without stats always read."""
    by_bucket = {str(r["doc_bucket"]): (r["_idmin"], r["_idmax"])
                 for r in precheck}
    keep = set()
    for b in existing:
        lo, hi = by_bucket.get(str(b), (None, None))
        for n in manifest["buckets"].get(b, []):
            st = meta["stats"].get(n) or {}
            fmin, fmax = st.get("min"), st.get("max")
            if (lo is None or fmin is None or fmax is None
                    or (fmin <= hi and fmax >= lo)):
                keep.add(n)
    return keep


def prepare_batch(source: DataFrame):
    """The source-only half of a merge/SCD2 commit, runnable AHEAD of
    the commit it belongs to: pin the batch with a lazy checkpoint and
    run the ONE precheck job (per-bucket row/key counts + id min/max —
    the duplicate guard's and the target-file pruning's shared input).

    The job reads only ``source``, never the table, so in a
    multi-commit lifecycle the handles for LATER batches can be
    computed from a small driver thread pool while an earlier commit's
    jobs run — the optimization guide's "overlap independent jobs"
    back-fill shape (§2.6) — without reordering any commit: the commit
    sequence, each commit's reads of prior table state, and the guard
    semantics are unchanged (a duplicate batch still fails before its
    own commit touches the table). Pass the returned handle to
    :func:`merge_table` / :func:`~.scd.scd2_merge` via ``prepared=``.

    Measured motivation (scripts/profile_lakehouse_phases.py, sf0.1):
    the precheck job is 0.15-0.6 s of a 1.2-2.8 s merge, serialized
    between commits by the driver's call sequence."""
    src = (source.withColumn("doc_bucket", _bucket_col())
           .localCheckpoint(eager=False))
    precheck = src.groupBy("doc_bucket").agg(
        F.count("*").alias("_rows"),
        F.countDistinct("documentid").alias("_keys"),
        F.min("documentid").alias("_idmin"),
        F.max("documentid").alias("_idmax"),
    ).collect()
    return src, precheck


def merge_table(source: DataFrame, table: str,
                when_matched: Optional[str] = "update",
                when_not_matched: Optional[str] = "insert",
                matched_condition: Optional[str] = None,
                txn=None, prepared=None) -> int:
    """Delta-style MERGE INTO keyed on ``documentid``.

    * ``when_matched="update"`` — replace ALL stored rows of the document
      with the source row (documents are whole units, possibly multi-row
      after chunking — replace-by-documentid semantics); ``"delete"`` —
      delete the document; ``None`` — leave matched documents untouched.
    * ``when_not_matched="insert"`` — append source rows whose documentid is
      absent from the table; ``None`` — drop them.
    * ``matched_condition`` — optional SQL boolean gating the matched clause;
      source columns are referenced plainly, a stored row's columns as
      ``target.<col>`` (e.g. ``"n_chars > target.n_chars"`` = update only
      when newer). The clause fires for a document when ANY of its stored
      rows satisfies the condition; documents with no passing row are kept
      as-is.

    Cost model: reads ONLY the buckets the source hashes into, and within
    them only the files whose documentid footer range overlaps the
    batch's (:func:`_merge_target_files`), writes O(batch) — updates and
    deletes are expressed as
    one equality deletion vector sharing the commit's sequence number with
    the new data files (strictly-smaller rule ⇒ the new row versions
    survive their own delete). Duplicate documentids in the source raise,
    matching Delta's multiple-source-rows-matched error — an ambiguous
    whole-row update has no deterministic winner. Returns the committed
    version. Replaces nothing the reference has (its writer is
    upsert-only, ``VectorStoreWriter.cs:76-108``); this is the general
    conditional form a lakehouse needs.

    ``txn=(app, epoch)`` is the same idempotent-retry guard as
    write/append: a retried epoch whose merge already committed is a
    no-op, which makes per-micro-batch streaming MERGE
    (:func:`..streaming.pipeline.stream_upsert`) exactly-once under
    at-least-once foreachBatch delivery.

    ``prepared`` — a :func:`prepare_batch` handle for ``source``,
    letting a multi-commit caller overlap this merge's precheck job
    with an earlier commit (§2.6); semantics identical.
    """
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"when_matched must be 'update', 'delete' or None, got {when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise ValueError(f"when_not_matched must be 'insert' or None, got {when_not_matched!r}")
    if "target" in source.columns:
        raise ValueError("source must not carry a column named 'target' "
                         "(reserved for matched_condition references)")
    spark = source.sparkSession
    if current_version(table) is None:
        if when_not_matched == "insert":
            return write_table(source, table, txn=txn)
        raise FileNotFoundError(f"no committed version in {table}")
    if txn is not None:
        # check BEFORE the precheck job: a retried epoch should cost one
        # manifest read, not a Spark job
        prior = read_manifest(table)
        if _txn_applied(prior, txn):
            return prior["version"]

    # the source batch is read several times (dup guard, bucket list, joins,
    # writes) — pin it once; a merge batch is bounded, unlike the table.
    # Lazy: the precheck collect right below materializes it, so an eager
    # checkpoint would only add a redundant job to every merge.
    # ONE job answers all three pre-checks: per-bucket row/key counts give
    # the affected-bucket list AND the duplicate guard (rows > distinct
    # keys), and per-bucket id [min,max] feeds target-file range pruning.
    # A `prepared` handle carries the same pair, computed ahead of time.
    src, precheck = prepared if prepared is not None else prepare_batch(source)
    if any(r["_rows"] > r["_keys"] for r in precheck):
        raise ValueError("source has duplicate documentids; merge requires "
                         "one source row per key (Delta semantics)")

    manifest = read_manifest(table)
    if _txn_applied(manifest, txn):  # re-check against the freshest manifest
        return manifest["version"]
    meta = _manifest_meta(manifest)
    _txn_record(meta, txn)
    affected = sorted(str(r["doc_bucket"]) for r in precheck)
    existing = [b for b in affected if manifest["buckets"].get(b)]
    # an unconditional delete-only merge never needs the target AT ALL:
    # a DV entry for an id the table doesn't hold is a no-op under the
    # strictly-smaller sequence rule, so the source ids (already distinct
    # per the dup guard) ARE the delete vector — O(batch) with zero
    # target IO, the shape a 100 TB delete wants
    if (when_matched == "delete" and matched_condition is None
            and when_not_matched is None and existing):
        del_ids = src.select("documentid", "doc_bucket")
        # small batches skip the bucket shuffle: src is already a
        # materialized checkpoint (the precheck ran), so coalesce(1)
        # stops at that lineage barrier and cannot collapse the source
        # scan; one task writing the per-bucket DV files beats a
        # 32-partition shuffle of a few thousand (id, bucket) rows
        small = sum(r["_rows"] for r in precheck) <= 1_000_000
        del_buckets = _write_bucket_files(del_ids, table,
                                          "d" + "m" + uuid.uuid4().hex[:7],
                                          prefix="del-", single_task=small)
        version = manifest["version"] + 1
        buckets = {b: list(names) for b, names in manifest["buckets"].items()}
        for b, names in del_buckets.items():
            if manifest["buckets"].get(b):
                meta["deletes"].setdefault(b, []).extend(names)
                meta["seq"].update({n: version for n in names})
            else:  # DV on a bucket with no pre-existing files is a no-op
                for n in names:
                    _data_delete(table, n)
        return _commit(table, version, buckets,
                       expected_current=manifest["version"],
                       extra=_prune_meta(meta, buckets),
                       op="MERGE_DELETE")
    tgt = tgt_keys = None
    if existing:
        tgt_files = _merge_target_files(manifest, meta, existing, precheck)
        tgt = _read_files(spark, table, manifest, bucket_subset=existing,
                          file_subset=tgt_files)
        # lazily pinned: the default merge consumes tgt_keys TWICE inside
        # the one commit job (matched semi-join + not-matched anti-join),
        # each consumption re-running the pruned target scan + distinct.
        # Its plan is small (scan+distinct), so — unlike a checkpoint on
        # the full merge pipeline (see sinks/scd.py) — the planning cost
        # is cheap: measured at sf0.1 (15k-key mixed update/insert
        # batches, 5 reps) median 4.49 s -> 2.64 s per merge, identical
        # results. Single-consumer shapes (delete-only, conditional) pay
        # only that small planning cost.
        tgt_keys = tgt.select("documentid").distinct() \
            .localCheckpoint(eager=False)

    # matched-and-passing DOCUMENT ids (stored docs may span several rows —
    # chunked tables — so all set logic is per documentid, never per row)
    act_ids = None
    if when_matched in ("update", "delete") and tgt_keys is not None:
        if matched_condition is None:
            act = src.join(tgt_keys, "documentid", "semi")
        else:
            # pack only the target columns the condition actually names —
            # nested-field pruning through a freshly built struct is not
            # guaranteed, and dragging the text column through the join
            # dominates merge cost on document tables
            import re as _re

            # capture both plain and backtick-quoted identifiers (a quoted
            # column may contain spaces/dots); if any `target.` reference
            # remains unparsed, pack ALL columns — over-packing costs IO,
            # under-packing fails the merge at analysis
            refs = _re.findall(r"target\.(?:`([^`]+)`|(\w+))", matched_condition)
            referenced = {a or b for a, b in refs}
            if len(_re.findall(r"target\.", matched_condition)) > len(refs):
                packed_cols = tgt.columns
            else:
                packed_cols = [c for c in tgt.columns if c in referenced] or tgt.columns
            tgt_packed = tgt.select(
                "documentid", F.struct(*packed_cols).alias("target")
            )
            act = src.join(tgt_packed, "documentid").filter(
                F.expr(matched_condition)
            )
        # NO localCheckpoint here: act_ids is consumed exactly once in
        # every merge shape (update ⇒ the new_rows semi-join, with DVs
        # derived in-task from the written rows; delete ⇒ the DV write),
        # and even a LAZY checkpoint forces full physical planning of the
        # src×target join on the driver (~0.5-1 s per merge measured at
        # sf0.1) for zero reuse benefit
        act_ids = (
            act.select("documentid").distinct()
            .withColumn("doc_bucket", _bucket_col())
        )

    new_rows = None
    if when_matched == "update" and act_ids is not None:
        new_rows = src.join(act_ids.select("documentid"), "documentid", "semi")
    if when_not_matched == "insert":
        ins = (src if tgt_keys is None
               else src.join(tgt_keys, "documentid", "left_anti"))
        new_rows = ins if new_rows is None else new_rows.unionByName(ins)
    del_df = act_ids

    version = manifest["version"] + 1
    token = "m" + uuid.uuid4().hex[:7]
    buckets = {b: list(names) for b, names in manifest["buckets"].items()}
    new_buckets: Dict[str, List[str]] = {}
    del_buckets: Dict[str, List[str]] = {}
    if new_rows is not None:
        _enforce_constraints(new_rows, meta["constraints"])
        _seed_schema(spark, table, manifest, meta)
        _schema_union(meta, new_rows)
        if del_df is not None and when_matched == "update":
            # data files + derived delete vectors in ONE Spark job (see
            # _write_bucket_files): for an UPDATE merge the matched ids
            # are a subset of the written rows' ids and insert-id DVs are
            # no-ops, so the DV set derives from the data rows in-task —
            # the second write job's overhead dominated small-batch merges
            new_buckets, del_buckets = _write_bucket_files(
                new_rows, table, token, stats=meta["stats"],
                derive_deletes=True, bloom_cols=meta["bloom_cols"],
                colmap=meta["colmap"])
            del_df = None  # consumed
        else:
            new_buckets = _write_bucket_files(new_rows, table, token,
                                              stats=meta["stats"],
                                              bloom_cols=meta["bloom_cols"],
                                              colmap=meta["colmap"])
    if del_df is not None:
        # delete-clause DVs (ids NOT among the written rows). NOT
        # single_task: coalesce(1) would propagate up through the
        # src-vs-target join and run the whole match on one task; the
        # bucket repartition keeps the join parallel and the DV files
        # per-bucket (delete_documents keeps single_task — its input is
        # a driver-built literal frame with no upstream to collapse)
        del_buckets = _write_bucket_files(del_df, table, "d" + token,
                                          prefix="del-")
    for b, names in new_buckets.items():
        buckets.setdefault(b, []).extend(names)
        meta["seq"].update({n: version for n in names})
    for b, names in del_buckets.items():
        if manifest["buckets"].get(b):
            meta["deletes"].setdefault(b, []).extend(names)
            meta["seq"].update({n: version for n in names})
        else:  # DV on a bucket with no pre-existing files is a no-op
            for n in names:
                _data_delete(table, n)
    return _commit(table, version, buckets, expected_current=manifest["version"],
                   extra=_prune_meta(meta, buckets), op="MERGE")


def compact(spark, table: str, max_files_per_bucket: int = 4) -> int:
    """Rewrite buckets that accumulated more than ``max_files_per_bucket``
    files (the small-file growth of per-batch streaming commits) OR carry
    pending deletion vectors into one materialised file each; untouched
    buckets keep their files by reference. Commits a new version; returns
    it (or the current one if nothing to compact)."""
    manifest = read_manifest(table)
    meta = _manifest_meta(manifest)
    to_compact = {
        b for b, names in manifest["buckets"].items()
        if len(names) > max_files_per_bucket or meta["deletes"].get(b)
    }
    if not to_compact:
        return manifest["version"]
    merged = _read_files(spark, table, manifest, bucket_subset=to_compact)
    token = "c" + uuid.uuid4().hex[:7]
    version = manifest["version"] + 1
    _seed_schema(spark, table, manifest, meta)
    _schema_union(meta, merged)
    new_buckets = _write_bucket_files(merged, table, token, stats=meta["stats"],
                                      bloom_cols=meta["bloom_cols"],
                                      colmap=meta["colmap"])
    buckets = {
        b: names for b, names in manifest["buckets"].items() if b not in to_compact
    }
    buckets.update(new_buckets)
    for names in new_buckets.values():
        meta["seq"].update({n: version for n in names})
    meta["deletes"] = {
        b: v for b, v in meta["deletes"].items() if b not in to_compact
    }
    return _commit(table, version, buckets, expected_current=manifest["version"],
                   extra=_prune_meta(meta, buckets), op="COMPACT")


def vacuum(table: str, keep_versions: int = 1,
           min_file_age_seconds: float = 86400.0,
           dry_run: bool = False) -> List[str]:
    """Delete files unreachable from the newest ``keep_versions`` manifests
    and drop manifests older than them. Versions ABOVE the live one (a
    racing writer's in-flight commit, or a crashed writer's orphan) are left
    untouched, files included — vacuum must never destroy a commit that may
    be about to win the _CURRENT swap.

    ``min_file_age_seconds`` (default 24 h, the Delta convention) protects
    files YOUNGER than the window even when no manifest references them:
    a concurrent writer fully writes its data files BEFORE claiming the
    next manifest, and an unguarded vacuum in that gap would delete the
    files out from under a commit that is about to succeed. Pass 0 only
    when no other writer can be active. Files whose age cannot be
    determined are kept. ``dry_run=True`` returns what WOULD be deleted
    without touching anything — the audit step before a real vacuum."""
    import time as _time

    be = backend_for(table)
    live = current_version(table)
    if live is None:
        return []
    keep = set()
    kept_versions = set(range(max(0, live - keep_versions + 1), live + 1))
    on_disk = [
        int(e.split("-")[1].split(".")[0])
        for e in be.list_dir(table) if e.startswith("manifest-")
    ]
    protected = kept_versions | {v for v in on_disk if v > live}
    for v in sorted(protected):
        try:
            m = read_manifest(table, v)
        except (FileNotFoundError, json.JSONDecodeError):
            continue  # half-written orphan: keeps nothing, stays on disk
        for names in m["buckets"].values():
            keep.update(names)
        for names in m.get("deletes", {}).values():
            keep.update(names)  # deletion vectors are live files too
    # a protected DELTA manifest reconstructs through its ancestors. The
    # OLDEST KEPT version is re-encoded as a full manifest first (same
    # state, different encoding — an atomic, content-preserving
    # overwrite), so the kept window is self-contained and every older
    # manifest can drop, keeping vacuum's contract exact. Readers of
    # versions AT the retention edge can race this (Delta checkpoints
    # share the caveat); kept versions above the edge chain within the
    # window. In-flight commits above live keep their chains via the
    # protection walk below.
    if not dry_run and kept_versions:
        oldest = min(kept_versions)
        raw = be.read_text(_manifest_path(table, oldest))
        try:
            if raw is not None and "base" in json.loads(raw):
                be.put_atomic(_manifest_path(table, oldest),
                              json.dumps(read_manifest(table, oldest)))
        except json.JSONDecodeError:
            pass
    chain_protect = set(protected)
    for v in sorted(protected):
        w = v
        while True:
            try:
                doc = json.loads(be.read_text(_manifest_path(table, w))
                                 or "null")
            except json.JSONDecodeError:
                break
            if not isinstance(doc, dict) or "base" not in doc:
                break
            w = doc["base"]
            if w in chain_protect:
                break
            chain_protect.add(w)
    removed = []
    files_dir = _join(table, "files")
    now = _time.time()
    # parquet files live in the DATA plane (its backend may differ from
    # the metadata plane's — e.g. the in-memory emulator in tests)
    from .data_backend import data_backend_for

    dbe = data_backend_for(table)
    for name in dbe.list_dir(files_dir):
        if name not in keep and name.endswith(".parquet"):
            if min_file_age_seconds > 0:
                age_at = dbe.mtime(_join(files_dir, name))
                if age_at is None:
                    continue  # age unknown: keep, stay safe
                if now - age_at < min_file_age_seconds:
                    continue
            if not dry_run:
                dbe.delete(_join(files_dir, name))
            removed.append(name)
    if not dry_run:
        for v in on_disk:
            if v not in chain_protect:
                be.delete(_manifest_path(table, v))
    return removed


def table_diff(spark, table: str, v_from: int, v_to: Optional[int] = None) -> DataFrame:
    """Change feed between two committed versions (CDF-lite): the data
    rows with ``_change_type`` ∈ {'insert', 'delete'} whose application
    turns version ``v_from`` into ``v_to`` (an update appears as its
    delete + insert pair, Delta CDF style).

    Fast path — append/DV-only history (no file was dropped): inserts
    are the rows of files ADDED between the versions (with v_to's
    deletes applied), deletes are the rows of RETAINED files killed by
    delete vectors added in between; cost is O(changed files + new
    DVs). Any rewrite (compaction, bucket rewrite) falls back to the
    generic exceptAll diff — exact for any history, O(both versions);
    a pure compaction correctly yields an EMPTY feed there, since file
    layout changed but content did not."""
    m0 = read_manifest(table, v_from)
    m1 = read_manifest(table, v_to)
    files0 = {n for fs in m0["buckets"].values() for n in fs}
    files1 = {n for fs in m1["buckets"].values() for n in fs}
    meta0, meta1 = _manifest_meta(m0), _manifest_meta(m1)
    dels0 = {n for fs in meta0["deletes"].values() for n in fs}
    dels1 = {n for fs in meta1["deletes"].values() for n in fs}

    ins_t = F.lit("insert").alias("_change_type")
    del_t = F.lit("delete").alias("_change_type")

    def align(x: DataFrame, y: DataFrame):
        # schema may have WIDENED between the versions; conform both
        # sides to the union of columns (missing -> typed nulls) so
        # exceptAll/union never see a column-count mismatch
        types = {f.name: f.dataType for f in y.schema.fields}
        types.update({f.name: f.dataType for f in x.schema.fields})
        cols = list(dict.fromkeys([*x.columns, *y.columns]))

        def sel(df):
            return df.select(*[
                (F.col(c) if c in df.columns
                 else F.lit(None).cast(types[c])).alias(c)
                for c in cols])

        return sel(x), sel(y)
    if files0 <= files1 and dels0 <= dels1:
        added = sorted(files1 - files0)
        inserts = (
            _read_files(spark, table, m1, file_subset=set(added))
            if added else None
        )
        new_dels = sorted(dels1 - dels0)
        deletes = None
        if new_dels:
            # rows of RETAINED (old) files that v_to's state kills but
            # v_from's didn't = old-files-with-old-DVs minus
            # old-files-with-new-DVs
            old_now = _read_files(spark, table, m1, file_subset=files0)
            old_before = _read_files(spark, table, m0, file_subset=files0)
            old_before, old_now = align(old_before, old_now)
            deletes = old_before.exceptAll(old_now)
        parts = []
        if inserts is not None:
            parts.append(inserts.select("*", ins_t))
        if deletes is not None:
            parts.append(deletes.select("*", del_t))
        if not parts:
            base = read_table(spark, table, v_to)
            return base.limit(0).select("*", ins_t)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    before = read_table(spark, table, v_from)
    after = read_table(spark, table, v_to)
    before, after = align(before, after)
    return (
        after.exceptAll(before).select("*", ins_t)
        .unionByName(before.exceptAll(after).select("*", del_t))
    )


def _guard_colmap_op(meta: Dict, col: str) -> None:
    if col in ("documentid", "doc_bucket"):
        raise ValueError(f"column {col!r} is structural and cannot be "
                         "renamed or dropped")
    import re as _re

    for cname, expr in meta["constraints"].items():
        if _re.search(rf"\b{_re.escape(col)}\b", expr):
            raise ValueError(
                f"column {col!r} is referenced by CHECK constraint "
                f"{cname!r}; drop the constraint first")


def rename_column(table: str, old: str, new: str) -> int:
    """Metadata-only column RENAME (Delta column-mapping analog): data
    files keep their frozen physical names, the manifest schema adopts
    the new logical name, and reads/writes map through the recorded
    logical->physical table. O(manifest) at any size; no file is read or
    rewritten. Time travel to pre-rename versions shows the old name.
    Once a table has renamed or dropped a column, NEW columns get
    fresh physical names (re-adding a retired name never resurrects its
    buried bytes). ``documentid`` is structural and cannot move;
    columns referenced by CHECK constraints must be un-constrained
    first. Streaming sources and Delta export gate loudly on mapped
    tables (same restriction family as Delta's columnMapping+CDF)."""
    manifest = read_manifest(table)
    meta = _manifest_meta(manifest)
    _guard_colmap_op(meta, old)
    names = [f["name"] for f in meta["schema"]]
    if old not in names:
        raise ValueError(f"no column {old!r} in {table}")
    if new in names:
        raise ValueError(f"column {new!r} already exists in {table}")
    cm = meta["colmap"] if meta.get("colmap") is not None else {}
    phys = cm.pop(old, old)
    if phys != new:
        cm[new] = phys
    meta["colmap"] = cm  # mapping mode is ON from here, even if empty
    for f in meta["schema"]:
        if f["name"] == old:
            f["name"] = new
    meta["bloom_cols"] = [new if c == old else c for c in meta["bloom_cols"]]
    buckets = {b: list(v) for b, v in manifest["buckets"].items()}
    return _commit(table, manifest["version"] + 1, buckets,
                   expected_current=manifest["version"],
                   extra=_prune_meta(meta, buckets), op="RENAME_COLUMN")


def drop_column(table: str, col: str) -> int:
    """Metadata-only column DROP: the field leaves the schema (reads
    stop selecting it — trusted-schema scans never touch the bytes), the
    mapping entry retires, and data files are untouched until a rewrite
    (compact/OPTIMIZE) naturally ages the bytes out. A later re-add of
    the same name is a NEW column (fresh physical name, nulls for old
    rows). Same guards as :func:`rename_column`."""
    manifest = read_manifest(table)
    meta = _manifest_meta(manifest)
    _guard_colmap_op(meta, col)
    names = [f["name"] for f in meta["schema"]]
    if col not in names:
        raise ValueError(f"no column {col!r} in {table}")
    cm = meta["colmap"] if meta.get("colmap") is not None else {}
    cm.pop(col, None)
    meta["colmap"] = cm
    meta["schema"] = [f for f in meta["schema"] if f["name"] != col]
    meta["bloom_cols"] = [c for c in meta["bloom_cols"] if c != col]
    buckets = {b: list(v) for b, v in manifest["buckets"].items()}
    return _commit(table, manifest["version"] + 1, buckets,
                   expected_current=manifest["version"],
                   extra=_prune_meta(meta, buckets), op="DROP_COLUMN")


def pair_update_images(changes: DataFrame) -> DataFrame:
    """Relabel a change feed's update pairs with Delta CDF's richer
    types: a documentid that has BOTH a delete and an insert in the same
    commit (or in the same :func:`table_diff` window when no
    ``_commit_version`` column is present) was updated — its delete rows
    become ``update_preimage`` and its insert rows ``update_postimage``;
    pure inserts/deletes keep their labels. Granularity is the
    DOCUMENT (deletes are whole-document in this store), so a chunked
    document's every pre/post row carries the image label. One window
    over the feed, no extra reads — apply to :func:`table_diff` output
    or inside a ``stream_changes`` foreachBatch."""
    from pyspark.sql.window import Window

    keys = ["documentid"] + (
        ["_commit_version"] if "_commit_version" in changes.columns else [])
    w = Window.partitionBy(*keys)
    ct = F.col("_change_type")
    both = ((F.max((ct == "delete").cast("int")).over(w) == 1)
            & (F.max((ct == "insert").cast("int")).over(w) == 1))
    relabeled = (F.when(both & (ct == "delete"), F.lit("update_preimage"))
                 .when(both & (ct == "insert"), F.lit("update_postimage"))
                 .otherwise(ct))
    return changes.withColumn("_change_type", relabeled)


def table_stats(table: str, version: Optional[int] = None) -> Dict:
    """Operational health report from MANIFEST METADATA ONLY (no data
    read): version, file/bucket counts, row totals (from per-file
    stats), small-file pressure (files per bucket — the compact()
    trigger), pending deletion vectors, and stats coverage. The numbers
    an operator needs to schedule compact()/vacuum() at 100 TB without
    scanning anything."""
    m = read_manifest(table, version)
    meta = _manifest_meta(m)
    per_bucket = {b: len(v) for b, v in m["buckets"].items() if v}
    files = [n for v in m["buckets"].values() for n in v]
    rows = [meta["stats"].get(n, {}).get("rows") for n in files]
    known = [r for r in rows if r is not None]
    return {
        "version": m["version"],
        "n_buckets": len(per_bucket),
        "n_files": len(files),
        "max_files_per_bucket": max(per_bucket.values(), default=0),
        "n_rows_known": sum(known),
        "stats_coverage": (len(known) / len(files)) if files else 1.0,
        "n_delete_vectors": sum(len(v) for v in meta["deletes"].values()),
        "buckets_with_deletes": sum(1 for v in meta["deletes"].values() if v),
    }


def metadata_count(spark, table: str, version: Optional[int] = None) -> int:
    """Exact ``COUNT(*)`` of the table — answered from MANIFEST METADATA
    when possible (Delta answers ``SELECT COUNT(*)`` from its log the
    same way): with no live deletion vectors and full per-file stats
    coverage, the count is the sum of the recorded per-file row counts —
    zero data files opened, O(manifest) driver work at any table size.

    Equality DVs make the metadata answer inexact (a DV id may kill
    zero or many rows across files, so no stored cardinality is
    correct by construction), and files predating stats have unknown
    rows — both cases fall back to counting the DV-applied scan, same
    result, just not free. ``compact()`` restores the metadata-only
    path by materializing DVs."""
    m = read_manifest(table, version)
    meta = _manifest_meta(m)
    live = any(meta["deletes"].get(b) for b in m["buckets"]
               if m["buckets"].get(b))
    files = [n for v in m["buckets"].values() for n in v]
    rows = [meta["stats"].get(n, {}).get("rows") for n in files]
    if not live and all(r is not None for r in rows):
        return int(sum(rows))
    return _read_files(spark, table, m).count()


def register_table(spark, table: str, name: str,
                   version: Optional[int] = None,
                   timestamp: Optional[float] = None) -> None:
    """Expose a manifest table to ``spark.sql`` as a temp view ``name``
    (DV-applied current snapshot, or a time-travel snapshot with
    ``version=`` / ``timestamp=`` — the VERSION/TIMESTAMP AS OF analogs). The view is a lazy logical
    plan over the manifest's file list: filters and projections on it
    still prune/push down through the parquet scan, and nothing is read
    until a query runs. Re-register after commits to see a newer head
    (a view pins the file list of the version it was built from —
    exactly Delta's snapshot-isolation read semantics)."""
    read_table(spark, table, version=version,
               timestamp=timestamp).createOrReplaceTempView(name)


def table_sql(spark, query: str, tables: Dict[str, str],
              versions: Optional[Dict[str, int]] = None) -> DataFrame:
    """One-shot SQL over manifest tables: register each ``name -> path``
    (optionally pinned to ``versions[name]``) and run ``query``. All
    views see their version's consistent snapshot, so multi-table joins
    read one coherent state even while writers commit concurrently."""
    for name, path in tables.items():
        register_table(spark, path, name, (versions or {}).get(name))
    return spark.sql(query)


def metadata_minmax(spark, table: str, cols: List[str],
                    version: Optional[int] = None) -> Dict[str, tuple]:
    """Exact ``MIN(col)``/``MAX(col)`` per column — answered from the
    per-file column stats recorded at write time (Delta answers
    min/max the same way): with no live deletion vectors and a stats
    range present for the column in EVERY non-empty file, the answer is
    the fold of the file ranges — zero data files opened, O(manifest)
    driver work at any table size.

    Falls back to an aggregating scan (same result, not free) for the
    columns it cannot prove from metadata: any live DV (a deleted row
    may have held the extreme), a file predating stats, a file whose
    stats skipped the column (non-primitive type, >32 columns, or
    all-null within that file — pyarrow ``min_max`` ignores nulls, so a
    missing range cannot be assumed empty). SQL MIN/MAX null semantics
    are preserved: nulls never win, an all-null column folds to
    ``(None, None)`` via the scan path. ``compact()`` restores the
    metadata-only path after deletes."""
    m = read_manifest(table, version)
    meta = _manifest_meta(m)
    live = any(meta["deletes"].get(b) for b in m["buckets"]
               if m["buckets"].get(b))
    files = [n for v in m["buckets"].values() for n in v]
    out: Dict[str, tuple] = {}
    need_scan = []
    for c in cols:
        pc = _phys_name(meta, c)  # stats key by physical name
        ranges, provable = [], not live
        for n in files:
            st = meta["stats"].get(n)
            if st is None:
                provable = False
                break
            if st.get("rows") == 0:
                continue
            rng = (st.get("cols") or {}).get(pc)
            if rng is None:
                provable = False
                break
            ranges.append(rng)
        if provable:
            out[c] = ((min(r[0] for r in ranges), max(r[1] for r in ranges))
                      if ranges else (None, None))
        else:
            need_scan.append(c)
    if need_scan:
        row = _read_files(spark, table, m).agg(
            *[f(c) for c in need_scan for f in (F.min, F.max)]).collect()[0]
        for i, c in enumerate(need_scan):
            out[c] = (row[2 * i], row[2 * i + 1])
    return out


def sync_table(spark, src: str, dst: str) -> int:
    """Incremental downstream replication off the change feed (the Delta
    CDF → sync pattern): bring ``dst`` from the last src version it
    applied to ``src``'s current version WITHOUT rescanning either
    table — inserts/updates apply as one replace-by-documentid commit
    over the diff's insert rows (multi-row documents replace atomically,
    which a one-row-per-key MERGE cannot express), pure deletions as one
    O(batch) DV commit. The applied src version rides in dst's txn map
    under ``sync:<src>``, so a re-run after success is a no-op and a
    re-run after a mid-sync crash re-applies idempotent operations
    (replace-by-id and delete-by-id converge to the same state).
    First call bootstraps dst as a full copy. Returns dst's version."""
    app = f"sync:{src.rstrip('/')}"
    sv = current_version(src)
    if sv is None:
        raise FileNotFoundError(f"no committed version in {src}")
    dv = current_version(dst)
    if dv is None:
        return write_table(read_table(spark, src), dst, txn=(app, sv))
    dman = read_manifest(dst)
    applied = dman.get("txn", {}).get(app)
    if applied is None:
        raise ValueError(
            f"{dst} was not created by sync_table from {src} "
            "(no sync txn recorded); bootstrap into an empty path")
    if int(applied) >= sv:
        return dman["version"]
    diff = table_diff(spark, src, int(applied), sv).localCheckpoint(eager=True)
    ins = diff.filter(F.col("_change_type") == "insert").drop("_change_type")
    ins_ids = ins.select("documentid").distinct()
    pure_del = [
        r["documentid"] for r in
        diff.filter(F.col("_change_type") == "delete")
        .select("documentid").distinct()
        .join(ins_ids, "documentid", "left_anti").collect()
    ]
    version = dman["version"]
    if ins.limit(1).count():
        version = incremental_replace(ins, dst, mode="dv",
                                      txn=None if pure_del else (app, sv))
    if pure_del:
        delete_documents(spark, dst, pure_del)
        # stamp the applied src version in its own metadata-only commit
        # (delete_documents has no txn seam; the stamp must be LAST so a
        # crash before it replays the idempotent steps above)
        man = read_manifest(dst)
        meta = _manifest_meta(man)
        _txn_record(meta, (app, sv))
        version = _commit(dst, man["version"] + 1,
                          {b: list(n) for b, n in man["buckets"].items()},
                          expected_current=man["version"],
                          extra=_prune_meta(meta, {b: list(n) for b, n
                                                   in man["buckets"].items()}),
                          op="SYNC_STAMP")
    return version


def restore_table(table: str, version: int, validate: bool = True) -> int:
    """Delta-style ``RESTORE TABLE ... TO VERSION AS OF``: commit a NEW
    head whose data state is exactly an earlier committed version's.
    Metadata-only — the restored version's file references, per-file
    sequence numbers, deletion vectors, stats, and schema are re-pointed,
    no data file is read, copied, or rewritten (O(manifest), not O(data),
    which is the only acceptable cost for an undo at 100 TB). History is
    preserved: the bad versions stay readable via time travel, and the
    restore itself is an ordinary commit that ``table_diff`` reports like
    any other.

    The CURRENT head's txn map (writer-app -> last applied epoch) is
    carried forward, not the restored version's: restore rolls back DATA,
    not other writers' idempotent-retry watermarks — resetting those
    would let a retried streaming micro-batch re-apply and double-count.

    ``validate=True`` (default) checks the restored data files still
    exist before committing — :func:`vacuum` may have collected files
    unreachable from recent versions; restoring past a vacuum horizon
    must fail loudly at restore time, not at first read."""
    try:
        old = read_manifest(table, version)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"cannot restore {table} to version {version}: that manifest "
            "was vacuumed (or never committed)")
    head = read_manifest(table)
    if validate:
        from .data_backend import data_backend_for

        be = data_backend_for(table)
        present = set(be.list_dir(_join(table, "files")))
        need = {n for ns in old["buckets"].values() for n in ns}
        need |= {n for ns in old.get("deletes", {}).values() for n in ns}
        # externally-referenced files (shallow clones) live outside this
        # table's files/ dir — check each referenced dir, listed once
        ext = old.get("ext", {})
        by_dir: Dict[str, set] = {}
        for n in need & set(ext):
            p = ext[n]
            by_dir.setdefault(p.rsplit("/", 1)[0], set()).add(n)
        for d, names in by_dir.items():
            listed = set(be.list_dir(d))
            present |= {n for n in names if n in listed}
        missing = sorted(need - present)
        if missing:
            raise FileNotFoundError(
                f"cannot restore {table} to version {version}: "
                f"{len(missing)} data file(s) were vacuumed "
                f"(first: {missing[0]})")
    extra = {k: v for k, v in old.items()
             if k not in ("version", "txn", "op", "ts")}
    txn_map = dict(head.get("txn", {}))
    if txn_map:
        extra["txn"] = txn_map
    else:
        extra.pop("txn", None)
    return _commit(table, head["version"] + 1,
                   extra.pop("buckets"),
                   expected_current=head["version"], extra=extra,
                   op="RESTORE")


def clone_table(src: str, dst: str, version: Optional[int] = None,
                shallow: bool = True) -> int:
    """Delta-style ``CREATE TABLE ... CLONE``: materialize ``dst`` as an
    independent table whose initial state equals ``src`` at ``version``
    (default: head).

    ``shallow=True`` (default) copies NO data: dst's manifest references
    src's data files by absolute path (the manifest's ``ext`` map), so
    the clone commits in O(manifest) regardless of table size — the
    zero-cost dev/test-against-prod branch a 100 TB table needs. Writes
    to the clone land in the clone's own ``files/`` dir and never touch
    src; :func:`compact` re-materializes rewritten buckets as owned
    files (un-shallowing them), and :func:`vacuum` on the CLONE never
    deletes src's files (they live outside its files/ dir). The one
    Delta-shared caveat applies and is intentional: ``vacuum`` on the
    SOURCE does not know about clones — vacuuming src past the cloned
    version breaks the clone, so keep src's retention ≥ clone lifetime.

    ``shallow=False`` byte-copies the referenced files into dst (no
    Spark job — a driver-side backend copy; at real scale prefer a
    distributed file copy, then :func:`restore_table`-style metadata
    fix-up, or just a shallow clone + :func:`compact`).

    dst must not already exist as a table. Returns dst's version (0)."""
    from .data_backend import data_backend_for

    man = read_manifest(src, version)
    meta = _manifest_meta(man)
    if current_version(dst) is not None:
        raise FileExistsError(f"{dst} already holds a committed table")
    sbe, dbe = data_backend_for(src), data_backend_for(dst)
    dbe.ensure_dir(_join(dst, "files"))
    src_files = _join(src, "files")
    names = {n for ns in man["buckets"].values() for n in ns}
    names |= {n for ns in meta["deletes"].values() for n in ns}
    src_ext = meta.get("ext", {})  # cloning a clone: chase to the real file
    if shallow:
        if sbe.__class__ is not dbe.__class__:
            raise ValueError(
                "shallow clone requires src and dst on the same storage "
                "backend (the clone reads src's files in place)")
        meta["ext"] = {n: src_ext.get(n) or _join(src_files, n)
                       for n in names}
    else:
        meta.pop("ext", None)
        for n in sorted(names):
            data = sbe.read_bytes(src_ext.get(n) or _join(src_files, n))
            if data is None:
                raise FileNotFoundError(_join(src_files, n))
            dbe.write_bytes(_join(dst, "files", n), data)
    # SHIFT copied sequence numbers BELOW zero (order-preserving): seq
    # values in the source ran up to src's version, but the clone's own
    # commits restart at version 1 — copied verbatim, a fresh DV commit
    # on the clone (seq 1) would rank BELOW copied data files (seq up to
    # src version) and the strictly-smaller delete rule would silently
    # no-op it. Shifting all copied seqs by -(max+1) keeps every copied
    # DV/data relationship intact while guaranteeing any new commit
    # supersedes the cloned snapshot.
    seqs = {n: int(meta["seq"].get(n, 0)) for n in names}  # default-0 files
    if seqs:                                               # shift with the rest
        shift = max(seqs.values()) + 1
        meta["seq"] = {n: v - shift for n, v in seqs.items()}
    extra = {k: v for k, v in meta.items() if v}
    # colmap {} means "mapping mode, no renames yet" — dropping it via the
    # falsy filter would clone into NON-mapping mode, and re-adding a
    # previously dropped column name in the clone would resurrect the
    # buried bytes from the shallow-referenced files (mirrors
    # _prune_meta's `colmap is None` check)
    if meta.get("colmap") is not None:
        extra["colmap"] = meta["colmap"]
    extra.pop("txn", None)  # a clone starts with no writer watermarks
    extra["cloned_from"] = {"table": src, "version": man["version"],
                            "shallow": shallow}
    return _commit(dst, 0, {b: list(ns) for b, ns in man["buckets"].items()},
                   extra=extra, op="CLONE")


def optimize_zorder(spark, table: str, by: List[str], bits: int = 12,
                    files_per_bucket: int = 4,
                    bounds: Optional[Dict[str, Tuple[int, int]]] = None,
                    bucket_subset: Optional[Iterable[str]] = None) -> int:
    """Delta-style ``OPTIMIZE ... ZORDER BY``: rewrite the table clustered
    along a Morton curve over ``by`` (>= 2 int-like columns) so every
    data file carries TIGHT per-column [min,max] stats in all chosen
    dimensions at once — :func:`read_table_where` then prunes
    multi-predicate scans to ~1/2^d of the files instead of reading
    everything. Rows stay in their documentid hash bucket (merge /
    point-lookup pruning is untouched); each bucket is split into
    ``files_per_bucket`` z-contiguous files, rows sorted by the curve key
    inside each file (parquet row-group stats get the same win).

    Pending deletion vectors are materialized by the rewrite (it reads
    through :func:`_read_files`), so OPTIMIZE doubles as a full compact.
    Column bounds come from ``bounds`` (col -> (lo, hi)), else from the
    manifest's per-file stats (metadata-only), else from one min/max agg
    job. Stale bounds only degrade clustering, never correctness — the
    curve key clamps.

    Cost: one rewrite of the selected buckets (full table by default) —
    the same O(data) any engine's OPTIMIZE pays. ``bucket_subset``
    re-clusters ONLY those buckets (liquid-clustering style incremental
    OPTIMIZE — :func:`maintain_table` picks the drifted ones from
    metadata), reading and rewriting nothing else; bounds still come
    from the whole table's stats so slices from different passes align
    on the same quadrant grid. Commits one new version; concurrent
    appends lose the optimistic race and retry, never get clobbered."""
    from .layout import zorder_key

    manifest = read_manifest(table)
    meta = _manifest_meta(manifest)
    live = [n for ns in manifest["buckets"].values() for n in ns]
    if not live:
        return manifest["version"]

    from .layout import string_prefix_int

    # STRING columns cluster by an order-preserving 7-byte prefix int
    # (layout.string_prefix_key); file SKIPPING still compares the real
    # string min/max stats, so prefix collisions only coarsen layout
    is_str = {
        f["name"]: (isinstance(f.get("type"), str)
                    and f["type"] == "string")
        for f in meta["schema"]
    }

    def _as_int(c, v):
        return string_prefix_int(v) if is_str.get(c) else int(v)

    los, his = [], []
    need_scan = []
    bounds = dict(bounds or {})
    for c in by:
        if c in bounds:
            continue
        per_file = [meta["stats"].get(n, {}).get("cols", {}).get(c)
                    for n in live]
        if all(p is not None for p in per_file) and all(
                isinstance(p[0], (int, float, str)) for p in per_file):
            bounds[c] = (min(_as_int(c, p[0]) for p in per_file),
                         max(_as_int(c, p[1]) for p in per_file))
        else:
            need_scan.append(c)

    def _term(c):
        # zorder_key inlines these into SQL, so a full expression works;
        # this is string_prefix_key(c, nbytes=7) spelled as SQL
        if not is_str.get(c):
            return c
        return (f"CAST(conv(rpad(substring(hex(encode(coalesce({c}, '')"
                f", 'UTF-8')), 1, 14), 14, '0'), 16, 10) AS BIGINT)")

    subset = (None if bucket_subset is None
              else sorted({str(b) for b in bucket_subset}))
    merged = _read_files(spark, table, manifest, bucket_subset=subset)
    if need_scan:
        row = merged.agg(
            *[F.min(F.expr(_term(c)).cast("bigint")).alias(f"_lo_{c}")
              for c in need_scan],
            *[F.max(F.expr(_term(c)).cast("bigint")).alias(f"_hi_{c}")
              for c in need_scan]).collect()[0]
        for c in need_scan:
            lo, hi = row[f"_lo_{c}"], row[f"_hi_{c}"]
            if lo is None:
                raise ValueError(f"cannot z-order by all-null column {c!r}")
            bounds[c] = (int(lo), int(hi))
    terms = []
    for c in by:
        lo, hi = bounds[c]
        hi = hi if hi > lo else lo + 1  # constant column: degenerate
        # the scaler computes (v - lo) * (2^bits - 1) in BIGINT: for huge
        # ranges (string prefix ints reach 2^56) that product overflows,
        # so down-shift value and bounds together — layout only coarsens
        term = _term(c)
        shift = max(0, (hi - lo).bit_length() + bits - 62)
        if shift:
            term = f"(({term}) div {1 << shift})"
            lo >>= shift
            hi = max(hi >> shift, lo + 1)
        terms.append(term)
        los.append(lo)
        his.append(hi)

    zk = zorder_key(terms, los, his, bits)
    n_slices = max(1, int(files_per_bucket))
    # VALUE-aligned slices (equal z-ranges), not count-aligned ntile:
    # with a power-of-two slice count the boundaries fall on Morton
    # quadrant edges, so a d-dimensional box predicate lands in exactly
    # the quadrant files instead of leaking across count-balanced splits
    # — and the slice id is a pure projection (no per-bucket window
    # sort), keeping OPTIMIZE's only shuffle the bucket repartition.
    # Cost: skewed data gives uneven file sizes; stats stay correct.
    divisor = max(1, (1 << (bits * len(by))) // n_slices)
    clustered = (
        merged.withColumn("_zkey", zk)
        .withColumn("_zslice",
                    F.least(F.expr(f"CAST(_zkey DIV {divisor} AS INT)"),
                            F.lit(n_slices - 1)))
    )
    version = manifest["version"] + 1
    token = "z" + uuid.uuid4().hex[:7]
    _seed_schema(spark, table, manifest, meta)
    _schema_union(meta, merged)
    new_buckets = _write_bucket_files(clustered, table, token,
                                      stats=meta["stats"],
                                      split_col="_zslice", sort_col="_zkey",
                                      bloom_cols=meta["bloom_cols"],
                                      colmap=meta["colmap"])
    if subset is None:
        buckets = new_buckets
        meta["seq"] = {n: version for ns in new_buckets.values() for n in ns}
        meta["deletes"] = {}
    else:
        # incremental pass: untouched buckets keep files, seqs, and DVs
        buckets = {b: names for b, names in manifest["buckets"].items()
                   if b not in set(subset)}
        buckets.update(new_buckets)
        for ns in new_buckets.values():
            meta["seq"].update({n: version for n in ns})
        meta["deletes"] = {b: v for b, v in meta["deletes"].items()
                           if b not in set(subset)}
    return _commit(table, version, buckets,
                   expected_current=manifest["version"],
                   extra=_prune_meta(meta, buckets),
                   op="OPTIMIZE_ZORDER")


def add_constraint(spark, table: str, name: str, expr: str) -> int:
    """Delta-style ``ALTER TABLE ... ADD CONSTRAINT <name> CHECK (expr)``:
    validates the EXISTING table data against ``expr`` (one filter pass;
    a table already in violation refuses the constraint, Delta
    semantics), then commits the constraint as metadata. Every
    subsequent data-adding commit (write/append/replace/merge insert or
    update rows) is checked in one extra job and rejected atomically on
    violation — the bad batch's files stay invisible orphans. NULL
    evaluations pass (SQL CHECK semantics). Returns the new version."""
    manifest = read_manifest(table)
    meta = _manifest_meta(manifest)
    if name in meta["constraints"]:
        raise ValueError(f"constraint {name!r} already exists on {table}")
    _enforce_constraints(_read_files(spark, table, manifest), {name: expr})
    meta["constraints"][name] = expr
    buckets = {b: list(ns) for b, ns in manifest["buckets"].items()}
    return _commit(table, manifest["version"] + 1, buckets,
                   expected_current=manifest["version"],
                   extra=_prune_meta(meta, buckets), op="ADD_CONSTRAINT")


def drop_constraint(table: str, name: str) -> int:
    """Remove a CHECK constraint (metadata-only commit)."""
    manifest = read_manifest(table)
    meta = _manifest_meta(manifest)
    if name not in meta["constraints"]:
        raise ValueError(f"no constraint {name!r} on {table}")
    del meta["constraints"][name]
    buckets = {b: list(ns) for b, ns in manifest["buckets"].items()}
    return _commit(table, manifest["version"] + 1, buckets,
                   expected_current=manifest["version"],
                   extra=_prune_meta(meta, buckets), op="DROP_CONSTRAINT")


def bucket_drift(table: str, by: List[str]) -> Dict[str, float]:
    """Per-bucket :func:`clustering_drift` (same pairwise-overlap metric,
    restricted to each bucket's own files) — the selection signal for
    incremental OPTIMIZE: rewrite only buckets whose local overlap is
    high. Metadata-only."""
    manifest = read_manifest(table)
    meta = _manifest_meta(manifest)
    out: Dict[str, float] = {}
    for b, names in manifest["buckets"].items():
        pairs = overlaps = 0
        for i in range(len(names)):
            for j in range(i + 1, len(names)):
                pairs += 1
                overlaps += _files_overlap(meta, names[i], names[j], by)
        out[b] = overlaps / pairs if pairs else 0.0
    return out


def _files_overlap(meta: Dict, na: str, nb: str, by: List[str]) -> bool:
    for c in by:
        c = _phys_name(meta, c)  # stats key by physical name
        a = meta["stats"].get(na, {}).get("cols", {}).get(c)
        b = meta["stats"].get(nb, {}).get("cols", {}).get(c)
        if a is None or b is None:
            continue  # statless: cannot separate -> overlaps
        try:
            if a[0] > b[1] or b[0] > a[1]:
                return False
        except TypeError:
            continue
    return True


def clustering_drift(table: str, by: List[str]) -> float:
    """Average same-bucket file-overlap fraction in the ``by`` dimensions
    — a metadata-only clustering-health signal in [0, 1]. For every pair
    of files sharing a bucket, they "overlap" when their per-file
    [min,max] stats intersect in EVERY listed column (the condition
    under which a multi-dim predicate cannot separate them). Freshly
    appended random files overlap almost everything (→ 1.0); files cut
    by :func:`optimize_zorder` have disjoint bounding boxes by
    construction (value-aligned slices partition the space, → ~0.0).
    Robust to skewed value distributions, unlike a global-span ratio —
    overlap is relative to neighbors, not to the global range. Files
    without stats overlap everything. O(Σ files_per_bucket²) manifest
    arithmetic, no data IO; single-file buckets contribute nothing."""
    manifest = read_manifest(table)
    meta = _manifest_meta(manifest)
    pairs = overlaps = 0
    for names in manifest["buckets"].values():
        for i in range(len(names)):
            for j in range(i + 1, len(names)):
                pairs += 1
                overlaps += _files_overlap(meta, names[i], names[j], by)
    return overlaps / pairs if pairs else 0.0


def maintain_table(spark, table: str, *,
                   max_files_per_bucket: int = 4,
                   keep_versions: int = 3,
                   min_file_age_seconds: float = 86400.0,
                   zorder_by: Optional[List[str]] = None,
                   max_drift: float = 0.5) -> Dict:
    """One-call policy-driven maintenance — the OPTIMIZE/VACUUM scheduler
    an operator would cron at 100 TB. Every DECISION is metadata-only
    (one manifest read); data moves only when a trigger fires:

    1. ``zorder_by`` set and :func:`clustering_drift` > ``max_drift``
       → :func:`optimize_zorder` (full clustered rewrite, which also
       materializes DVs and compacts);
    2. else files-per-bucket over ``max_files_per_bucket`` OR pending
       DVs → :func:`compact`;
    3. :func:`vacuum` with the given retention.

    Returns a report of what ran and why; a healthy table returns
    ``actions: []`` having read one manifest and listed one directory.
    Idempotent: a second call right after is a no-op by construction."""
    st = table_stats(table)
    report: Dict = {"version_before": st["version"], "actions": [],
                    "stats": st}
    man = read_manifest(table)
    meta = _manifest_meta(man)
    # declared bloom columns not yet present in every file's stats mean
    # equality skipping is partial — a one-time full rewrite back-fills
    bloom_gap = False
    if meta["bloom_cols"]:
        names = [n for ns in man["buckets"].values() for n in ns]
        bloom_gap = any(
            set(meta["bloom_cols"])
            - set(meta["stats"].get(n, {}).get("blooms", {}))
            for n in names)
        report["bloom_backfill_needed"] = bloom_gap
    drift = None
    hot: List[str] = []
    per_b: Dict[str, float] = {}
    if zorder_by:
        drift = clustering_drift(table, zorder_by)
        report["clustering_drift"] = round(drift, 3)
        per_b = bucket_drift(table, list(zorder_by))
        hot = sorted(b for b, d in per_b.items() if d > max_drift)
    if zorder_by and hot:
        populated = len(per_b)
        # liquid-clustering style: when drift is localized, rewrite only
        # the drifted buckets (bounds stay global, grids align); a
        # mostly-drifted table takes the full rewrite (also clears DVs)
        if len(hot) < populated / 2:
            v = optimize_zorder(spark, table, list(zorder_by),
                                bucket_subset=hot)
            report["actions"].append(
                {"op": "optimize_zorder", "version": v,
                 "buckets": len(hot),
                 "reason": (f"drift {drift:.2f} > {max_drift} in "
                            f"{len(hot)}/{populated} buckets")})
        else:
            v = optimize_zorder(spark, table, list(zorder_by))
            report["actions"].append(
                {"op": "optimize_zorder", "version": v,
                 "reason": f"drift {drift:.2f} > {max_drift}"})
    elif bloom_gap:
        v = compact(spark, table, max_files_per_bucket=0)
        report["actions"].append(
            {"op": "compact", "version": v,
             "reason": "bloom back-fill for declared columns"})
    elif (st["max_files_per_bucket"] > max_files_per_bucket
            or st["n_delete_vectors"] > 0):
        v = compact(spark, table, max_files_per_bucket=max_files_per_bucket)
        if v != st["version"]:
            report["actions"].append(
                {"op": "compact", "version": v,
                 "reason": (f"max_files_per_bucket "
                            f"{st['max_files_per_bucket']} > "
                            f"{max_files_per_bucket}"
                            if st["max_files_per_bucket"]
                            > max_files_per_bucket
                            else f"{st['n_delete_vectors']} pending DVs")})
    removed = vacuum(table, keep_versions=keep_versions,
                     min_file_age_seconds=min_file_age_seconds)
    if removed:
        report["actions"].append({"op": "vacuum", "removed": len(removed)})
    report["version_after"] = current_version(table)
    return report


def table_history(table: str, limit: Optional[int] = None) -> List[Dict]:
    """Delta ``DESCRIBE HISTORY`` analog: the commit log, newest first —
    version, operation label (recorded at commit time), file/row/DV
    counts from manifest metadata. Vacuumed versions vanish from history
    like their manifests. O(manifests read), no data IO."""
    be = backend_for(table)
    live = current_version(table)
    if live is None:
        return []
    out = []
    for v in range(live, -1, -1):
        if limit is not None and len(out) >= limit:
            break
        try:
            m = read_manifest(table, v)
        except (FileNotFoundError, json.JSONDecodeError):
            continue  # vacuumed (or orphaned) version
        meta = _manifest_meta(m)
        files = [n for ns in m["buckets"].values() for n in ns]
        rows = [meta["stats"].get(n, {}).get("rows") for n in files]
        entry = {
            "version": v,
            "op": m.get("op", "UNKNOWN"),
            "ts": m.get("ts"),
            "n_files": len(files),
            "n_rows_known": sum(r for r in rows if r is not None),
            "n_delete_vectors": sum(len(x) for x in meta["deletes"].values()),
        }
        if "cloned_from" in m:
            entry["cloned_from"] = m["cloned_from"]
        if meta["constraints"]:
            entry["constraints"] = sorted(meta["constraints"])
        out.append(entry)
    return out


def set_bloom_columns(table: str, cols: List[str]) -> int:
    """Declare columns to carry per-file Bloom filters from the NEXT
    write on (equality skipping for high-cardinality non-key columns —
    a `url = ...` point read on a 100 TB corpus should open ~0 files
    that can't contain it; min/max ranges barely prune such columns).
    Existing files simply lack blooms and keep reading (skipping is
    never a correctness gate); a :func:`compact` / :func:`optimize_zorder`
    rewrite back-fills them. Metadata-only commit."""
    manifest = read_manifest(table)
    meta = _manifest_meta(manifest)
    meta["bloom_cols"] = sorted(set(meta["bloom_cols"]) | set(cols))
    buckets = {b: list(ns) for b, ns in manifest["buckets"].items()}
    return _commit(table, manifest["version"] + 1, buckets,
                   expected_current=manifest["version"],
                   extra=_prune_meta(meta, buckets), op="SET_BLOOM_COLUMNS")


def analyze_table(spark, table: str) -> int:
    """ANALYZE: back-fill pruning stats for files that lack them —
    WITHOUT rewriting any data (compaction also back-fills, but only by
    rewriting; this is the read-only path for legacy/pre-stats files,
    files missing per-column ranges, and files written before
    :func:`set_bloom_columns` declared their columns). One task per gap
    file computes the same stats the bucket writer emits inline
    (:func:`_arrow_file_stats`), then one metadata commit records them.
    O(gap files) read, zero writes to the data plane; a no-op (current
    version) when nothing is missing."""
    manifest = read_manifest(table)
    meta = _manifest_meta(manifest)
    names = [n for ns in manifest["buckets"].values() for n in ns]
    bloom_cols = [
        _phys_name(meta, c) for c in meta["bloom_cols"]]

    def gap(n: str) -> bool:
        st = meta["stats"].get(n)
        if st is None:
            return True
        if st.get("rows") == 0:
            return False
        if "cols" not in st or "nulls" not in st:
            return True
        return any(bc not in (st.get("blooms") or {}) for bc in bloom_cols)

    gaps = [n for n in names if gap(n)]
    if not gaps:
        return manifest["version"]
    from .data_backend import data_backend_for

    be = data_backend_for(table)
    files_dir = _join(table, "files")
    path_for = lambda n: meta["ext"].get(n) or _join(files_dir, n)  # noqa: E731
    if be.spark_readable:
        pdf = spark.createDataFrame([(n, path_for(n)) for n in gaps],
                                    "name string, path string")

        def compute(batches):
            import pyarrow as pa
            import pyarrow.parquet as pqt

            for batch in batches:
                out_n, out_s = [], []
                for n, p in zip(batch.column("name").to_pylist(),
                                batch.column("path").to_pylist()):
                    out_n.append(n)
                    out_s.append(json.dumps(_arrow_file_stats(
                        pqt.read_table(p), bloom_cols)))
                yield pa.RecordBatch.from_pydict(
                    {"name": out_n, "stats": out_s})

        rows = (pdf.repartition(min(len(gaps), 256))
                .mapInArrow(compute, "name string, stats string").collect())
        computed = {r["name"]: json.loads(r["stats"]) for r in rows}
    else:  # driver-funneled backend (test-scale by contract)
        import io

        import pyarrow.parquet as pqt

        computed = {}
        for n in gaps:
            data = be.read_bytes(path_for(n))
            if data is None:
                continue
            computed[n] = _arrow_file_stats(
                pqt.read_table(io.BytesIO(data)), bloom_cols)
    meta["stats"].update(computed)
    buckets = {b: list(ns) for b, ns in manifest["buckets"].items()}
    return _commit(table, manifest["version"] + 1, buckets,
                   expected_current=manifest["version"],
                   extra=_prune_meta(meta, buckets), op="ANALYZE")


def with_retries(fn, attempts: int = 6, base_backoff: float = 0.05):
    """Run a manifest-store write closure with optimistic-concurrency
    retries: every public write API re-reads the table head on entry, so
    "retry" is simply calling it again after a ConcurrentWriteError —
    the loser of a version race backs off (decorrelated jitter, like the
    model-client transport) and re-applies against the new head. This is
    the ONLY coordination multi-writer ingestion needs: conditional-put
    claims serialize commits, losers retry, nobody blocks."""
    import random
    import time as _time

    last: Optional[ConcurrentWriteError] = None
    for attempt in range(attempts):
        try:
            return fn()
        except ConcurrentWriteError as e:
            last = e
            if attempt == attempts - 1:
                break
            _time.sleep(base_backoff * (2 ** attempt) * random.uniform(0.5, 1.5))
    raise last
