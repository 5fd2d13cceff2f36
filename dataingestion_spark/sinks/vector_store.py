"""Vector-table sink + query surface.

Materializes chunks as the reference's stored record shape
(``VectorStoreWriter.cs:14-19``): fixed lowercase columns ``key, embedding,
content, context, documentid`` plus one promoted column per metadata key
(the reference infers these from the first chunk at runtime,
``VectorStoreWriter.cs:111-149``; relationally they are just the extra
columns of the chunks DataFrame, schema known statically).

Incremental ingestion replicates the replace-by-document contract pinned by
``VectorStoreWriterTests.cs:79-136``: new chunks are persisted **before** old
ones disappear (the reference inserts then deletes,
``VectorStoreWriter.cs:76-108``, so a failed run never loses data). On plain
parquet that is: write the merged table to a fresh directory, then swap —
the old generation stays readable until the swap. On a transactional table
format (Delta/Iceberg, not in this image) the same operator is a single
``MERGE``/``replaceWhere`` — the production path at 100 TB, where the swap
rewrite would be prohibitive. Partitioning: the table is written partitioned
by a stable hash bucket of ``documentid`` so replace touches only the
buckets containing the replaced documents and filtered gets prune buckets.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, functions as F

from ..model import CHUNKS_SCHEMA
from ..operators.similarity import cosine_sim

_BASE_COLS = {f.name for f in CHUNKS_SCHEMA.fields}
N_BUCKETS = 64


def fake_embedding(col: Column, dims: int = 8) -> Column:
    """Deterministic unit-free embedding from content text: dimension d is an
    md5-derived byte of ``content ':' d`` scaled to [0,1). The Spark analog
    of the reference tests' fixed-vector TestEmbeddingGenerator
    (``test/.../Utils/TestEmbeddingGenerator.cs:12-28``) — but content-
    sensitive, engine-reproducible, and computed JVM-side."""
    # one higher-order expression, whatever ``dims`` is: building it
    # element by element costs a py4j round trip per Column node.
    # k/256 is exactly representable in float32 AND float64, so the
    # stored vector survives float→double round-trips bit-for-bit.
    return F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda d: (F.conv(F.substring(
            F.md5(F.concat(col, F.lit(":"), d.cast("string"))), 1, 2), 16, 10)
            .cast("double") / 256.0).cast("float"))


def build_vector_records(chunks_df: DataFrame,
                         embed: Optional[Callable[[Column], Column]] = None,
                         deterministic_keys: bool = False) -> DataFrame:
    """chunks → vector records. Extra chunk columns (enricher outputs) are
    promoted to lowercase metadata columns, matching the writer's dynamic
    schema behavior."""
    embed = embed or fake_embedding
    meta_cols = [c for c in chunks_df.columns if c not in _BASE_COLS]
    key = (
        F.col("chunk_id") if deterministic_keys
        else F.expr("uuid()")  # fresh key per write, VectorStoreWriter.cs:84-87
    )
    return chunks_df.select(
        key.alias("key"),
        embed(F.col("content")).alias("embedding"),
        F.col("content"),
        F.col("context"),
        F.col("doc_id").alias("documentid"),
        (F.crc32(F.col("doc_id").cast("binary")) % N_BUCKETS).alias("doc_bucket"),
        *[F.col(c).alias(c.lower()) for c in meta_cols],
    )


def _require_local_path(path: str, op: str) -> None:
    """The parquet writers manage files with os-level primitives (listdir,
    rename); a remote URI would silently skip the existence check and turn
    an incremental write into a destructive overwrite. Refuse loudly."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme not in ("", "file"):
        raise NotImplementedError(
            f"{op} manages files locally; got scheme '{scheme}'. Use a "
            "fuse mount, or a transactional table format for object storage."
        )


def write_vector_table(chunks_df: DataFrame, path: str,
                       embed: Optional[Callable[[Column], Column]] = None,
                       incremental: bool = False,
                       deterministic_keys: bool = False) -> None:
    """Write (or incrementally replace-by-document into) the vector table.

    **Local/dev path only**: plain partitioned parquet with os-level
    staging-dir swaps — it refuses non-local schemes by design. For
    object storage or any multi-writer/cluster deployment use
    :func:`write_vector_table_versioned` (the manifest store: pluggable
    metadata + data backends, conditional-put commits, O(changed-buckets)
    incremental replace, time travel). Same record shape either way."""
    _require_local_path(path, "write_vector_table")
    spark = chunks_df.sparkSession
    records = build_vector_records(chunks_df, embed, deterministic_keys)
    exists = os.path.isdir(path) and any(
        n.startswith(("part-", "doc_bucket=")) for n in os.listdir(path)
    )
    if not incremental or not exists:
        records.write.mode("overwrite").partitionBy("doc_bucket").parquet(path)
        return

    existing = spark.read.parquet(path)
    incoming_docs = records.select("documentid").distinct()
    survivors = existing.join(F.broadcast(incoming_docs), "documentid", "left_anti")
    merged = survivors.unionByName(records, allowMissingColumns=True)
    # Insert-before-delete at directory granularity: the new generation is
    # fully written before the swap; readers of the old path are unaffected
    # until the atomic rename.
    tmp = f"{path}.__staging__{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").partitionBy("doc_bucket").parquet(tmp)
    old = f"{path}.__old__{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def write_vector_table_versioned(chunks_df: DataFrame, path: str,
                                 embed: Optional[Callable[[Column], Column]] = None,
                                 incremental: bool = False,
                                 deterministic_keys: bool = False,
                                 txn=None) -> int:
    """Vector table on the manifest store (``manifest_store.py``): versioned
    commits, O(changed-buckets) incremental replace, time travel. The
    production-shaped writer; returns the committed version."""
    from . import manifest_store as ms

    records = build_vector_records(chunks_df, embed, deterministic_keys)
    if incremental:
        return ms.incremental_replace(records, path, txn=txn)
    return ms.write_table(records, path, txn=txn)


def read_vector_table_versioned(spark, path: str, version: Optional[int] = None) -> DataFrame:
    from . import manifest_store as ms

    return ms.read_table(spark, path, version)


def read_vector_table(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def get_document(table: DataFrame, doc_id: str, top: int = 1000) -> DataFrame:
    """Fetch one document's chunks with partition pruning: the doc_bucket
    predicate is derived from the id, so only 1 of N_BUCKETS partitions is
    scanned (the indexed-documentid lookup of VectorStoreWriter.cs:126-129,
    expressed as layout)."""
    import zlib

    bucket = zlib.crc32(doc_id.encode()) % N_BUCKETS
    return table.filter(
        (F.col("doc_bucket") == bucket) & (F.col("documentid") == doc_id)
    ).limit(top)


def filtered_get(table: DataFrame, predicate: Column, top: int = 1000) -> DataFrame:
    """Predicate + limit, no ordering guarantee — the reference's
    ``GetAsync(filter, top)`` surface (``DocumentPipelineTests.cs:89-91``).
    Filters on ``documentid`` prune partitions via doc_bucket."""
    return table.filter(predicate).limit(top)


def search(table: DataFrame, query_vec, k: int = 10,
           filter_expr: Optional[Column] = None,
           distance: str = "cosine") -> DataFrame:
    """(Filtered) top-k search against the stored embeddings —
    ``SearchAsync(text, top, filter)`` (``SemanticSearch.cs:24-29``) with the
    reference's DistanceFunction config (cosine | dot | euclidean,
    ``VectorStoreWriterOptions.cs:8-31``). The query text is embedded by the
    caller; scoring is one scan + global top-k (orderBy+limit ⇒
    per-partition partial top-k then merge)."""
    from ..operators.similarity import DISTANCE_FUNCTIONS

    score_fn = DISTANCE_FUNCTIONS[distance]
    base = table if filter_expr is None else table.filter(filter_expr)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        base.withColumn("score", score_fn(F.col("embedding"), q))
        .orderBy(F.desc("score"), F.asc("key"))
        .limit(k)
    )
