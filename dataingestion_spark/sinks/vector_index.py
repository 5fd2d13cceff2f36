"""Persisted IVF index: build once, search many, read only probed lists.

``topk_cosine_ivf`` recomputes assignment per call — right for one-shot
queries, wasteful for a serving table. This module persists the index as
plain parquet PARTITIONED BY the inverted-list id, which turns probe
selection into *partition pruning*: a search with ``n_probe=4`` of 256
lists physically reads ~4/256 of the corpus bytes (the scan's
PartitionFilters prune before any IO — asserted in tests). Centroids
live in a JSON sidecar (C × dim floats — driver-sized by construction).

Layout::

    <path>/centroids.json      [[centroid_id, [floats...]], ...]
    <path>/lists/centroid_id=<c>/part-*.parquet   (vec_id, embedding)

Build cost is the standard one corpus×C assignment pass + one shuffle to
co-locate lists. Rebuild to re-center; the index is immutable otherwise
(pair with the manifest store's versioning if transactional swaps are
needed).

Reference parity: the reference's vector store scans every record page
by page (``VectorStoreWriter.cs:159`` MaxTopCount=1000 paging); this is
the sublinear path its design lacks.
"""

from __future__ import annotations

import json
import os
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.similarity import (
    _centroid_frame, _probe, _score_lists, ivf_assign, train_centroids,
)
from ..partitioning import local_frame

Centroid = Tuple[int, List[float]]


def _write_lists(lists: DataFrame, dest: str, mode: str) -> None:
    """The one list writer: co-locate each inverted list, then write one
    ``centroid_id=<c>`` directory per list under ``dest``."""
    (lists.repartition("centroid_id")
     .write.mode(mode).partitionBy("centroid_id").parquet(dest))


def _put_json(path: str, name: str, obj) -> None:
    from .commit_backend import backend_for

    backend_for(path).put_atomic(f"{path.rstrip('/')}/{name}", json.dumps(obj))


def _get_json(path: str, name: str):
    from .commit_backend import backend_for

    text = backend_for(path).read_text(f"{path.rstrip('/')}/{name}")
    if text is None:
        raise FileNotFoundError(f"no {name} under {path}")
    return json.loads(text)


def _write_index(vectors: DataFrame, path: str, mode: str,
                 cents: List[Centroid], codebooks, corpus_id: str,
                 corpus_vec: str, max_list_size: Optional[int] = None) -> None:
    """Assign ``vectors`` to ``cents`` (and with ``codebooks`` PQ-encode
    them down to ``(corpus_id, centroid_id, pq_code)``), then write the
    list rows. A build (``mode="overwrite"``) also writes the sidecars;
    an append reuses the stored ones."""
    lists = ivf_assign(vectors, _centroid_frame(vectors.sparkSession, cents),
                       corpus_id, corpus_vec, max_list_size)
    if codebooks is not None:
        from ..operators.pq import pq_encode

        lists = pq_encode(lists, codebooks, corpus_vec).select(
            corpus_id, "centroid_id", "pq_code")
    _write_lists(lists, os.path.join(path, "lists"), mode)
    if mode == "overwrite":
        _put_json(path, "centroids.json",
                  [[int(c), list(map(float, v))] for c, v in cents])
        if codebooks is not None:
            _put_json(path, "codebooks.json",
                      [[[float(x) for x in cw] for cw in book]
                       for book in codebooks])


def _probed_lists(spark: SparkSession, path: str, queries: DataFrame,
                  n_probe: int, query_id: str, query_vec: str,
                  keep_vec: bool):
    """``(probes, lists)``: each query's probed lists, and the ``lists/``
    scan pruned to them. The probes are collected once, as Arrow, and
    come back as a driver-local frame: the scoring join reads those rows
    from the plan, so the user's query frame is scanned by this one job
    only. Their ids become a literal ``centroid_id IN (…)`` filter,
    which prunes at file listing (Spark's dynamic partition pruning
    does not: its runtime filter folds to true in the final adaptive
    plan and every list is read)."""
    probes = _probe(queries, _centroid_frame(spark, load_centroids(path)),
                    n_probe, query_id, query_vec)
    if not keep_vec:
        probes = probes.select(query_id, "centroid_id")
    rows = probes.toArrow()
    probe_ids = sorted(set(rows.column("centroid_id").to_pylist()))
    lists = (spark.read.parquet(os.path.join(path, "lists"))
             .filter(F.col("centroid_id").isin(probe_ids)))
    return local_frame(spark, rows, probes.schema), lists


def build_ivf_index(corpus: DataFrame, path: str, n_centroids: int = 16,
                    iters: int = 5, corpus_id: str = "vec_id",
                    corpus_vec: str = "embedding",
                    centroids: Optional[List[Centroid]] = None,
                    max_list_size: Optional[int] = None) -> int:
    """Cluster (or accept ``centroids``), assign, persist. Returns the
    number of inverted lists written."""
    cents = centroids or train_centroids(
        corpus, n_centroids=n_centroids, iters=iters,
        corpus_id=corpus_id, corpus_vec=corpus_vec,
    )
    _write_index(corpus, path, "overwrite", cents, None, corpus_id,
                 corpus_vec, max_list_size)
    return len(cents)


def load_centroids(path: str) -> List[Centroid]:
    return [(int(c), [float(x) for x in v])
            for c, v in _get_json(path, "centroids.json")]


def search_ivf_index(spark: SparkSession, path: str, queries: DataFrame,
                     k: int = 10, n_probe: int = 4,
                     corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                     query_id: str = "query_id",
                     query_vec: str = "query_vec",
                     allowed: "DataFrame" = None) -> DataFrame:
    """Top-k over the persisted index: pick each query's ``n_probe``
    nearest centroids, then scan ONLY those list partitions (the
    ``centroid_id`` filter prunes at the file-listing level). Output:
    (query_id, rank, corpus_id, score). The probe step and the list
    scorer are ``topk_cosine_ivf``'s own, so with the same centroids
    the results are identical.

    ``allowed`` (a one-column frame of permitted ``corpus_id`` values —
    e.g. the ids passing a metadata predicate on the source table)
    restricts results to that set: POST-FILTER semantics, applied to
    the probed lists before scoring, the standard filtered-ANN shape
    (Milvus/pgvector). A selective filter thins candidate lists, so
    raise ``n_probe`` to hold recall — with all centroids probed the
    result is exactly the filtered exact top-k."""
    probes, lists = _probed_lists(spark, path, queries, n_probe,
                                  query_id, query_vec, keep_vec=True)
    if allowed is not None:
        # no broadcast hint: the allowed set can be anywhere from a
        # handful of ids to most of the corpus — AQE picks the join
        # strategy from its actual size
        lists = lists.join(
            allowed.withColumnRenamed(allowed.columns[0], corpus_id),
            corpus_id, "semi")
    return _score_lists(lists, probes, k, corpus_id, corpus_vec,
                        query_id, query_vec)


def append_ivf_index(new_vectors: DataFrame, path: str,
                     corpus_id: str = "vec_id",
                     corpus_vec: str = "embedding") -> None:
    """Online index maintenance: assign a NEW batch to the existing
    centroids and append its rows to the affected list partitions —
    O(batch) writes, no rebuild, centroids untouched. Because assignment
    is deterministic given the centroids, searching after any sequence
    of appends equals searching an index built from the union in one
    shot (pinned in tests). Rebuild when drift degrades recall (track it
    with ``operators/similarity.recall_at_k`` on a probe query set)."""
    _write_index(new_vectors.select(corpus_id, corpus_vec), path, "append",
                 load_centroids(path), None, corpus_id, corpus_vec)


# ---------------------------------------------------------------------------
# Persisted IVF-PQ: the on-disk Faiss-IVFADC layout — partition-pruned
# inverted lists whose rows carry m-byte PQ codes instead of float vectors.
# ---------------------------------------------------------------------------

def build_ivfpq_index(corpus: DataFrame, path: str, n_centroids: int = 16,
                      iters: int = 5, m: int = 8, k_codes: int = 16,
                      pq_iters: int = 3, corpus_id: str = "vec_id",
                      corpus_vec: str = "embedding",
                      centroids: Optional[List[Centroid]] = None,
                      codebooks=None,
                      max_list_size: Optional[int] = None) -> int:
    """Build the combined index: coarse inverted lists bound WHAT a query
    scans (``n_probe``/``n_centroids`` of the corpus, physically pruned
    at the file listing), PQ codes bound what each scanned candidate
    COSTS (m small ints + m LUT lookups — no float vector is ever read
    at serve time). At a billion vectors the list payload is ~m bytes
    per vector vs 4·dim for :func:`build_ivf_index` — the difference
    between an index that fits in page cache and one that doesn't.

    Codes quantize RAW vectors (not residuals): encode then needs no
    list context, which is what keeps :func:`append_ivfpq_index` an
    O(batch) operation and lets ONE LUT per query serve every probed
    list. Residual IVFADC (better recall per byte, list-coupled
    appends) stays the in-memory ``operators.pq.topk_ivf_pq`` variant.

    Layout::

        <path>/centroids.json   [[centroid_id, [floats...]], ...]
        <path>/codebooks.json   [m][k_codes][dim/m] floats
        <path>/lists/centroid_id=<c>/part-*.parquet   (vec_id, pq_code)
    """
    from ..operators.pq import pq_train

    cents = centroids or train_centroids(
        corpus, n_centroids=n_centroids, iters=iters,
        corpus_id=corpus_id, corpus_vec=corpus_vec,
    )
    if codebooks is None:
        codebooks = pq_train(corpus, m=m, k=k_codes, iters=pq_iters,
                             corpus_id=corpus_id, corpus_vec=corpus_vec)
    _write_index(corpus.select(corpus_id, corpus_vec), path, "overwrite",
                 cents, codebooks, corpus_id, corpus_vec, max_list_size)
    return len(cents)


def load_ivfpq_codebooks(path: str):
    return _get_json(path, "codebooks.json")


def search_ivfpq_index(spark: SparkSession, path: str, queries: DataFrame,
                       k: int = 10, n_probe: int = 4,
                       corpus_id: str = "vec_id",
                       query_id: str = "query_id",
                       query_vec: str = "query_vec") -> DataFrame:
    """ADC top-k over the persisted lists: probe selection against the
    sidecar centroids (driver-sized), partition pruning down to the
    probed lists, then the broadcast probe×LUT equi-join — the probe
    step and ADC scorer of ``operators.pq.topk_ivf_pq(residual=False)``,
    so the same centroids/codebooks give identical results. The user's
    query frame is collected once; the probe and the LUTs read that
    driver-local copy."""
    from ..operators.pq import _adc_lut_df, _adc_score_lists

    codebooks = load_ivfpq_codebooks(path)
    queries = queries.select(query_id, query_vec)
    queries = local_frame(spark, queries.toArrow(), queries.schema)
    probes, lists = _probed_lists(spark, path, queries, n_probe,
                                  query_id, query_vec, keep_vec=False)
    qluts = _adc_lut_df(queries, codebooks, query_id, query_vec)
    return _adc_score_lists(lists, probes, qluts, query_id, len(codebooks),
                            k, query_id, corpus_id)


def append_ivfpq_index(new_vectors: DataFrame, path: str,
                       corpus_id: str = "vec_id",
                       corpus_vec: str = "embedding") -> None:
    """O(batch) maintenance, same contract as :func:`append_ivf_index`:
    assign against the stored centroids, encode against the stored
    codebooks (raw-vector codes need no list context — the reason this
    index skips residual encoding), append to the affected partitions.
    Search-after-append equals search of a one-shot build (pinned in
    tests); rebuild when drift degrades recall."""
    _write_index(new_vectors.select(corpus_id, corpus_vec), path, "append",
                 load_centroids(path), load_ivfpq_codebooks(path),
                 corpus_id, corpus_vec)


def compact_index_lists(spark: SparkSession, path: str,
                        max_files_per_list: int = 4) -> int:
    """Index maintenance for the small-file growth of per-batch appends
    (both layouts: float-vector IVF and IVF-PQ lists). When any list
    partition holds more than ``max_files_per_list`` parquet files, the
    whole ``lists/`` tree is rewritten one-file-per-list and swapped in
    via a staging directory (insert-before-delete, like the plain
    vector-table writer — local/dev semantics; at object-store scale
    rebuild into a fresh index path and flip the serving pointer, or
    keep lists on the manifest store). Search results are unchanged by
    construction — only the file layout moves. Returns the number of
    list partitions that were over the threshold (0 = nothing to do)."""
    import shutil
    import uuid as _uuid

    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme not in ("", "file"):
        raise NotImplementedError(
            "compact_index_lists swaps directories with os-level renames "
            f"(local/dev); for scheme '{scheme}' rebuild into a fresh index "
            "path and flip the serving pointer instead.")
    lists_dir = os.path.join(path, "lists")
    over = 0
    for d in os.listdir(lists_dir):
        if not d.startswith("centroid_id="):
            continue
        n = sum(1 for f in os.listdir(os.path.join(lists_dir, d))
                if f.endswith(".parquet"))
        if n > max_files_per_list:
            over += 1
    if not over:
        return 0
    tmp = f"{lists_dir}.__staging__{_uuid.uuid4().hex[:8]}"
    _write_lists(spark.read.parquet(lists_dir), tmp, "overwrite")
    old = f"{lists_dir}.__old__{_uuid.uuid4().hex[:8]}"
    os.rename(lists_dir, old)
    os.rename(tmp, lists_dir)
    shutil.rmtree(old, ignore_errors=True)
    return over
