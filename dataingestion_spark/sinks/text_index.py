"""Persisted inverted text index: BM25 search without re-tokenizing the corpus.

``text_search.bm25_topk`` tokenizes the corpus on every call — right for
ad-hoc curation, wrong for a serving path asked thousands of queries
against a 100 TB corpus. The standard answer (and the text twin of the
persisted IVF vector index in ``vector_index.py``) is to materialize the
postings once:

* ``postings/`` — (term, doc_id, tf) parquet **partitioned by
  ``tb = crc32(term) % 64``**: a query's terms hash to a handful of
  buckets, so term selection becomes partition pruning and the scan
  reads ~|query terms|/64 of the postings, not all of them. Files are
  term-sorted so parquet min/max row-group stats prune further inside a
  bucket.
* ``doclens/`` — (doc_id, dl): document lengths for the BM25 length
  normalization. Corpus stats (N, avgdl) are aggregated from this
  narrow table at query time instead of being tracked in a meta file —
  one cheap two-column scan that can never drift out of sync with the
  data under concurrent appends.

Appends are O(batch): new posting/doclen files land beside the old ones
(same term → several (doc, tf) rows across files, which BM25 handles
naturally since tf is per-document).

Search feeds the stored postings and doclens to the same scorer
``bm25_topk`` uses (``text_search._bm25_rank``); only where the
``(doc_id, term, tf)`` and ``(doc_id, dl)`` rows come from differs, so an
index search returns bit-identical results to the from-scratch operator
on the same corpus.

A search collects its ``(query_id, term)`` rows once, as Arrow: a
query batch is user input (thousands of rows at most), metadata-scale by
construction. The same rows give the literal ``tb IN (…)`` and
``term IN (…)`` pruning predicates and come back as a driver-local
frame (``partitioning.local_frame``) for the scorer, so the user's query
frame is scanned once per search — the same stance as the probe collect
in ``vector_index.py``.
"""

from __future__ import annotations

import os
import zlib

from pyspark.sql import DataFrame, functions as F

from ..operators.text_search import _bm25_rank, _query_terms, _tokens
from ..partitioning import local_frame

_N_TERM_BUCKETS = 64

__all__ = ["write_text_index", "append_text_index", "search_text_index"]


def _term_bucket(term_col) -> F.Column:
    return (F.crc32(term_col.cast("binary")) % _N_TERM_BUCKETS).cast("int")


def _run_concurrently(spark, *thunks) -> list:
    """Run independent driver thunks on one thread each and return their
    results in order. Every thread carries the caller's Spark local
    properties (job group, scheduler pool), so the jobs it launches are
    the caller's. The first failure raises as soon as it happens; the
    other threads are not waited for."""
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    from pyspark.util import inheritable_thread_target

    pool = ThreadPoolExecutor(max_workers=len(thunks))
    try:
        futures = [pool.submit(inheritable_thread_target(spark)(t))
                   for t in thunks]
        wait(futures, return_when=FIRST_EXCEPTION)
        for f in futures:
            if f.done() and f.exception() is not None:
                raise f.exception()
        return [f.result() for f in futures]
    finally:
        pool.shutdown(wait=False)


def _write(docs: DataFrame, path: str, text_col: str, id_col: str,
           mode: str) -> None:
    # NOT fanned: this frame feeds TWO jobs (postings + doclens), so a
    # fan-out shuffle would run twice, and the postings job already pays
    # a groupBy exchange right after the tokenize-explode (interleaved
    # A/B at sf0.1: 2.28s plain vs 2.90s fanned, min-of-4).
    words = _tokens(text_col)
    postings = (docs.select(F.col(id_col).alias("doc_id"),
                            F.explode(words).alias("term"))
                .groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
                .withColumn("tb", _term_bucket(F.col("term"))))
    # repartition carries doc_id so write parallelism tracks the cluster
    # (repartition("tb") alone would cap the job at 64 tasks forever);
    # partitionBy still routes rows to their bucket directory, and the
    # within-task sort keeps every output file term-ordered for
    # row-group-stat pruning.
    def _write_postings():
        (postings.repartition("tb", "doc_id")
         .sortWithinPartitions("tb", "term")
         .write.mode(mode).partitionBy("tb")
         .parquet(os.path.join(path, "postings")))

    def _write_doclens():
        (docs.select(F.col(id_col).alias("doc_id"), F.size(words).alias("dl"))
         .write.mode(mode).parquet(os.path.join(path, "doclens")))

    # The two writes land in DISJOINT directories and share no state, so
    # they are independent jobs: run them concurrently (§2.6) so the cheap
    # doclens scan back-fills the postings job's shuffle/write tail. Work
    # and results are identical — this only overlaps wall-clock.
    _run_concurrently(docs.sparkSession, _write_postings, _write_doclens)


def write_text_index(docs: DataFrame, path: str, text_col: str = "text",
                     id_col: str = "doc_id") -> None:
    """Build the index: ONE tokenize+count pass over the corpus."""
    _write(docs, path, text_col, id_col, "overwrite")


def append_text_index(docs: DataFrame, path: str, text_col: str = "text",
                      id_col: str = "doc_id") -> None:
    """O(batch) append. Documents must be NEW ids (re-indexing an id
    would double-count its postings — delete/compact is the lakehouse
    store's job, not this demo index's)."""
    _write(docs, path, text_col, id_col, "append")


def search_text_index(spark, path: str, queries: DataFrame, k: int = 10,
                      query_id_col: str = "query_id",
                      query_text_col: str = "query_text",
                      k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-k BM25 per query over the stored postings:
    ``(query_id, rank, doc_id, score)``, scored by
    ``text_search.bm25_topk``'s own scorer — bit-identical to it on the
    same corpus."""
    doclens = spark.read.parquet(os.path.join(path, "doclens"))
    qterms = _query_terms(queries, query_id_col, query_text_col)
    rows = qterms.toArrow()
    qterms = local_frame(spark, rows, qterms.schema)
    terms = sorted(set(rows.column("term").to_pylist()))
    if not terms:
        # empty schema mirrors the live one — doc_id keeps the INDEX's id
        # type, not a hardcoded long
        id_type = doclens.schema["doc_id"].dataType
        return (qterms.select(query_id_col)
                .withColumn("rank", F.lit(0))
                .withColumn("doc_id", F.lit(None).cast(id_type))
                .withColumn("score", F.lit(0.0)).limit(0))
    buckets = sorted({zlib.crc32(t.encode()) % _N_TERM_BUCKETS for t in terms})
    rel = (spark.read.parquet(os.path.join(path, "postings"))
           .filter(F.col("tb").isin([int(x) for x in buckets]))   # partition pruning
           .filter(F.col("term").isin(list(terms)))               # row-group stats
           .select("doc_id", "term", "tf"))
    return _bm25_rank(rel, qterms, doclens, k, k1, b, "doc_id", query_id_col)


def hybrid_search_indexed(spark, text_path: str, ivf_path: str,
                          text_queries: DataFrame, vec_queries: DataFrame,
                          k: int = 10, per_side_k: int = 20,
                          n_probe: int = 4, k0: int = 60) -> DataFrame:
    """Hybrid retrieval served ENTIRELY from persisted indexes: BM25
    top-``per_side_k`` from the inverted index (partition+row-group
    pruned postings) fused with ANN top-``per_side_k`` from the IVF
    index (probe-as-partition-pruning) by reciprocal-rank fusion —
    neither side re-tokenizes or rescores the corpus. Serve cost does
    not yet track query load alone: the BM25 side still reads all of
    ``doclens/`` twice per query (the N/avgdl aggregate and the ``dl``
    join); a corpus-stats sidecar written at build and append time is
    the fix. With ``n_probe`` >= the index's centroid count the
    result is bit-identical to the non-indexed
    ``bm25_topk``+``topk_cosine``+``rrf_fuse`` composition (pinned in
    tests); lower ``n_probe`` trades vector-side recall for pruning,
    leaving the BM25 side exact. Output: (query_id, rank, doc_id,
    rrf_score)."""
    from ..operators.text_search import rrf_fuse
    from .vector_index import search_ivf_index

    # The two sides are independent until the fuse, and each blocks the
    # driver on its own small prep jobs while it is CONSTRUCTED: the
    # parquet schema reads, and one collect each as Arrow — the BM25
    # side's query terms, the IVF side's probes (pruning literals plus
    # a driver-local frame). Building them from two driver threads
    # overlaps those jobs (§2.6 — Spark runs concurrent jobs fine; FIFO
    # back-fills the idle slots), so serve latency pays max(side preps)
    # instead of their sum: 0.35 s per query on a sf0.01-document,
    # 16-list index, 20 of 20 interleaved pairs (measured with the
    # earlier checkpoint-based preps). Frame construction only — the
    # fused query itself stays one plan/action.
    bm, cos = _run_concurrently(
        spark,
        lambda: search_text_index(spark, text_path, text_queries,
                                  k=per_side_k),
        lambda: search_ivf_index(spark, ivf_path, vec_queries,
                                 k=per_side_k, n_probe=n_probe))
    cos = cos.select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse(bm, cos, k0=k0, k=k)
