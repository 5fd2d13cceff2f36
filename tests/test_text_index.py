"""Persisted inverted text index (sinks/text_index.py)."""

import os
import shutil
import time
import zlib

import pytest
from pyspark.sql import Row

from dataingestion_spark.operators.text_search import bm25_topk
from dataingestion_spark.sinks.text_index import (
    append_text_index,
    search_text_index,
    write_text_index,
)

DOCS = [
    (1, "spark shuffles data between stages during wide transformations"),
    (2, "parquet stores data in columnar row groups with statistics"),
    (3, "spark reads parquet with predicate pushdown and column pruning"),
    (4, "tokenizers split text into subword units for training"),
    (5, "spark spark spark repeated term document"),
]
QUERIES = [(10, "spark parquet"), (11, "tokenizers training"), (12, "data")]


def _docs(spark, rows=DOCS):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def _queries(spark):
    return spark.createDataFrame(
        [Row(query_id=q, query_text=t) for q, t in QUERIES])


def _ranked(df):
    return sorted((r.query_id, r.rank, r.doc_id, round(r.score, 9))
                  for r in df.collect())


def test_index_search_equals_from_scratch_bm25(spark, tmp_path):
    path = str(tmp_path / "idx")
    write_text_index(_docs(spark), path)
    got = search_text_index(spark, path, _queries(spark), k=3)
    want = bm25_topk(_docs(spark), _queries(spark), k=3)
    assert _ranked(got) == _ranked(want)


def test_append_equals_rebuild(spark, tmp_path):
    a = str(tmp_path / "a")
    write_text_index(_docs(spark, DOCS[:3]), a)
    append_text_index(_docs(spark, DOCS[3:]), a)
    b = str(tmp_path / "b")
    write_text_index(_docs(spark), b)
    q = _queries(spark)
    assert _ranked(search_text_index(spark, a, q, k=5)) == \
           _ranked(search_text_index(spark, b, q, k=5))


def test_term_selection_prunes_partitions(spark, tmp_path):
    from tests.test_vector_index import executed_scans, partition_literals

    path = str(tmp_path / "p")
    write_text_index(_docs(spark), path)
    qid, text = QUERIES[0]
    q = spark.createDataFrame([Row(query_id=qid, query_text=text)])
    out = search_text_index(spark, path, q, k=3)
    out.collect()
    buckets = {zlib.crc32(t.encode()) % 64 for t in text.split()}
    on_disk = [d for d in os.listdir(os.path.join(path, "postings"))
               if d.startswith("tb=")]
    scans = executed_scans(out, "postings")
    assert len(scans) == 1  # df and scores come from the same rows
    for filters, _, n_read in scans:
        assert partition_literals(filters, "tb") == buckets, filters
        assert n_read == len(buckets) < len(on_disk)


def test_unknown_terms_return_empty(spark, tmp_path):
    path = str(tmp_path / "u")
    write_text_index(_docs(spark), path)
    q = spark.createDataFrame([Row(query_id=1, query_text="zzz qqq")])
    assert search_text_index(spark, path, q, k=3).count() == 0


def _hybrid_indexes(spark, tmp_path):
    """A text index and a 2-list IVF index over DOCS, plus vector queries."""
    from pyspark.sql import functions as F

    from dataingestion_spark.sinks.vector_index import build_ivf_index

    # tiny deterministic embeddings keyed like the docs
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + j * 3) % 5) - 2.0
                                  for j in range(4)])
         for i, _ in DOCS])
    tpath = str(tmp_path / "tidx")
    vpath = str(tmp_path / "vidx")
    write_text_index(_docs(spark), tpath)
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [-1.0, 0.5, 0.0, 0.0])]
    build_ivf_index(emb, vpath, centroids=cents)
    vq = emb.filter(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    return emb, tpath, vpath, vq, len(cents)


def test_hybrid_indexed_equals_from_scratch(spark, tmp_path):
    """Index-served hybrid (inverted index BM25 + exhaustive-probe IVF,
    RRF-fused) is bit-identical to the non-indexed composition."""
    from pyspark.sql import functions as F

    from dataingestion_spark.operators.similarity import topk_cosine
    from dataingestion_spark.operators.text_search import rrf_fuse
    from dataingestion_spark.sinks.text_index import hybrid_search_indexed

    emb, tpath, vpath, vq, n_cents = _hybrid_indexes(spark, tmp_path)
    got = hybrid_search_indexed(spark, tpath, vpath, _queries(spark), vq,
                                k=5, per_side_k=4, n_probe=n_cents)
    bm = bm25_topk(_docs(spark), _queries(spark), k=4)
    cos = topk_cosine(emb, vq, k=4).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rank")
    want = rrf_fuse(bm, cos, k=5)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_serve_plans_read_query_inputs_from_local_relations(spark, tmp_path):
    """Query frames built from driver lists enter every persisted-index
    serve plan as driver-local rows: each leaf of the optimized plan is
    a parquet scan of the index or a LocalRelation, never an RDD that
    a scan would rerun through Python workers."""
    from dataingestion_spark.sinks.text_index import hybrid_search_indexed
    from dataingestion_spark.sinks.vector_index import search_ivf_index

    _, tpath, vpath, vq, n_cents = _hybrid_indexes(spark, tmp_path)
    tq = _queries(spark)
    for df in (search_ivf_index(spark, vpath, vq, k=3, n_probe=1),
               search_text_index(spark, tpath, tq, k=3),
               hybrid_search_indexed(spark, tpath, vpath, tq, vq, k=5,
                                     per_side_k=4, n_probe=n_cents)):
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            kind = leaf.getClass().getSimpleName()
            if kind == "LogicalRelation":
                kind += ":" + leaf.relation().fileFormat().toString()
            assert kind in ("LocalRelation", "LogicalRelation:Parquet"), \
                leaf.toString()


def test_hybrid_jobs_run_in_callers_job_group(spark, tmp_path):
    """Both sides are built on pool threads, yet every job of the query
    — side preps included — belongs to the caller's job group."""
    from dataingestion_spark.sinks.text_index import hybrid_search_indexed

    _, tpath, vpath, vq, n_cents = _hybrid_indexes(spark, tmp_path)
    sc = spark.sparkContext
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    drain()
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("hybrid-query", "one hybrid query")
    try:
        hybrid_search_indexed(spark, tpath, vpath, _queries(spark), vq,
                              k=5, per_side_k=4, n_probe=n_cents).collect()
    finally:
        sc._jsc.clearJobGroup()
    drain()
    grouped = sc.statusTracker().getJobIdsForGroup("hybrid-query")
    assert len(grouped) > 2  # the preps of both sides, and the query
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped


def test_hybrid_missing_doclens_raises(spark, tmp_path):
    from dataingestion_spark.sinks.text_index import hybrid_search_indexed

    _, tpath, vpath, vq, n_cents = _hybrid_indexes(spark, tmp_path)
    shutil.rmtree(os.path.join(tpath, "doclens"))
    with pytest.raises(Exception, match="doclens"):
        hybrid_search_indexed(spark, tpath, vpath, _queries(spark), vq,
                              k=5, per_side_k=4, n_probe=n_cents)


def test_run_concurrently_raises_first_failure_without_waiting(spark):
    from dataingestion_spark.sinks.text_index import _run_concurrently

    assert _run_concurrently(spark, lambda: 1, lambda: 2) == [1, 2]

    def boom():
        raise ValueError("boom")

    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="boom"):
        _run_concurrently(spark, lambda: time.sleep(5), boom)
    assert time.perf_counter() - t0 < 4
