"""Persisted IVF index (sinks/vector_index.py)."""

import os
import re

from pyspark.sql import functions as F

from dataingestion_spark.operators.similarity import topk_cosine_ivf, train_centroids
from dataingestion_spark.sinks.vector_index import (
    build_ivf_index, load_centroids, search_ivf_index,
)


def setup_index(spark, tmp_path, **kw):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_centroids(e, n_centroids=8, iters=2)
    path = str(tmp_path / "idx")
    n = build_ivf_index(e, path, centroids=cents, **kw)
    assert n == 8
    return e, cents, path


def test_search_equals_in_memory_ivf(spark, tmp_path):
    e, cents, path = setup_index(spark, tmp_path)
    qs = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = search_ivf_index(spark, path, qs, k=10, n_probe=2)
    want = topk_cosine_ivf(e, qs, k=10, n_centroids=8, n_probe=2, centroids=cents)
    assert ({(r.query_id, r.rank, r.vec_id) for r in got.collect()}
            == {(r.query_id, r.rank, r.vec_id) for r in want.collect()})


def executed_scans(df, dirname):
    """After an action on ``df``: each executed parquet scan of the
    ``dirname`` directory, as (its partition filters, its read columns,
    its numPartitions metric — the partition directories it read)."""
    def walk(p):
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            yield from walk(p.executedPlan())
        elif name.endswith("QueryStageExec"):
            yield from walk(p.plan())
        else:
            yield p
            kids = p.children()
            for i in range(kids.size()):
                yield from walk(kids.apply(i))

    scans = [n for n in walk(df._jdf.queryExecution().executedPlan())
             if n.getClass().getSimpleName() == "FileSourceScanExec"
             and n.relation().location().rootPaths().head().getName() == dirname]
    assert scans, f"no scan of {dirname}"
    return [(n.partitionFilters().mkString(", "),
             list(n.requiredSchema().fieldNames()),
             n.metrics().apply("numPartitions").value()) for n in scans]


def partition_literals(filters, col):
    """The values of the literal ``col IN (…)`` / ``col = v`` partition
    filter (empty when there is none)."""
    m = re.search(rf"{col}#\d+ IN \(([^)]*)\)", filters) \
        or re.search(rf"{col}#\d+ = (\d+)", filters)
    return {int(v) for v in m.group(1).split(",")} if m else set()


def nearest_centroids(cents, qvec, n_probe):
    """Ids of the ``n_probe`` centroids most cosine-similar to ``qvec``."""
    import numpy as np

    q = np.asarray(qvec, dtype=float)

    def cos(v):
        v = np.asarray(v, dtype=float)
        return float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))

    return {c for _, c in sorted((-cos(v), c) for c, v in cents)[:n_probe]}


def assert_reads_only_probed_lists(got, path, cents, qvec, n_probe):
    got.collect()
    probed = nearest_centroids(cents, qvec, n_probe)
    on_disk = {int(d.split("=")[1]) for d in os.listdir(os.path.join(path, "lists"))
               if d.startswith("centroid_id=")}
    for filters, _, n_read in executed_scans(got, "lists"):
        assert partition_literals(filters, "centroid_id") == probed, filters
        assert n_read == len(probed & on_disk) < len(on_disk)


def test_probe_prunes_partitions(spark, tmp_path):
    e, cents, path = setup_index(spark, tmp_path)
    qs = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    qvec = qs.first().query_vec
    assert_reads_only_probed_lists(
        search_ivf_index(spark, path, qs, k=5, n_probe=2),
        path, cents, qvec, 2)
    allowed = e.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    assert_reads_only_probed_lists(
        search_ivf_index(spark, path, qs, k=5, n_probe=2, allowed=allowed),
        path, cents, qvec, 2)


def test_centroids_roundtrip(spark, tmp_path):
    e, cents, path = setup_index(spark, tmp_path)
    assert load_centroids(path) == [(int(c), [float(x) for x in v])
                                    for c, v in cents]


def test_append_equals_rebuild(spark, tmp_path):
    from dataingestion_spark.sinks.vector_index import append_ivf_index

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    first = e.filter(F.col("vec_id") < 300)
    rest = e.filter(F.col("vec_id") >= 300)
    cents = train_centroids(first, n_centroids=8, iters=2)

    grown = str(tmp_path / "grown")
    build_ivf_index(first, grown, centroids=cents)
    append_ivf_index(rest, grown)

    oneshot = str(tmp_path / "oneshot")
    build_ivf_index(e, oneshot, centroids=cents)

    qs = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = search_ivf_index(spark, grown, qs, k=10, n_probe=3)
    b = search_ivf_index(spark, oneshot, qs, k=10, n_probe=3)
    assert ({(r.query_id, r.rank, r.vec_id) for r in a.collect()}
            == {(r.query_id, r.rank, r.vec_id) for r in b.collect()})


# --- persisted IVF-PQ -------------------------------------------------------

def _ivfpq_setup(spark, tmp_path):
    from dataingestion_spark.operators.pq import pq_train
    from dataingestion_spark.sinks.vector_index import build_ivfpq_index

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_centroids(e, n_centroids=8, iters=2)
    books = pq_train(e, m=4, k=16, iters=2)
    path = str(tmp_path / "ivfpq")
    n = build_ivfpq_index(e, path, centroids=cents, codebooks=books)
    assert n == 8
    return e, cents, books, path


def test_ivfpq_search_equals_in_memory(spark, tmp_path):
    from dataingestion_spark.operators.pq import topk_ivf_pq
    from dataingestion_spark.sinks.vector_index import search_ivfpq_index

    e, cents, books, path = _ivfpq_setup(spark, tmp_path)
    qs = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # the query ids pass through a Python UDF that counts every row it
    # evaluates: the probe and the LUTs must share one read of the frame
    seen = spark.sparkContext.accumulator(0)

    def tag(qid):
        seen.add(1)
        return qid

    counted = qs.withColumn("query_id", F.udf(tag, "long")("query_id"))
    got = search_ivfpq_index(spark, path, counted, k=10, n_probe=2).collect()
    assert seen.value == 5
    want = topk_ivf_pq(e, qs, k=10, n_centroids=8, n_probe=2, m=4,
                       k_codes=16, centroids=cents, codebooks=books)
    assert ({(r.query_id, r.rank, r.vec_id, round(r.score, 9))
             for r in got}
            == {(r.query_id, r.rank, r.vec_id, round(r.score, 9))
                for r in want.collect()})


def test_ivfpq_probe_prunes_partitions_and_reads_no_vectors(spark, tmp_path):
    from dataingestion_spark.sinks.vector_index import search_ivfpq_index

    e, cents, books, path = _ivfpq_setup(spark, tmp_path)
    qs = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = search_ivfpq_index(spark, path, qs, k=5, n_probe=2)
    assert_reads_only_probed_lists(got, path, cents, qs.first().query_vec, 2)
    # serve path never reads a float vector: the list scan schema is
    # (vec_id, pq_code) only
    for _, read_cols, _ in executed_scans(got, "lists"):
        assert read_cols == ["vec_id", "pq_code"], read_cols


def test_ivfpq_append_equals_rebuild(spark, tmp_path):
    from dataingestion_spark.operators.pq import pq_train
    from dataingestion_spark.sinks.vector_index import (
        append_ivfpq_index, build_ivfpq_index, search_ivfpq_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    first = e.filter(F.col("vec_id") < 300)
    rest = e.filter(F.col("vec_id") >= 300)
    cents = train_centroids(first, n_centroids=8, iters=2)
    books = pq_train(first, m=4, k=16, iters=2)

    grown = str(tmp_path / "pq_grown")
    build_ivfpq_index(first, grown, centroids=cents, codebooks=books)
    append_ivfpq_index(rest, grown)
    oneshot = str(tmp_path / "pq_oneshot")
    build_ivfpq_index(e, oneshot, centroids=cents, codebooks=books)

    qs = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = search_ivfpq_index(spark, grown, qs, k=10, n_probe=3).collect()
    b = search_ivfpq_index(spark, oneshot, qs, k=10, n_probe=3).collect()
    assert ({(r.query_id, r.rank, r.vec_id) for r in a}
            == {(r.query_id, r.rank, r.vec_id) for r in b})


def test_compact_index_lists_collapses_files_search_unchanged(spark, tmp_path):
    import os

    from dataingestion_spark.operators.pq import pq_train
    from dataingestion_spark.sinks.vector_index import (
        append_ivfpq_index, build_ivfpq_index, compact_index_lists,
        search_ivfpq_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_centroids(e.filter(F.col("vec_id") < 100), 8, iters=2)
    books = pq_train(e, m=4, k=16, iters=2)
    path = str(tmp_path / "cmp")
    build_ivfpq_index(e.filter(F.col("vec_id") < 100), path,
                      centroids=cents, codebooks=books)
    for lo in range(100, 600, 100):  # five O(batch) appends
        append_ivfpq_index(
            e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100)),
            path)

    def max_files():
        ld = os.path.join(path, "lists")
        return max(sum(1 for f in os.listdir(os.path.join(ld, d))
                       if f.endswith(".parquet"))
                   for d in os.listdir(ld) if d.startswith("centroid_id="))

    assert max_files() > 4
    qs = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    before = {(r.query_id, r.rank, r.vec_id) for r in
              search_ivfpq_index(spark, path, qs, k=10, n_probe=3).collect()}
    assert compact_index_lists(spark, path) > 0
    assert max_files() == 1
    after = {(r.query_id, r.rank, r.vec_id) for r in
             search_ivfpq_index(spark, path, qs, k=10, n_probe=3).collect()}
    assert before == after
    assert compact_index_lists(spark, path) == 0  # idempotent no-op


def test_filtered_search_restricts_to_allowed_ids(spark, tmp_path):
    """allowed= semi-joins the probed lists: results contain only allowed
    ids, and with all centroids probed they equal the exact filtered
    top-k (brute-force cosine over the allowed subset)."""
    from dataingestion_spark.operators.similarity import topk_cosine

    e, cents, path = setup_index(spark, tmp_path)
    qs = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    allowed = e.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    got = search_ivf_index(spark, path, qs, k=8, n_probe=8, allowed=allowed)
    rows = got.collect()
    assert rows and all(r.vec_id % 2 == 0 for r in rows)
    want = topk_cosine(e.filter(F.col("vec_id") % 2 == 0), qs, k=8)
    assert ({(r.query_id, r.rank, r.vec_id) for r in rows}
            == {(r.query_id, r.rank, r.vec_id) for r in want.collect()})
