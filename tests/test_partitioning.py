"""fan_out: the scale-adaptive scan fan-out (r14 optimization round).

Pins the three contract points: (1) under-parallel frames are raised to
the scheduler's slot count, (2) already-parallel frames pass through
untouched (the at-scale no-op), (3) the kill switch disables the
rewrite, and (4) results of a fanned operator are identical to the
unfanned run — the property every oracle check this round relied on.
"""

import os

import pytest
from pyspark.sql import functions as F

from dataingestion_spark.partitioning import fan_out, plan_nodes


def test_fan_out_raises_parallelism(spark):
    slots = spark.sparkContext.defaultParallelism
    df = spark.range(1000).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    fanned = fan_out(df)
    assert fanned.rdd.getNumPartitions() == slots
    # row multiset unchanged
    assert sorted(r[0] for r in fanned.collect()) == list(range(1000))


def test_fan_out_reads_plan_nodes_not_plan_text(spark):
    # a column named Exchange spells the word in the plan text; the
    # plan itself has no exchange, so the fan-out still fires
    slots = spark.sparkContext.defaultParallelism
    df = spark.range(1000).withColumnRenamed("id", "Exchange").coalesce(1)
    assert "Exchange" in df._jdf.queryExecution().executedPlan().toString()
    assert not any(n.endswith("ExchangeExec") for n in plan_nodes(df))
    assert fan_out(df).rdd.getNumPartitions() == slots
    grouped = (spark.range(1000).withColumnRenamed("id", "Exchange")
               .groupBy((F.col("Exchange") % 7).alias("k")).count())
    assert "ShuffleExchangeExec" in plan_nodes(grouped)
    assert fan_out(grouped) is grouped


def test_fan_out_noop_when_already_parallel(spark):
    slots = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(slots + 2)
    # already >= slots: the SAME object comes back — no extra shuffle node
    assert fan_out(df) is df


def test_fan_out_kill_switch(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_FANOUT", "0")
    df = spark.range(10).coalesce(1)
    assert fan_out(df) is df


def _jobs_submitted(spark):
    # DAGScheduler.nextJobId is the monotonically increasing id the next
    # job will take; a delta of zero across a call proves the call
    # submitted no Spark job.
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_fan_out_derived_frame_launches_no_jobs(spark):
    # A frame with an upstream exchange must pass through untouched and
    # WITHOUT the probe executing the shuffle stage: under AQE,
    # materializing df.rdd on such a frame runs the upstream DAG
    # eagerly and discards it (r14 VERDICT #3).
    df = (spark.range(0, 10000).withColumn("k", F.col("id") % 7)
          .groupBy("k").count())
    before = _jobs_submitted(spark)
    out = fan_out(df)
    after = _jobs_submitted(spark)
    assert out is df
    assert after == before


def test_fan_out_scan_probe_launches_no_jobs(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    before = _jobs_submitted(spark)
    fanned = fan_out(df)
    after = _jobs_submitted(spark)
    assert after == before
    assert fanned is not df  # 1 file < slots: the fan-out still fires


def test_fanned_minhash_identical(spark, monkeypatch):
    from dataingestion_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 7} epsilon zeta eta theta")
         for i in range(60)],
        ["doc_id", "text"],
    ).coalesce(1)

    def sigs():
        out = dedup.minhash_signature(docs, num_hashes=8)
        return sorted((r["doc_id"], tuple(r["signature"])) for r in out.collect())

    monkeypatch.setenv("SPARK_GRAFT_FANOUT", "0")
    plain = sigs()
    monkeypatch.setenv("SPARK_GRAFT_FANOUT", "1")
    fanned = sigs()
    assert plain == fanned
