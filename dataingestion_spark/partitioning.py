"""Scale-adaptive scan fan-out.

The compute-heavy operators (shingle/minhash hashing, span counting,
tokenize-and-count, chunk parsing) do their expensive work in the SCAN
stage: map-side expressions and partial aggregations run before the
first exchange. Their parallelism is therefore capped by the *input
split count*, not the cluster — and a corpus delivered as a few small
parquet files (or one file whose single row group cannot be split)
plans as a handful of tasks no matter how many cores exist. That is the
"input skew / one unsplittable file" shape from the optimization
playbook (§2.5), and its standard fix: repartition right after the
read, but only when the read actually under-fills the cluster.

``fan_out`` applies exactly that rule, derived from the live session
rather than a constant: if the frame's planned partition count is below
the scheduler's task-slot count (``sc.defaultParallelism`` — the core
count in local mode, total executor cores on a cluster), round-robin
repartition to the slot count; otherwise return the frame untouched.
At production scale a 100 TB table scans as tens of thousands of
splits, so the helper is a structural no-op there — no extra shuffle
ever appears on the big-data path. It only fires in the regime where
the shuffle it adds is by construction small (the whole input fits in
fewer splits than the machine has cores).

Callers apply it where the downstream work is order-insensitive
(aggregations, equi-joins, per-row projections with their own keys) —
never where row order feeds the result (e.g. unsorted collect_list).

``SPARK_GRAFT_FANOUT=0`` disables the rewrite globally for A/B runs.

The other end of the same question — a frame built on the DRIVER —
enters through ``local_frame``: its rows sit in the plan as a JVM
``LocalRelation``, so no scan of it runs a job or a Python worker.
"""

from __future__ import annotations

import os
from typing import List

from pyspark.sql import DataFrame

__all__ = ["fan_out", "local_frame", "plan_nodes"]


def fan_out(df: DataFrame) -> DataFrame:
    """Raise ``df``'s parallelism to the cluster's task slots when the
    source plans fewer partitions; no-op otherwise (the at-scale case).

    Only exchange-free (scan-rooted) frames are probed and fanned.
    Under AQE, materializing ``df.rdd`` on a frame that already
    contains an exchange eagerly EXECUTES every upstream shuffle or
    broadcast stage and then discards the result — a silent double
    execution of the upstream DAG on derived inputs (r14 VERDICT #3).
    Physical *planning* (``sparkPlan``) runs no stages, so it is used
    to detect exchanges first; frames that carry one are left alone —
    their downstream parallelism is governed by shuffle partitions and
    AQE coalescing, not by the input split count this helper fixes.
    On an exchange-free plan the ``df.rdd`` partition probe is exact
    and free: there is no query stage to execute, the RDD is built
    lazily and listing its partitions launches no job.
    """
    if os.environ.get("SPARK_GRAFT_FANOUT", "1") == "0":
        return df
    try:
        sc = df.sparkSession.sparkContext
        slots = int(sc.defaultParallelism)
        if slots <= 1:
            return df
        # plan_nodes walks executedPlan, not sparkPlan: exchanges are
        # inserted by the EnsureRequirements preparation rule, which
        # sparkPlan predates. Building the (non-final) adaptive plan is
        # pure planning — no query stage materializes until an action runs.
        if any(n.endswith("ExchangeExec") for n in plan_nodes(df)):
            return df
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — session teardown races
        return df
    if n >= slots:
        return df
    return df.repartition(slots)


def plan_nodes(df: DataFrame) -> List[str]:
    """Class names of the nodes of ``df``'s physical plan, subqueries
    included, with the adaptive wrapper and query stages unwrapped
    (e.g. ``["ProjectExec", "ShuffleExchangeExec", ...]``). Built by
    planning only: no stage runs. A plan decision reads these names,
    never ``explain`` text, where a column or a path can spell any
    node's name."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        out.append(name)
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return out


def local_frame(spark, data, schema) -> DataFrame:
    """A driver-side frame as a JVM ``LocalRelation``: ``data`` is a
    ``pa.Table`` (e.g. a small frame collected once with ``toArrow()``)
    or an iterable of row tuples in ``schema`` order.

    ``createDataFrame(list)`` parallelizes an RDD instead, and every scan
    of that frame reruns a job through Python workers (a count over a
    16-row frame: ~0.35 s from a list, ~0.08 s from Arrow, local[4] on
    4 vCPUs).
    The schema comes back exactly as given, empty frames included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(data, pa.Table):
        data = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in data],
            schema=to_arrow_schema(schema))
    return spark.createDataFrame(data, schema=schema)
