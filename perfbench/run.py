"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload {ingest,refresh,search} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Set-up (session start, input generation,
table and index builds, warm-up) is timed as ``setup_s``; then one closed-
loop client runs whole rounds of the workload's op until ``--seconds`` have
passed; then the outputs are checked. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it (``"info"``) stamps the host load
average at start and end and lists every op latency.
"""

from __future__ import annotations

import time

T_START = time.time()  # before any heavy import: set-up starts here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

import meter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s",
              "cpu_s_per_op": "s", "peak_rss_mb": "MB", "stored_mb": "MB"}

PER_LAYER = {
    "session.start_s": "s", "setup.generate_s": "s", "setup.build_s": "s",
    "setup.warmup_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_wall_s": "s", "spark.driver_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.input_mb": "MB",
    "sources.markdown.scan_s": "s", "operators.chunkers.parse_chunk_s": "s",
    "operators.enrichers.enrich_s": "s", "sinks.vector_store.records_s": "s",
    "sinks.manifest_store.write_s": "s", "sinks.manifest_store.files_written": "count",
    "operators.chunkers.batch_chunk_s": "s", "sinks.manifest_store.replace_s": "s",
    "sinks.manifest_store.buckets_rewritten": "count",
    "sinks.manifest_store.batch_rows": "count",
    "sinks.manifest_store.rows_rewritten_per_row_changed": "ratio",
    "sinks.manifest_store.read_documents_s": "s",
    "sinks.manifest_store.files_read_per_fetch": "count",
    "sinks.manifest_store.live_files": "count",
    "sinks.vector_store.search_s": "s", "sinks.vector_store.jobs_per_query": "count",
    "sinks.vector_index.jobs_per_query": "count", "sinks.text_index.jobs_per_query": "count",
    "sinks.vector_index.prep_s": "s", "sinks.vector_index.run_s": "s",
    "sinks.text_index.prep_s": "s", "sinks.text_index.run_s": "s",
    "sinks.text_index.hybrid_s": "s",
    "op_samples": "count", "op_tail_s": "s", "op_tail_pct": "%", "traced_op_p50_s": "s",
}


def tail(latencies):
    """(percentile, value): the highest of p99.9/p99/p90/p75 with at least
    ten samples beyond it; the median (p50) when there are fewer than 40."""
    xs = sorted(latencies)
    for p in (99.9, 99.0, 90.0, 75.0):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, xs[min(len(xs) - 1, int(len(xs) * p / 100))]
    return 50.0, statistics.median(xs)


class Bench:
    """Shared run state handed to a workload: the session, the work dir,
    span recording (``call``), set-up part timing and op timing."""

    def __init__(self, args, work):
        self.seed, self.work, self.trace = args.seed, work, bool(args.trace)
        self.spans = meter.Spans() if self.trace else None
        self.status = None
        self.parts = {}
        self.latencies = []
        self.op_spark = {}

    def call(self, name, fn, *a, **kw):
        if self.spans is None:
            return fn(*a, **kw)
        with self.spans.span(name):
            return fn(*a, **kw)

    @contextmanager
    def part(self, name):
        t = time.perf_counter()
        yield
        self.parts[name] = time.perf_counter() - t

    @contextmanager
    def timed(self):
        """One timed op. In traced runs also reads the op's status-store
        delta (outside the timed interval)."""
        if self.status is not None:
            self.status.delta()
        w0, t0 = time.time(), time.perf_counter()
        yield
        t1, w1 = time.perf_counter(), time.time()
        self.op_wall = t1 - t0
        self.latencies.append(self.op_wall)
        if self.status is not None:
            d = self.status.delta()
            iv = d["intervals"]
            self.op_spark = {
                "spark.jobs": d["jobs"], "spark.stages": d["stages"],
                "spark.tasks": d["tasks"],
                "spark.job_wall_s": sum(b - a for a, b in iv),
                "spark.driver_s": self.op_wall - meter.union_s(iv, w0, w1),
                "spark.executor_run_s": d["executorRunTime"] / 1e3,
                "spark.executor_cpu_s": d["executorCpuTime"] / 1e9,
                "spark.gc_s": d["jvmGcTime"] / 1e3,
                "spark.shuffle_write_mb": d["shuffleWriteBytes"] / 1e6,
                "spark.shuffle_read_mb": d["shuffleReadBytes"] / 1e6,
                "spark.input_mb": d["inputBytes"] / 1e6,
            }


def start_spark(work):
    from dataingestion_spark.session import get_spark
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench", cpus=cpus, driver_mem="2g",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args, work) -> dict:
    from workloads import WORKLOADS  # imports the program: after sys.path is set

    b = Bench(args, work)
    with b.part("session"):
        b.spark = b.call("get_spark", start_spark, work)
    try:
        if b.trace:
            b.status = meter.SparkStatus(b.spark)
        w = WORKLOADS[args.workload](b)
        w.setup()
        warmup = b.latencies
        b.latencies = []
        setup_s = time.time() - T_START

        cpu0, t0 = meter.tree_cpu_s(), time.perf_counter()
        i, failed, samples, stored = 0, 0, [], None
        while True:
            for _ in range(w.ROUND):
                try:
                    w.op(i)
                    w.after_op(i)
                except Exception:  # count it, keep serving; the trace goes to stderr
                    traceback.print_exc()
                    failed += 1
                else:
                    if b.trace:
                        samples.append({**b.op_spark, **w.probe(i)})
                i += 1
            if stored is None:  # a fixed amount of work, however fast the ops run
                stored = meter.dir_mb(*w.stored_dirs())
            if time.perf_counter() - t0 >= args.seconds:
                break
        phase = time.perf_counter() - t0
        cpu = meter.tree_cpu_s() - cpu0
        rss = meter.tree_peak_rss_mb()

        bad = w.check()
        for msg in bad[:20]:
            print(f"check failed: {msg}", file=sys.stderr)
        lat = b.latencies
        if b.trace:
            metrics = per_layer(b, samples, lat)
            b.spans.dump(os.path.join(ROOT, ".perfbench", "spans",
                                      f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {"setup_s": setup_s, "ops_per_s": len(lat) / phase,
                       "op_p50_s": statistics.median(lat),
                       "cpu_s_per_op": cpu / i, "peak_rss_mb": rss, "stored_mb": stored}
        units = PER_LAYER if b.trace else END_TO_END
        return {"info": {"ops": i, "phase_s": phase, "setup_s": setup_s,
                         "parts": b.parts, "warmup_latencies": warmup,
                         "latencies": lat},
                "result": {"correct": not bad, "attempted": i, "failed": failed,
                           "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                                       for k, u in units.items()}}}
    finally:
        jvm = b.spark.sparkContext._gateway.proc
        b.spark.stop()
        jvm.stdin.close()  # the JVM exits on end of its stdin; its workers go with it
        jvm.wait(timeout=60)


def per_layer(b, samples, lat) -> dict:
    out = {"session.start_s": b.parts["session"],
           **{f"setup.{k}_s": b.parts[k] for k in ("generate", "build", "warmup")}}
    keys = {k for s in samples for k in s}
    for k in keys:
        vals = [s[k] for s in samples if k in s]
        # spark.* are per-op means over whole rounds (search mixes three op
        # kinds); layer figures are medians over the ops that produce them
        out[k] = (sum(vals) / len(samples)) if k.startswith("spark.") else statistics.median(vals)
    pct, val = tail(lat)
    out.update({"op_samples": len(lat), "op_tail_s": val, "op_tail_pct": pct,
                "traced_op_p50_s": statistics.median(lat)})
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "refresh", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dataingestion_spark")):
        print(f"no dataingestion_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    # Python workers import the package and these modules by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]
    base = os.path.join(ROOT, ".perfbench", "work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    load0 = os.getloadavg()
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out["info"]["loadavg_start"] = load0
    out["info"]["loadavg_end"] = os.getloadavg()
    print(json.dumps({"info": out["info"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
