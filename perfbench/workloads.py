"""The three workloads: ingest, refresh and search.

Each drives the public API of ``dataingestion_spark`` the way a user does
and exposes the same interface to ``run.py``:

* ``setup()`` — generate inputs, build tables and indexes, warm up; the
  three parts are timed as ``generate``, ``build`` and ``warmup``;
* ``op(i)`` — timed operation ``i``; ops run in whole rounds of
  ``ROUND`` (a search round issues each of its four query kinds once);
* ``probe(i)`` — traced runs only: extra calls after op ``i`` that split
  its time by layer (prefixes of the lazy ingest chain through a ``noop``
  sink, or each side of a hybrid query on its own);
* ``stored_dirs()`` and ``check()`` — bytes on disk, and the correctness
  checks of ``checks.py`` on what the ops returned.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
from typing import Dict, List

from pyspark.sql import functions as F

from dataingestion_spark.operators.chunkers import (
    ChunkerOptions, header_chunk_doc, parse_and_chunk)
from dataingestion_spark.operators.enrichers import sentiment_enricher, summary_enricher
from dataingestion_spark.pipeline import IngestionPipeline
from dataingestion_spark.sinks import manifest_store as ms
from dataingestion_spark.sinks.text_index import (
    hybrid_search_indexed, search_text_index, write_text_index)
from dataingestion_spark.sinks.vector_index import build_ivf_index, search_ivf_index
from dataingestion_spark.sinks.vector_store import (
    build_vector_records, search, write_vector_table_versioned)
from dataingestion_spark.sources.markdown import binary_file_scan
from dataingestion_spark.tokenizer import WordTokenizer

import checks
import corpus

N_DOCS = 250          # documents per corpus (about 2,200 chunks)
REFRESH_EDITS = 10    # edited documents per refresh commit
REFRESH_NEW = 2       # new documents per refresh commit
TOP_K = 10
PER_SIDE_K = 20       # hybrid: candidates per side before fusion
N_CENTROIDS = 16
N_PROBE = 4
IVF_ITERS = 1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    ROUND = 1
    WARMUP_OPS = 1

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.call = bench.call
        self.dir = bench.work
        self.corpus_dir = os.path.join(self.dir, "corpus")
        opts = ChunkerOptions(WordTokenizer(), corpus.CHUNK_BUDGET)
        self.pipe = IngestionPipeline(
            chunk_doc_fn=functools.partial(header_chunk_doc, options=opts),
            chunk_processors=[summary_enricher, sentiment_enricher])

    def doc_id(self, name: str) -> str:
        return "file:" + os.path.join(self.corpus_dir, name)

    def generate(self) -> None:
        self.docs = corpus.make_corpus(self.b.seed, N_DOCS)
        corpus.write_docs(self.corpus_dir, self.docs.values())

    def build(self, table: str, **glob) -> int:
        chunks = self.call("IngestionPipeline.chunks", self.pipe.chunks,
                           self.spark, self.corpus_dir, **glob)
        return self.call("write_vector_table_versioned", write_vector_table_versioned,
                         chunks, table, incremental=bool(glob), deterministic_keys=True)

    def setup(self) -> None:
        with self.b.part("generate"):
            self.generate()
        with self.b.part("build"):
            self.setup_build()
        with self.b.part("warmup"):
            for i in range(-self.WARMUP_OPS * self.ROUND, 0):
                self.op(i)
                self.after_op(i)

    def setup_build(self) -> None:
        pass

    def after_op(self, i: int) -> None:
        pass

    def probe(self, i: int) -> Dict[str, float]:
        return {}

    def read_rows(self, table: str, version=None) -> List[dict]:
        return [r.asDict() for r in ms.read_table(self.spark, table, version).collect()]


class Ingest(Workload):
    """Each op builds a fresh versioned vector table from the corpus."""
    WARMUP_OPS = 2

    def table(self, i: int) -> str:
        return os.path.join(self.dir, "tables", f"t{i + 10}")

    def op(self, i: int) -> None:
        with self.b.timed():
            self.build(self.table(i))

    def after_op(self, i: int) -> None:
        shutil.rmtree(self.table(i - 1), ignore_errors=True)  # keep only the newest
        self.last = i

    def stored_dirs(self) -> List[str]:
        return [self.table(self.last)]

    def probe(self, i: int) -> Dict[str, float]:
        """Self times from prefixes of the op's lazy chain, each run to a
        noop sink; the last difference is against the op itself."""
        t_op = self.b.op_wall
        stages = []
        df = self.call("binary_file_scan", binary_file_scan, self.spark, self.corpus_dir, glob="*.md")
        stages.append(df)
        df = self.call("parse_and_chunk", parse_and_chunk, df, self.pipe.chunk_doc_fn,
                       id_col="path", content_col="content")
        stages.append(df)
        df = self.call("sentiment_enricher", sentiment_enricher,
                       self.call("summary_enricher", summary_enricher, df))
        stages.append(df)
        stages.append(self.call("build_vector_records", build_vector_records, df,
                                deterministic_keys=True))
        times = []
        for s in stages:
            t = time.perf_counter()
            _noop(s)
            times.append(time.perf_counter() - t)
        man = ms.read_manifest(self.table(i))
        return {
            "sources.markdown.scan_s": times[0],
            "operators.chunkers.parse_chunk_s": times[1] - times[0],
            "operators.enrichers.enrich_s": times[2] - times[1],
            "sinks.vector_store.records_s": times[3] - times[2],
            "sinks.manifest_store.write_s": t_op - times[3],
            "sinks.manifest_store.files_written": sum(len(v) for v in man["buckets"].values()),
        }

    def check(self) -> List[str]:
        rows = self.read_rows(self.table(self.last))
        return checks.check_rows(rows, self.docs, corpus.CHUNK_BUDGET)


class Refresh(Workload):
    """Each op commits a batch of edited and new documents with an
    incremental replace, then reads its own write back: the edited
    documents by id and one filtered search on the new version."""
    WARMUP_OPS = 2

    def setup_build(self) -> None:
        self.table = os.path.join(self.dir, "table")
        self.v0 = self.build(self.table)
        self.live = sorted(self.docs)
        self.mark = {n: corpus.marker(0) for n in self.live}
        self.versions: List[int] = []
        self.lookups = []
        self.touched = set()

    def op(self, i: int) -> None:
        commit = i + self.WARMUP_OPS + 1
        batch = corpus.make_batch(self.b.seed, commit, self.live, REFRESH_EDITS,
                                  REFRESH_NEW, N_DOCS + REFRESH_NEW * (commit - 1))
        corpus.write_docs(self.corpus_dir, batch.docs)  # the batch lands before the op
        self.prev = {d.name: self.mark.get(d.name) for d in batch.docs}
        names = [d.name for d in batch.docs]
        ids = [self.doc_id(d.name) for d in batch.edited]
        qv = checks.embedding(" ".join(corpus.query_words(self.b.seed, commit)))
        self.batch_glob = "{" + ",".join(names) + "}"
        with self.b.timed():
            v = self.build(self.table, glob=self.batch_glob)
            rows = self.call("read_documents", lambda: ms.read_documents(
                self.spark, self.table, ids).collect())
            hits = self.call("search", lambda: search(
                ms.read_table(self.spark, self.table), qv, TOP_K,
                PREDICATES[0][1]()).collect())
        self.versions.append(v)
        self.lookups.append((corpus.marker(commit), [r.asDict() for r in rows], ids))
        self.last_search = (qv, [(r["key"], r["score"]) for r in hits])
        self.last_edited = ids
        self.live += [d.name for d in batch.new]
        self.touched |= {self.doc_id(n) for n in names}
        self.mark.update({n: corpus.marker(commit) for n in names})

    def stored_dirs(self) -> List[str]:
        return [self.table]

    def probe(self, i: int) -> Dict[str, float]:
        t = time.perf_counter()
        _noop(self.pipe.chunks(self.spark, self.corpus_dir, glob=self.batch_glob))
        batch_chunk = time.perf_counter() - t
        v = self.versions[-1]
        new, old = ms.read_manifest(self.table, v), ms.read_manifest(self.table, v - 1)
        meta = new.get("stats", {})
        changed = [b for b, names in new["buckets"].items()
                   if names != old["buckets"].get(b)]
        written = sum(meta.get(n, {}).get("rows", 0)
                      for b in changed for n in new["buckets"][b])
        batch_rows = ms.read_documents(
            self.spark, self.table,
            [self.doc_id(n) for n in self.prev]).count()
        commit = self.b.spans.last("write_vector_table_versioned")
        return {
            "operators.chunkers.batch_chunk_s": batch_chunk,
            "sinks.manifest_store.replace_s": commit["end"] - commit["start"] - batch_chunk,
            "sinks.manifest_store.buckets_rewritten": len(changed),
            "sinks.manifest_store.batch_rows": batch_rows,
            "sinks.manifest_store.rows_rewritten_per_row_changed": written / batch_rows,
            "sinks.manifest_store.read_documents_s": _dur(self.b.spans.last("read_documents")),
            "sinks.vector_store.search_s": _dur(self.b.spans.last("search")),
        }

    def check(self) -> List[str]:
        bad = checks.check_commit([self.v0] + self.versions, self.lookups)
        final = self.read_rows(self.table)
        qv, got = self.last_search
        bad += checks.same_ranking(got, checks.exact_topk(
            final, qv, TOP_K, PREDICATES[0][2]), "search on the new version")
        v = self.versions[-1]
        before = [r.asDict() for r in ms.read_documents(
            self.spark, self.table, self.last_edited, version=v - 1).collect()]
        old = {self.prev[checks.doc_name(d)] for d in self.last_edited}
        if checks.markers(before) != old:
            bad.append(f"version {v - 1} shows markers {sorted(checks.markers(before))}, "
                       f"expected {sorted(old)}")
        bad += checks.check_untouched(self.read_rows(self.table, self.v0), final, self.touched)
        return bad


def _dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


class Search(Workload):
    """Read-only serving: one client cycles filtered exact top-k with a
    bucket-pruning predicate, hybrid (BM25 + IVF, fused by RRF), exact
    top-k with a predicate that prunes nothing, and document fetch."""
    ROUND = 4
    WARMUP_OPS = 2

    def setup_build(self) -> None:
        self.table = os.path.join(self.dir, "table")
        self.ivf = os.path.join(self.dir, "ivf")
        self.bm25 = os.path.join(self.dir, "bm25")
        self.build(self.table)
        t = ms.read_table(self.spark, self.table)
        self.call("build_ivf_index", build_ivf_index,
                  t.select(F.col("key").alias("vec_id"), "embedding"), self.ivf,
                  n_centroids=N_CENTROIDS, iters=IVF_ITERS)
        self.call("write_text_index", write_text_index,
                  t.select(F.col("key").alias("doc_id"), F.col("content").alias("text")),
                  self.bm25)
        self.names = sorted(self.docs)
        self.results = []

    def queries(self, r: int):
        words = " ".join(corpus.query_words(self.b.seed, r))
        tq = self.spark.createDataFrame([(0, words)], "query_id long, query_text string")
        vq = self.spark.createDataFrame([(0, checks.embedding(words))],
                                        "query_id long, query_vec array<double>")
        return words, tq, vq

    def op(self, i: int) -> None:
        r, kind = divmod(i + self.ROUND * self.WARMUP_OPS, self.ROUND)
        if kind in (0, 2):
            qv = checks.embedding(" ".join(corpus.query_words(self.b.seed, r)))
            pred = PREDICATES[kind][1]()
            with self.b.timed():
                rows = self.call("search", lambda: search(
                    ms.read_table(self.spark, self.table), qv, TOP_K, pred).collect())
            self.results.append(("exact", kind, qv, [(x["key"], x["score"]) for x in rows]))
        elif kind == 1:
            words, tq, vq = self.queries(r)
            with self.b.timed():
                rows = self.call("hybrid_search_indexed", lambda: hybrid_search_indexed(
                    self.spark, self.bm25, self.ivf, tq, vq, k=TOP_K,
                    per_side_k=PER_SIDE_K, n_probe=N_PROBE).collect())
            self.results.append(("hybrid", r, words, [(x["doc_id"], x["rrf_score"]) for x in
                                                      sorted(rows, key=lambda x: x["rank"])]))
        else:
            ids = [self.doc_id(n) for n in corpus.fetch_ids(self.b.seed, r, self.names)]
            with self.b.timed():
                rows = self.call("read_documents", lambda: ms.read_documents(
                    self.spark, self.table, ids).collect())
            self.results.append(("fetch", r, ids, [x.asDict() for x in rows]))

    def stored_dirs(self) -> List[str]:
        return [self.table, self.ivf, self.bm25]

    def probe(self, i: int) -> Dict[str, float]:
        r, kind = divmod(i + self.ROUND * self.WARMUP_OPS, self.ROUND)
        st = self.b.status
        if kind in (0, 2):
            return {"sinks.vector_store.search_s": self.b.op_wall,
                    "sinks.vector_store.jobs_per_query": self.b.op_spark["spark.jobs"]}
        if kind == 3:
            ids = [self.doc_id(n) for n in corpus.fetch_ids(self.b.seed, r, self.names)]
            man = ms.read_manifest(self.table)
            return {"sinks.manifest_store.read_documents_s": self.b.op_wall,
                    "sinks.manifest_store.files_read_per_fetch": len(
                        ms.read_documents(self.spark, self.table, ids).inputFiles()),
                    "sinks.manifest_store.live_files": sum(
                        len(v) for v in man["buckets"].values())}
        words, tq, vq = self.queries(r)
        out = {"sinks.text_index.hybrid_s": self.b.op_wall}
        sides = (("vector_index", lambda: search_ivf_index(
                     self.spark, self.ivf, vq, k=PER_SIDE_K, n_probe=N_PROBE)),
                 ("text_index", lambda: search_text_index(
                     self.spark, self.bm25, tq, k=PER_SIDE_K)))
        for name, make in sides:
            st.delta()
            t0 = time.perf_counter()
            df = make()
            t1 = time.perf_counter()
            df.collect()
            t2 = time.perf_counter()
            out[f"sinks.{name}.prep_s"] = t1 - t0
            out[f"sinks.{name}.run_s"] = t2 - t1
            out[f"sinks.{name}.jobs_per_query"] = st.delta()["jobs"]
        return out

    def check(self) -> List[str]:
        rows = self.read_rows(self.table)
        vecs = {r["key"]: r["embedding"] for r in rows}
        texts = {r["key"]: r["content"] for r in rows}
        with open(os.path.join(self.ivf, "centroids.json")) as f:
            cents = [(int(c), [float(x) for x in v]) for c, v in json.load(f)]
        assign = {r["vec_id"]: r["centroid_id"] for r in self.spark.read.parquet(
            os.path.join(self.ivf, "lists")).select("vec_id", "centroid_id").collect()}
        bad = checks.check_ivf_lists(assign, vecs, cents)
        for kind, r, q, got in self.results:
            if kind == "exact":
                name, _, keep = PREDICATES[r]
                bad += checks.same_ranking(got, checks.exact_topk(rows, q, TOP_K, keep),
                                           f"exact top-k, {name}")
            elif kind == "hybrid":
                bm = checks.bm25_topk(texts, q, PER_SIDE_K)
                ivf = checks.ivf_topk(assign, vecs, cents, checks.embedding(q),
                                      PER_SIDE_K, N_PROBE)
                want = checks.rrf([d for d, _ in bm], [d for d, _ in ivf], TOP_K)
                bad += checks.same_ranking(got, want, f"hybrid round {r}")
            else:
                bad += checks.check_fetch(got, rows, q)
        return bad


# search round kinds 0 and 2: (name, program predicate, independent twin)
PREDICATES = {
    # every data file holds one bucket, so row-group stats skip 3/4 of them
    0: ("bucket-pruning", lambda: F.col("doc_bucket") < 16, lambda x: x["doc_bucket"] < 16),
    # true for most rows and constant across no file: prunes nothing
    2: ("non-pruning", lambda: F.col("sentiment") != "Negative",
        lambda x: x["sentiment"] != "Negative"),
}

WORKLOADS = {"ingest": Ingest, "refresh": Refresh, "search": Search}
