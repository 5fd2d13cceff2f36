"""Tour of the training-corpus interchange matrix: one documents table
exported to and read back from every wire format the engine speaks —

  parquet (the lakehouse native) → JSONL (+gzip) → zstd-JSONL (DCLM /
  RedPajama-v2 shape) → TFRecord (+gzip, tf.train.Example) → Arrow IPC
  (+zstd buffers, the dataloader mmap format) → Avro containers
  (+deflate, the codec Iceberg manifests ride) → WebDataset tar shards

Every sink here shares the same contract: deterministic hash-sharded
bytes (re-exports are idempotent, shards content-addressable), one
task per shard on write, one task per file on read, loud failures on
corruption. Prints a per-format size/row table and verifies each
round trip equals the original.

Run: python examples/interchange_tour.py [sf_dir]
(defaults to /root/testdata/sf0.001)
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def dir_mb(d):
    return sum(os.path.getsize(os.path.join(d, n))
               for n in os.listdir(d) if not n.startswith(".")) / 1e6


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from dataingestion_spark.session import get_spark
    from dataingestion_spark.sources import jsonl
    from dataingestion_spark.sources.arrow_ipc import (
        read_arrow_ipc, write_arrow_ipc,
    )
    from dataingestion_spark.sources.tfrecord import (
        read_tfrecord, write_tfrecord,
    )

    spark = get_spark("interchange-tour", cpus="8", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text", "lang", "source", "n_chars"))
    n = docs.count()
    base = {tuple(r) for r in docs.collect()}
    tmp = tempfile.mkdtemp(prefix="interchange_")
    rows = []

    def check(label, out_dir, back_df):
        got = {tuple(r) for r in back_df
               .select("doc_id", "text", "lang", "source", "n_chars")
               .collect()}
        assert got == base, f"{label}: round trip diverged"
        rows.append((label, dir_mb(out_dir), back_df.count()))

    d = os.path.join(tmp, "jsonl_gz")
    jsonl.write_jsonl(docs, d, shards=4)                 # gzip default
    check("jsonl.gz", d, jsonl.read_jsonl(spark, d))

    d = os.path.join(tmp, "jsonl_zst")
    jsonl.write_jsonl_zst(docs, d, shards=4, order_by="doc_id")
    check("jsonl.zst", d, jsonl.read_jsonl_zst(spark, d))

    feats = {"doc_id": "int64", "text": "bytes", "lang": "bytes",
             "source": "bytes", "n_chars": "int64"}
    as_tf = docs.select(
        "doc_id", F.col("text").cast("binary").alias("text"),
        F.col("lang").cast("binary").alias("lang"),
        F.col("source").cast("binary").alias("source"), "n_chars")

    def tf_back(path):
        b = read_tfrecord(spark, path, feats)
        return b.select(
            "doc_id", F.col("text").cast("string").alias("text"),
            F.col("lang").cast("string").alias("lang"),
            F.col("source").cast("string").alias("source"), "n_chars")

    d = os.path.join(tmp, "tfrecord")
    write_tfrecord(as_tf, feats, d, shards=4)
    check("tfrecord", d, tf_back(d))

    d = os.path.join(tmp, "tfrecord_gz")
    write_tfrecord(as_tf, feats, d, shards=4, compression="gzip")
    check("tfrecord.gz", d, tf_back(d))

    d = os.path.join(tmp, "arrow")
    write_arrow_ipc(docs, d, shards=4, order_by="doc_id")
    check("arrow", d, read_arrow_ipc(spark, d))

    d = os.path.join(tmp, "arrow_zstd")
    write_arrow_ipc(docs, d, shards=4, order_by="doc_id",
                    compression="zstd")
    check("arrow+zstd", d, read_arrow_ipc(spark, d))

    from dataingestion_spark.sources.avro import read_avro, write_avro

    d = os.path.join(tmp, "avro")
    write_avro(docs, d, shards=4, order_by="doc_id")
    check("avro", d, read_avro(spark, d))

    d = os.path.join(tmp, "avro_deflate")
    write_avro(docs, d, shards=4, order_by="doc_id", codec="deflate")
    check("avro+deflate", d, read_avro(spark, d))

    d = os.path.join(tmp, "avro_snappy")
    write_avro(docs, d, shards=4, order_by="doc_id", codec="snappy")
    check("avro+snappy", d, read_avro(spark, d))

    # nested record through the vectorized struct decode (r13): pack
    # three columns into a non-nullable struct, read back, re-flatten
    d = os.path.join(tmp, "avro_struct")
    as_struct = docs.select(
        "doc_id", "text",
        F.struct(F.col("lang").alias("lang"),
                 F.col("source").alias("source"),
                 F.col("n_chars").alias("n_chars")).alias("meta"))
    write_avro(as_struct, d, shards=1, order_by="doc_id",
               block_rows=16)
    check("avro+struct", d, read_avro(spark, d).select(
        "doc_id", "text", F.col("meta.lang").alias("lang"),
        F.col("meta.source").alias("source"),
        F.col("meta.n_chars").alias("n_chars")))

    print(f"\n{n} documents through every interchange format:")
    print(f"{'format':<12} {'MB':>8} {'rows':>7}")
    for label, mb, cnt in rows:
        print(f"{label:<12} {mb:>8.2f} {cnt:>7}")
    print("\nall round trips equal the parquet original ✓")

    # finale: the PUBLISH story — a lakehouse table exported once, then
    # kept fresh by rewriting only the shards whose rows changed
    from dataingestion_spark.sinks import manifest_store as ms
    from dataingestion_spark.sinks.corpus_export import (
        export_corpus, export_corpus_incremental, verify_export,
    )

    table = os.path.join(tmp, "lakehouse_t")
    pub = os.path.join(tmp, "published")
    ms.write_table(
        docs.select(F.col("doc_id").cast("string").alias("documentid"),
                    "text", "lang", "source", "n_chars"), table)
    export_corpus(spark, table, pub, fmt="jsonl_zst", shards=16,
                  key="documentid")
    ms.delete_documents(spark, table,
                        [str(r[0]) for r in docs.limit(3).collect()])
    st = export_corpus_incremental(spark, table, pub)
    print(f"\nincremental publish after deleting 3 docs: rewrote "
          f"{len(st['rewritten'])}/16 shards; verify_export -> "
          f"{'intact' if not verify_export(pub) else 'DIVERGED'}")
    spark.stop()


if __name__ == "__main__":
    main()
