"""Manifest-based versioned vector table: O(changed-buckets) replace,
time travel, vacuum."""

import json
import os

import pytest

from pyspark.sql import functions as F

from dataingestion_spark.sinks import manifest_store as ms


def records_df(spark, docs: dict):
    rows = [
        (f"{d}#{i:03d}", d, chunk)
        for d, chunks in docs.items()
        for i, chunk in enumerate(chunks)
    ]
    return spark.createDataFrame(rows, "key string, documentid string, content string")


def test_write_read_roundtrip(spark, tmp_path):
    table = str(tmp_path / "t")
    v = ms.write_table(records_df(spark, {"a": ["a0", "a1"], "b": ["b0"]}), table)
    assert v == 0
    got = ms.read_table(spark, table)
    assert got.count() == 3
    assert set(got.columns) >= {"key", "documentid", "content", "doc_bucket"}


def test_incremental_replace_touches_only_affected_buckets(spark, tmp_path):
    table = str(tmp_path / "t2")
    # many docs so several buckets are populated
    docs = {f"doc{i}": [f"doc{i}-c0", f"doc{i}-c1"] for i in range(40)}
    ms.write_table(records_df(spark, docs), table)
    m0 = ms.read_manifest(table)

    ms.incremental_replace(
        records_df(spark, {"doc7": ["doc7-NEW"]}), table
    )
    m1 = ms.read_manifest(table)
    assert m1["version"] == m0["version"] + 1

    import zlib

    affected = str(zlib.crc32(b"doc7") % ms.N_BUCKETS)
    changed = {
        b for b in set(m0["buckets"]) | set(m1["buckets"])
        if m0["buckets"].get(b) != m1["buckets"].get(b)
    }
    assert changed == {affected}  # every other bucket reuses its files

    table_df = ms.read_table(spark, table)
    by_doc = {
        r.documentid: r.n
        for r in table_df.groupBy("documentid").agg(F.count("*").alias("n")).collect()
    }
    assert by_doc["doc7"] == 1  # replaced: 2 chunks -> 1
    assert by_doc["doc8"] == 2  # untouched

    # time travel: version 0 still has the old doc7 chunks
    old = ms.read_table(spark, table, version=0)
    assert old.filter(F.col("documentid") == "doc7").count() == 2


def test_vacuum_drops_unreachable_files(spark, tmp_path):
    table = str(tmp_path / "t3")
    ms.write_table(records_df(spark, {"x": ["x0"], "y": ["y0"]}), table)
    ms.incremental_replace(records_df(spark, {"x": ["x1"]}), table)
    files_before = set(os.listdir(os.path.join(table, "files")))
    removed = ms.vacuum(table, keep_versions=1, min_file_age_seconds=0)
    files_after = set(os.listdir(os.path.join(table, "files")))
    assert set(removed) == files_before - files_after
    assert removed  # the replaced bucket's old file went away
    # live version unaffected
    live = ms.read_table(spark, table)
    assert {r.content for r in live.collect()} == {"x1", "y0"}
    # vacuumed old version is gone
    import pytest

    with pytest.raises(Exception):
        ms.read_table(spark, table, version=0).collect()


def test_versioned_vector_writer_end_to_end(spark, tmp_path):
    from dataingestion_spark.operators.chunkers import ChunkerOptions, header_chunker
    from dataingestion_spark.sinks.vector_store import (
        read_vector_table_versioned,
        write_vector_table_versioned,
    )
    from dataingestion_spark.sources.markdown import parse_markdown_df
    from dataingestion_spark.tokenizer import WordTokenizer

    table = str(tmp_path / "vt")
    docs = {"a": "# A\n\nalpha body", "b": "# B\n\nbeta body"}
    el = parse_markdown_df(
        spark.createDataFrame(sorted(docs.items()), "doc_id string, md string"),
        id_col="doc_id", content_col="md",
    )
    chunks = header_chunker(el, ChunkerOptions(WordTokenizer(), 100))
    v0 = write_vector_table_versioned(chunks, table, deterministic_keys=True)

    el2 = parse_markdown_df(
        spark.createDataFrame([("a", "# A\n\nrewritten")], "doc_id string, md string"),
        id_col="doc_id", content_col="md",
    )
    chunks2 = header_chunker(el2, ChunkerOptions(WordTokenizer(), 100))
    v1 = write_vector_table_versioned(chunks2, table, incremental=True,
                                      deterministic_keys=True)
    assert v1 == v0 + 1
    live = read_vector_table_versioned(spark, table)
    by_doc = {r.documentid: r.content for r in live.collect()}
    assert "rewritten" in by_doc["a"] and "beta body" in by_doc["b"]
    old = read_vector_table_versioned(spark, table, version=v0)
    assert "alpha body" in {
        r.content for r in old.filter(F.col("documentid") == "a").collect()
    }.pop()


def test_append_accumulates_then_compact_merges(spark, tmp_path):
    table = str(tmp_path / "t5")
    # these ids share crc32(id) % 64 == 10, so appends pile files in ONE bucket
    same_bucket = ["doc4", "doc39", "doc47", "doc117", "doc169"]
    ms.write_table(records_df(spark, {same_bucket[0]: ["v0"], "other": ["o0"]}), table)
    # append-only commits: O(batch) each, but files pile up per bucket
    for d in same_bucket[1:]:
        ms.append_table(records_df(spark, {d: [f"x-{d}"]}), table)
    m = ms.read_manifest(table)
    assert max(len(names) for names in m["buckets"].values()) == 5
    total_files_before = sum(len(v) for v in m["buckets"].values())
    assert total_files_before == 6

    v = ms.compact(spark, table, max_files_per_bucket=1)
    m2 = ms.read_manifest(table)
    assert m2["version"] == v
    assert all(len(names) == 1 for names in m2["buckets"].values())
    live = ms.read_table(spark, table)
    assert live.count() == 6  # nothing lost
    assert live.select("documentid").distinct().count() == 6


def test_concurrent_commit_detected(spark, tmp_path):
    import pytest

    table = str(tmp_path / "t6")
    ms.write_table(records_df(spark, {"a": ["a0"]}), table)
    manifest = ms.read_manifest(table)
    # simulate a racing writer that lands the next version first
    ms._commit(table, manifest["version"] + 1, manifest["buckets"],
               expected_current=manifest["version"])
    # a transaction that read the old version must now fail its commit
    with pytest.raises(ms.ConcurrentWriteError):
        ms._commit(table, manifest["version"] + 1, manifest["buckets"],
                   expected_current=manifest["version"])


def test_orphaned_manifest_does_not_wedge_table(spark, tmp_path):
    import os

    table = str(tmp_path / "t7")
    ms.write_table(records_df(spark, {"a": ["a0"]}), table)
    # external corruption: unparseable bytes squatting on the next version
    # number (the protocol itself can't produce this — claims are atomic)
    open(os.path.join(table, "manifest-000001.json"), "w").write("{corrupt")
    # readers ignore the garbage (log ends at the last valid manifest) …
    assert ms.current_version(table) == 0
    # … and a writer fails LOUDLY naming the corrupt path (it must not
    # delete-and-reclaim: racing writers doing that could destroy each
    # other's fresh commits)
    import pytest

    with pytest.raises(ms.ConcurrentWriteError, match="manifest-000001"):
        ms.incremental_replace(records_df(spark, {"a": ["a1"]}), table)
    # operator removes the corruption → the retry commits normally
    os.remove(os.path.join(table, "manifest-000001.json"))
    v = ms.incremental_replace(records_df(spark, {"a": ["a1"]}), table)
    assert v == 1
    assert {r.content for r in ms.read_table(spark, table).collect()} == {"a1"}
    ms.vacuum(table, keep_versions=1, min_file_age_seconds=0)
    assert ms.read_table(spark, table).count() == 1


def test_first_incremental_on_empty_table(spark, tmp_path):
    table = str(tmp_path / "t4")
    v = ms.incremental_replace(records_df(spark, {"z": ["z0"]}), table)
    assert v == 0
    assert ms.read_table(spark, table).count() == 1


def test_delete_documents_is_o_batch(spark, tmp_path):
    """delete_documents commits a tiny delete vector; no data file rewrites."""
    table = str(tmp_path / "t8")
    docs = {f"doc{i}": [f"doc{i}-c0"] for i in range(20)}
    ms.write_table(records_df(spark, docs), table)
    m0 = ms.read_manifest(table)
    ms.delete_documents(spark, table, ["doc3", "doc11"])
    m1 = ms.read_manifest(table)
    assert m1["buckets"] == m0["buckets"]  # zero data files touched
    assert m1["deletes"]  # delete vectors recorded
    live = ms.read_table(spark, table)
    ids = {r.documentid for r in live.select("documentid").distinct().collect()}
    assert "doc3" not in ids and "doc11" not in ids
    assert len(ids) == 18
    # time travel: pre-delete version still sees them
    old = ms.read_table(spark, table, version=m0["version"])
    assert old.filter(F.col("documentid") == "doc3").count() == 1


def test_replace_dv_mode_appends_without_rewrite(spark, tmp_path):
    """mode='dv' replace: new rows + DV in one commit; old copies die, the
    new rows (same seq as the delete) survive."""
    table = str(tmp_path / "t9")
    docs = {f"doc{i}": [f"doc{i}-c0", f"doc{i}-c1"] for i in range(10)}
    ms.write_table(records_df(spark, docs), table)
    m0 = ms.read_manifest(table)
    ms.incremental_replace(records_df(spark, {"doc7": ["doc7-NEW"]}), table, mode="dv")
    m1 = ms.read_manifest(table)
    # every v0 data file is still referenced (no rewrite)
    old_files = {n for names in m0["buckets"].values() for n in names}
    new_files = {n for names in m1["buckets"].values() for n in names}
    assert old_files <= new_files
    by_doc = {
        r.documentid: r.n
        for r in ms.read_table(spark, table)
        .groupBy("documentid").agg(F.count("*").alias("n")).collect()
    }
    assert by_doc["doc7"] == 1  # replaced: 2 chunks -> 1, exactly once
    assert by_doc["doc3"] == 2  # untouched
    got = {r.content for r in ms.read_table(spark, table)
           .filter(F.col("documentid") == "doc7").collect()}
    assert got == {"doc7-NEW"}


def test_compact_materialises_deletion_vectors(spark, tmp_path):
    table = str(tmp_path / "t10")
    docs = {f"doc{i}": [f"doc{i}-c0"] for i in range(12)}
    ms.write_table(records_df(spark, docs), table)
    ms.delete_documents(spark, table, ["doc5"])
    ms.incremental_replace(records_df(spark, {"doc2": ["doc2-NEW"]}), table, mode="dv")
    before = {r.content for r in ms.read_table(spark, table).collect()}
    v = ms.compact(spark, table, max_files_per_bucket=100)  # only DV buckets
    m = ms.read_manifest(table)
    assert m["version"] == v
    assert not m.get("deletes")  # all vectors materialised
    after = {r.content for r in ms.read_table(spark, table).collect()}
    assert after == before
    assert "doc5-c0" not in after and "doc2-NEW" in after
    # vacuum now drops the obsolete delete files
    ms.vacuum(table, keep_versions=1, min_file_age_seconds=0)
    leftover = [f for f in os.listdir(os.path.join(table, "files"))
                if f.startswith("del-")]
    assert leftover == []


def test_stats_prune_point_lookup(spark, tmp_path):
    """read_documents consults footer min/max to skip files in the bucket."""
    table = str(tmp_path / "t11")
    # doc4/doc39/doc117 share bucket 4 — appended as separate files
    ms.write_table(records_df(spark, {"doc4": ["v4"]}), table)
    ms.append_table(records_df(spark, {"doc39": ["v39"]}), table)
    ms.append_table(records_df(spark, {"doc117": ["v117"]}), table)
    m = ms.read_manifest(table)
    assert len(m["buckets"]["4"]) == 3 and m.get("stats")
    cand = ms._candidate_files(table, ["doc39"])
    assert len(cand) == 1  # two of the three files stat-pruned
    got = ms.read_documents(spark, table, ["doc39"]).collect()
    assert [r.content for r in got] == ["v39"]
    # absent id in the same bucket range behaves correctly
    assert ms.read_documents(spark, table, ["doc999"]).count() == 0


def test_read_documents_respects_deletes(spark, tmp_path):
    table = str(tmp_path / "t12")
    ms.write_table(records_df(spark, {"doc4": ["v4"], "doc39": ["v39"]}), table)
    ms.delete_documents(spark, table, ["doc4"])
    assert ms.read_documents(spark, table, ["doc4"]).count() == 0
    assert ms.read_documents(spark, table, ["doc39"]).count() == 1


def test_merge_upsert_update_and_insert(spark, tmp_path):
    """MERGE with update+insert == upsert; untouched docs survive."""
    table = str(tmp_path / "t13")
    ms.write_table(
        records_df(spark, {"a": ["a-old"], "b": ["b-old"], "c": ["c-old"]}), table
    )
    src = records_df(spark, {"b": ["b-new"], "d": ["d-new"]})
    v = ms.merge_table(src, table)
    assert v == 1
    got = {r.documentid: r.content for r in ms.read_table(spark, table).collect()}
    assert got == {"a": "a-old", "b": "b-new", "c": "c-old", "d": "d-new"}


def test_merge_matched_condition_gates_update(spark, tmp_path):
    """Condition referencing target.<col>: only passing rows update."""
    table = str(tmp_path / "t14")
    ms.write_table(records_df(spark, {"a": ["keep"], "b": ["short"]}), table)
    src = records_df(spark, {"a": ["x"], "b": ["yyyyyy"], "e": ["e-new"]})
    # update only when the incoming content is LONGER than the stored one
    ms.merge_table(src, table,
                   matched_condition="length(content) > length(target.content)")
    got = {r.documentid: r.content for r in ms.read_table(spark, table).collect()}
    assert got == {"a": "keep", "b": "yyyyyy", "e": "e-new"}


def test_merge_delete_clause_without_insert(spark, tmp_path):
    """when_matched='delete', when_not_matched=None: matched-only delete."""
    table = str(tmp_path / "t15")
    ms.write_table(records_df(spark, {"a": ["a0"], "b": ["b0"], "c": ["c0"]}), table)
    src = records_df(spark, {"b": ["ignored"], "zzz": ["ignored"]})
    ms.merge_table(src, table, when_matched="delete", when_not_matched=None)
    got = sorted(r.documentid for r in ms.read_table(spark, table).collect())
    assert got == ["a", "c"]  # b deleted; zzz NOT inserted


def test_merge_duplicate_source_ids_raise(spark, tmp_path):
    import pytest

    table = str(tmp_path / "t16")
    ms.write_table(records_df(spark, {"a": ["a0"]}), table)
    dup = records_df(spark, {"a": ["x", "y"]})  # two rows, same documentid
    dup = dup.withColumn("key", F.lit("k"))  # keys differ only by chunk seq
    with pytest.raises(ValueError, match="duplicate documentids"):
        ms.merge_table(dup, table)


def test_merge_is_one_commit_and_o_batch(spark, tmp_path):
    """The merge commit appends new files + a DV; no old file is rewritten."""
    table = str(tmp_path / "t17")
    docs = {f"doc{i}": [f"doc{i}-c0"] for i in range(30)}
    ms.write_table(records_df(spark, docs), table)
    m0 = ms.read_manifest(table)
    ms.merge_table(records_df(spark, {"doc7": ["doc7-NEW"], "new1": ["n1"]}), table)
    m1 = ms.read_manifest(table)
    assert m1["version"] == m0["version"] + 1
    old_files = {n for names in m0["buckets"].values() for n in names}
    new_files = {n for names in m1["buckets"].values() for n in names}
    assert old_files <= new_files  # every original file still referenced
    assert m1.get("deletes")  # the update travelled as a deletion vector
    got = {r.documentid: r.content for r in ms.read_table(spark, table).collect()}
    assert got["doc7"] == "doc7-NEW" and got["new1"] == "n1" and len(got) == 31


def test_merge_update_multi_chunk_document(spark, tmp_path):
    """A stored document spanning several rows (chunked) is replaced as a
    WHOLE by the source row — exactly once, not once per stored row."""
    table = str(tmp_path / "t18")
    ms.write_table(
        records_df(spark, {"a": ["a0", "a1", "a2"], "b": ["b0", "b1"]}), table
    )
    ms.merge_table(records_df(spark, {"a": ["a-NEW"]}), table)
    got = ms.read_table(spark, table).groupBy("documentid").agg(
        F.count("*").alias("n"), F.min("content").alias("c")
    )
    by = {r.documentid: (r.n, r.c) for r in got.collect()}
    assert by == {"a": (1, "a-NEW"), "b": (2, "b0")}


def test_merge_condition_any_stored_row_fires(spark, tmp_path):
    """matched_condition fires when ANY stored row passes."""
    table = str(tmp_path / "t19")
    ms.write_table(records_df(spark, {"a": ["short", "looooooooong"],
                                      "b": ["looooooooong", "huge"]}), table)
    src = records_df(spark, {"a": ["mid-sized"], "b": ["tiny"]})
    # update when the incoming row is longer than SOME stored row
    ms.merge_table(src, table,
                   matched_condition="length(content) > length(target.content)")
    rows = ms.read_table(spark, table).collect()
    docs = {}
    for r in rows:
        docs.setdefault(r.documentid, []).append(r.content)
    # a: 'mid-sized' > 'short' → whole doc replaced
    assert sorted(docs["a"]) == ["mid-sized"]
    # b: 'tiny' beats neither stored row → untouched
    assert sorted(docs["b"]) == ["huge", "looooooooong"]


def test_schema_evolution_append_new_column(spark, tmp_path):
    """A later append may carry a new column; reads merge footers so the
    widened schema is deterministic and old rows surface null."""
    table = str(tmp_path / "t20")
    ms.write_table(records_df(spark, {"a": ["a0"]}), table)
    wider = records_df(spark, {"z": ["z0"]}).withColumn("lang", F.lit("en"))
    ms.append_table(wider, table)
    got = ms.read_table(spark, table)
    assert "lang" in got.columns
    by = {r.documentid: r.lang for r in got.collect()}
    assert by == {"a": None, "z": "en"}


def test_bloom_prunes_scattered_ids_inside_range(spark, tmp_path):
    """min/max can't prune an id INSIDE a file's range; the per-file bloom
    can (when the id isn't actually in the file)."""
    table = str(tmp_path / "t21")
    # doc4 / doc39 / doc117 share bucket 4; store only the outer two —
    # lexicographic range ['doc117', 'doc4'] CONTAINS the absent 'doc39'
    ms.write_table(records_df(spark, {"doc4": ["a"], "doc117": ["b"]}), table)
    m = ms.read_manifest(table)
    st = m["stats"][m["buckets"]["4"][0]]
    assert "bloom" in st
    assert st["min"] <= "doc39" <= st["max"]  # min/max alone can't prune
    assert ms._candidate_files(table, ["doc39"]) == []  # the bloom does
    assert ms.read_documents(spark, table, ["doc39"]).count() == 0
    # present ids still resolve through the bloom
    assert ms._candidate_files(table, ["doc117"]) == [m["buckets"]["4"][0]]
    assert ms.read_documents(spark, table, ["doc117"]).count() == 1


def test_table_diff_append_delete_merge_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    table = str(tmp_path / "t22")
    v0 = ms.write_table(records_df(spark, {"a": ["a0"], "b": ["b0"]}), table)
    v1 = ms.append_table(records_df(spark, {"c": ["c0"]}), table)
    d1 = ms.table_diff(spark, table, v0, v1)
    assert {(r.documentid, r._change_type) for r in d1.collect()} == {("c", "insert")}

    v2 = ms.delete_documents(spark, table, ["b"])
    d2 = ms.table_diff(spark, table, v1, v2)
    assert {(r.documentid, r._change_type) for r in d2.collect()} == {("b", "delete")}

    v3 = ms.merge_table(records_df(spark, {"a": ["a-NEW"], "z": ["z0"]}), table)
    d3 = ms.table_diff(spark, table, v2, v3)
    got = {(r.documentid, r.content, r._change_type) for r in d3.collect()}
    assert got == {("a", "a0", "delete"), ("a", "a-NEW", "insert"),
                   ("z", "z0", "insert")}

    # compaction rewrites files but not content: generic path, empty feed
    v4 = ms.compact(spark, table, max_files_per_bucket=0)
    d4 = ms.table_diff(spark, table, v3, v4).drop("doc_bucket", "_seq")
    assert d4.count() == 0

    # cumulative diff across everything still reconciles
    dall = ms.table_diff(spark, table, v0, v4)
    net = {}
    for r in dall.collect():
        net[(r.documentid, r.content)] = r._change_type
    assert net == {("c", "c0"): "insert", ("b", "b0"): "delete",
                   ("a", "a0"): "delete", ("a", "a-NEW"): "insert",
                   ("z", "z0"): "insert"}


def test_table_stats_metadata_only(spark, tmp_path):
    table = str(tmp_path / "t23")
    ms.write_table(records_df(spark, {"doc4": ["a"], "other": ["b"]}), table)
    ms.append_table(records_df(spark, {"doc39": ["c"]}), table)  # bucket 4 again
    ms.delete_documents(spark, table, ["doc4"])
    s = ms.table_stats(table)
    assert s["n_files"] == 3 and s["max_files_per_bucket"] == 2
    assert s["n_rows_known"] == 3 and s["stats_coverage"] == 1.0
    assert s["n_delete_vectors"] == 1 and s["buckets_with_deletes"] == 1
    assert s["version"] == ms.current_version(table)


def test_txn_guard_skips_retried_epoch(spark, tmp_path):
    """foreachBatch retry semantics: replaying an (app, epoch) that already
    committed is a no-op — same version, same contents."""
    table = str(tmp_path / "txn1")
    ms.write_table(records_df(spark, {"a": ["v1"]}), table, txn=("app", 0))
    v1 = ms.incremental_replace(records_df(spark, {"b": ["v1"]}), table,
                                txn=("app", 1))
    # retry of epoch 1 (same or stale content — must not matter)
    v2 = ms.incremental_replace(records_df(spark, {"b": ["GHOST"]}), table,
                                txn=("app", 1))
    assert v2 == v1
    got = {r.documentid: r.content for r in ms.read_table(spark, table).collect()}
    assert got == {"a": "v1", "b": "v1"}
    # epoch 2 applies normally
    v3 = ms.incremental_replace(records_df(spark, {"b": ["v2"]}), table,
                                txn=("app", 2))
    assert v3 == v1 + 1
    got = {r.documentid: r.content for r in ms.read_table(spark, table).collect()}
    assert got["b"] == "v2"


def test_txn_guard_is_per_app(spark, tmp_path):
    table = str(tmp_path / "txn2")
    ms.write_table(records_df(spark, {"a": ["x"]}), table, txn=("app1", 5))
    # a DIFFERENT app at a lower epoch is independent and applies
    v = ms.append_table(records_df(spark, {"b": ["y"]}), table, txn=("app2", 0))
    assert ms.read_table(spark, table).count() == 2
    # app1 replaying epoch 5 skips
    assert ms.append_table(records_df(spark, {"c": ["z"]}), table,
                           txn=("app1", 5)) == v
    assert ms.read_table(spark, table).count() == 2


def test_txn_guard_dv_mode(spark, tmp_path):
    table = str(tmp_path / "txn3")
    ms.write_table(records_df(spark, {"a": ["v1"]}), table)
    v1 = ms.incremental_replace(records_df(spark, {"a": ["v2"]}), table,
                                mode="dv", txn=("s", 1))
    assert ms.incremental_replace(records_df(spark, {"a": ["v3"]}), table,
                                  mode="dv", txn=("s", 1)) == v1
    got = [r.content for r in ms.read_table(spark, table).collect()]
    assert got == ["v2"]


def _strip_schema(table: str):
    """Rewrite the current manifest as a PRE-SCHEMA one (no 'schema' key),
    simulating a table committed by an older engine version."""
    import json

    v = ms.current_version(table)
    p = ms._manifest_path(table, v)
    m = json.loads(open(p).read())
    m.pop("schema", None)
    open(p, "w").write(json.dumps(m))


def test_append_on_pre_schema_manifest_keeps_old_columns(spark, tmp_path):
    """ADVICE r4: appending a NARROWER batch to a pre-schema manifest must
    not drop columns that exist only in the older files — the schema seed
    comes from the existing footers, not just the new batch."""
    table = str(tmp_path / "preschema")
    wide = records_df(spark, {"a": ["a0"]}).withColumn("extra", F.lit("keep"))
    ms.write_table(wide, table)
    _strip_schema(table)
    ms.append_table(records_df(spark, {"b": ["b0"]}), table)  # no 'extra'
    got = {r.documentid: r.asDict() for r in ms.read_table(spark, table).collect()}
    assert got["a"]["extra"] == "keep"  # column survived
    assert got["b"]["extra"] is None  # new file surfaces null for it


def test_replace_dv_on_pre_schema_manifest_keeps_old_columns(spark, tmp_path):
    table = str(tmp_path / "preschema_dv")
    wide = records_df(spark, {"a": ["a0"], "c": ["c0"]}).withColumn(
        "extra", F.lit("keep"))
    ms.write_table(wide, table)
    _strip_schema(table)
    ms.incremental_replace(records_df(spark, {"a": ["a1"]}), table, mode="dv")
    got = {r.documentid: r.asDict() for r in ms.read_table(spark, table).collect()}
    assert got["c"]["extra"] == "keep"
    assert got["a"]["extra"] is None


def test_merge_on_pre_schema_manifest_keeps_old_columns(spark, tmp_path):
    table = str(tmp_path / "preschema_merge")
    wide = records_df(spark, {"a": ["a0"]}).withColumn("extra", F.lit("keep"))
    ms.write_table(wide, table)
    _strip_schema(table)
    ms.merge_table(records_df(spark, {"b": ["b0"]}), table)
    got = {r.documentid: r.asDict() for r in ms.read_table(spark, table).collect()}
    assert got["a"]["extra"] == "keep"


def test_overwrite_carries_other_apps_txn_watermarks(spark, tmp_path):
    """ADVICE r4: write_table must carry the prior manifest's txn map
    forward — an overwrite resetting other writers' epochs would let a
    retried append from another app re-apply (double-counting rows)."""
    table = str(tmp_path / "txn_carry")
    ms.write_table(records_df(spark, {"a": ["x"]}), table)
    ms.append_table(records_df(spark, {"b": ["y"]}), table, txn=("stream", 3))
    # an unrelated overwrite by a batch job
    v = ms.write_table(records_df(spark, {"z": ["base"]}), table, txn=("batch", 0))
    # stream's retried epoch 3 must STILL be a no-op
    assert ms.append_table(records_df(spark, {"b": ["GHOST"]}), table,
                           txn=("stream", 3)) == v
    got = {r.documentid for r in ms.read_table(spark, table).collect()}
    assert got == {"z"}
    # and a retried overwrite itself is a no-op
    assert ms.write_table(records_df(spark, {"z": ["GHOST2"]}), table,
                          txn=("batch", 0)) == v
    assert {r.content for r in ms.read_table(spark, table).collect()} == {"base"}


def test_merge_condition_backtick_quoted_column(spark, tmp_path):
    """ADVICE r4: a matched_condition referencing a backtick-quoted column
    (spaces in the name) must pack that column, not fail at analysis."""
    table = str(tmp_path / "merge_bt")
    base = records_df(spark, {"a": ["old"]}).withColumn(
        "my col", F.lit(1))
    ms.write_table(base, table)
    src = records_df(spark, {"a": ["new"]}).withColumn("my col", F.lit(2))
    ms.merge_table(src, table, matched_condition="`my col` > target.`my col`")
    got = {r.content for r in ms.read_table(spark, table).collect()}
    assert got == {"new"}
    # condition false -> no update
    src2 = records_df(spark, {"a": ["newer"]}).withColumn("my col", F.lit(0))
    ms.merge_table(src2, table, matched_condition="`my col` > target.`my col`")
    got = {r.content for r in ms.read_table(spark, table).collect()}
    assert got == {"new"}


def test_unconditional_delete_merge_skips_target_and_noop_dvs(spark, tmp_path):
    """r4 fast path: a delete-only merge with no condition writes the
    source ids as the DV without reading the target; ids absent from the
    table are no-ops, and a LATER insert of a deleted id survives (the
    DV applies only to strictly-older files)."""
    table = str(tmp_path / "delmerge")
    ms.write_table(records_df(spark, {"a": ["a0"], "b": ["b0"], "c": ["c0"]}),
                   table)
    # 'ghost' is not in the table: must be a harmless no-op
    ms.merge_table(records_df(spark, {"a": [""], "ghost": [""]})
                   .select("documentid"),
                   table, when_matched="delete", when_not_matched=None)
    got = {r.documentid for r in ms.read_table(spark, table).collect()}
    assert got == {"b", "c"}
    # re-insert a previously deleted id: newer seq beats the old DV
    ms.append_table(records_df(spark, {"a": ["a-reborn"], "ghost": ["g0"]}), table)
    got = {r.documentid: r.content for r in ms.read_table(spark, table).collect()}
    assert got["a"] == "a-reborn" and got["ghost"] == "g0"


def test_update_merge_derived_dv_kills_all_old_chunks(spark, tmp_path):
    """derive_deletes: an update merge's single-job DV must kill EVERY
    old row of an updated multi-chunk document, and leave pure inserts
    (whose derived DV entries are no-ops) intact."""
    table = str(tmp_path / "derdv")
    ms.write_table(records_df(spark, {"multi": ["m0", "m1", "m2"],
                                      "other": ["o0"]}), table)
    ms.merge_table(records_df(spark, {"multi": ["M-NEW"], "new": ["n0"]}), table)
    got = {}
    for r in ms.read_table(spark, table).collect():
        got.setdefault(r.documentid, []).append(r.content)
    assert sorted(got["multi"]) == ["M-NEW"]
    assert got["other"] == ["o0"] and got["new"] == ["n0"]


# --- data skipping ----------------------------------------------------------

def test_data_skipping_prunes_files_and_matches_full_scan(spark, tmp_path):
    from dataingestion_spark.sinks.manifest_store import (
        append_table, candidate_files_where, read_table, read_table_where,
        write_table,
    )

    t = str(tmp_path / "skip_t")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("documentid"), "n_chars", "lang")
    # three commits with disjoint n_chars ranges -> per-file ranges disjoint
    write_table(docs.filter("n_chars < 150"), t)
    append_table(docs.filter("n_chars >= 150 and n_chars < 300"), t)
    append_table(docs.filter("n_chars >= 300"), t)

    conds = [("n_chars", ">=", 300)]
    manifest, chosen = candidate_files_where(t, conds)
    all_files = sum(len(v) for v in manifest["buckets"].values())
    kept = sum(len(v) for v in chosen.values())
    assert 0 < kept < all_files  # pruning really dropped files
    # only commit-3 files survive: every kept file's min >= 800
    from dataingestion_spark.sinks.manifest_store import _manifest_meta
    meta = _manifest_meta(manifest)
    for ns in chosen.values():
        for n in ns:
            assert meta["stats"][n]["cols"]["n_chars"][0] >= 300

    got = read_table_where(spark, t, conds)
    want = read_table(spark, t).filter("n_chars >= 300")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # string + conjunctive conditions; no-match prunes to empty frame
    got2 = read_table_where(spark, t, [("lang", "=", "en"),
                                       ("n_chars", "<", 150)])
    want2 = read_table(spark, t).filter("lang = 'en' and n_chars < 150")
    assert got2.exceptAll(want2).count() == 0 and want2.exceptAll(got2).count() == 0
    assert read_table_where(spark, t, [("n_chars", ">", 10**9)]).count() == 0


def test_data_skipping_never_skips_statless_or_unknown_columns(spark, tmp_path):
    from dataingestion_spark.sinks.manifest_store import (
        candidate_files_where, read_table, read_table_where, write_table,
    )

    t = str(tmp_path / "skip_u")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("documentid"), "n_chars")
    write_table(docs, t)
    # a column with no recorded stats (never written) -> everything reads,
    # the Spark-side filter still applies
    manifest, chosen = candidate_files_where(t, [("nope", ">", 5)])
    assert sum(len(v) for v in chosen.values()) == \
        sum(len(v) for v in manifest["buckets"].values())
    got = read_table_where(spark, t, [("n_chars", "!=", -1)])
    assert got.count() == read_table(spark, t).count()
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unsupported skip op"):
        read_table_where(spark, t, [("n_chars", "like", "x")])


def test_merge_target_read_prunes_by_id_range(spark, tmp_path):
    """Merge reads only the target files whose documentid range overlaps
    the source batch's — and stays exactly equivalent to an unpruned
    merge."""
    from dataingestion_spark.sinks.manifest_store import (
        _manifest_meta, _merge_target_files, merge_table, read_manifest,
        read_table, write_table, append_table,
    )

    t = str(tmp_path / "mrg_prune")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.concat(F.lit("a"), F.col("doc_id").cast("string")).alias("documentid"),
        "n_chars")
    high = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.concat(F.lit("z"), F.col("doc_id").cast("string")).alias("documentid"),
        "n_chars")
    write_table(docs, t)      # ids a…
    append_table(high, t)     # ids z… -> every bucket has one a-file + one z-file
    manifest = read_manifest(t)
    meta = _manifest_meta(manifest)

    # a source wholly in the z range: per bucket, the a-file must be pruned
    src = high.limit(50).withColumn(
        "n_chars", F.col("n_chars") + 1).withColumn(
        "doc_bucket", (F.crc32(F.col("documentid").cast("binary")) % 64).cast("int"))
    pre = src.groupBy("doc_bucket").agg(
        F.count("*").alias("_rows"), F.countDistinct("documentid").alias("_keys"),
        F.min("documentid").alias("_idmin"), F.max("documentid").alias("_idmax"),
    ).collect()
    existing = [str(r["doc_bucket"]) for r in pre
                if manifest["buckets"].get(str(r["doc_bucket"]))]
    kept = _merge_target_files(manifest, meta, existing, pre)
    all_names = [n for b in existing for n in manifest["buckets"][b]]
    assert len(kept) < len(all_names)          # pruning really dropped files
    for n in kept:                             # survivors all hold z-range ids
        assert meta["stats"][n]["min"].startswith("z")

    # end-to-end: the pruned merge equals read-then-compute semantics
    merge_table(src.drop("doc_bucket"), t,
                matched_condition="n_chars > target.n_chars")
    out = read_table(spark, t)
    # the 50 matched docs were updated (n_chars bumped by 1), rest intact
    bumped = out.join(src.select("documentid"), "documentid", "semi")
    orig = high.join(src.select("documentid"), "documentid", "semi")
    assert bumped.count() == 50
    assert (bumped.selectExpr("sum(n_chars)").first()[0]
            == orig.selectExpr("sum(n_chars)").first()[0] + 50)
    assert out.count() == docs.count() + high.count()


def test_data_skipping_applies_deletion_vectors(spark, tmp_path):
    """read_table_where on a DV'd table stays equivalent to
    read-then-filter — pruned file subsets must not bypass DVs."""
    from dataingestion_spark.sinks.manifest_store import (
        append_table, merge_table, read_table, read_table_where, write_table,
    )

    t = str(tmp_path / "skip_dv")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("documentid"), "n_chars")
    write_table(docs.filter("n_chars < 150"), t)
    append_table(docs.filter("n_chars >= 150"), t)
    # DV-delete a slice that overlaps the predicate range
    merge_table(docs.filter("n_chars >= 150 and documentid LIKE '%3'")
                .select("documentid"),
                t, when_matched="delete", when_not_matched=None)
    got = read_table_where(spark, t, [("n_chars", ">=", 150)])
    want = read_table(spark, t).filter("n_chars >= 150")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.filter("documentid LIKE '%3'").count() == 0


def test_sync_table_replicates_incrementally(spark, tmp_path):
    """CDF-driven replication: bootstrap copy, then apply only the change
    feed — updates, inserts, and deletions — and converge to the source;
    re-sync with no new source commits is a version-stable no-op."""
    from dataingestion_spark.sinks.manifest_store import (
        append_table, current_version, merge_table, read_table, sync_table,
        write_table,
    )

    src = str(tmp_path / "sync_src")
    dst = str(tmp_path / "sync_dst")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("documentid"), "text", "n_chars")
    write_table(docs.filter("doc_id % 3 != 0"), src)

    sync_table(spark, src, dst)  # bootstrap = full copy
    def same():
        a = read_table(spark, src).select("documentid", "text", "n_chars")
        b = read_table(spark, dst).select("documentid", "text", "n_chars")
        return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert same()

    # mutate the source: update evens, append new ids, DV-delete %7
    merge_table(docs.filter("doc_id % 2 = 0")
                .withColumn("text", F.concat(F.lit("v2 "), F.col("text"))), src)
    append_table(docs.filter("doc_id % 3 = 0 and doc_id % 2 = 1")
                 .withColumn("documentid", F.concat(F.lit("new"),
                                                    F.col("documentid"))), src)
    merge_table(docs.filter("doc_id % 7 = 0").select("documentid"), src,
                when_matched="delete", when_not_matched=None)

    sync_table(spark, src, dst)
    assert same()
    v = current_version(dst)
    sync_table(spark, src, dst)  # nothing new -> no-op
    assert current_version(dst) == v

    # a dst that was not created by sync refuses to be overwritten
    import pytest as _pytest
    rogue = str(tmp_path / "rogue")
    write_table(docs.limit(5), rogue)
    with _pytest.raises(ValueError, match="not created by sync_table"):
        sync_table(spark, src, rogue)


# --- RESTORE (time-travel rollback) ---


def test_restore_rolls_back_data_to_old_version(spark, tmp_path):
    table = str(tmp_path / "rst")
    v0 = ms.write_table(
        records_df(spark, {f"d{i}": [f"d{i}-c0"] for i in range(10)}), table)
    ms.incremental_replace(
        records_df(spark, {"d3": ["d3-NEW", "d3-NEW2"]}), table, mode="dv")
    ms.delete_documents(spark, table, ["d5", "d7"])
    assert ms.read_table(spark, table).count() == 9  # 10 + 1 - 2
    v = ms.restore_table(table, v0)
    assert v == 3  # an ordinary commit on top of the history
    got = ms.read_table(spark, table)
    assert got.count() == 10
    assert {r.documentid for r in got.select("documentid").collect()} \
        == {f"d{i}" for i in range(10)}
    # the rolled-back versions stay readable (history preserved)
    assert ms.read_table(spark, table, version=2).count() == 9
    # restore is metadata-only: head references version-0 file names
    assert ms.read_manifest(table)["buckets"] == ms.read_manifest(table, v0)["buckets"]


def test_restore_carries_forward_head_txn_map(spark, tmp_path):
    table = str(tmp_path / "rst_txn")
    v0 = ms.write_table(records_df(spark, {"a": ["a0"]}), table)
    ms.append_table(records_df(spark, {"b": ["b0"]}), table, txn=("app1", 7))
    ms.restore_table(table, v0)
    # the retry watermark survives the rollback: a replayed epoch <= 7
    # from app1 must still be a no-op
    v = ms.append_table(records_df(spark, {"b": ["b0"]}), table, txn=("app1", 7))
    assert v == ms.current_version(table)
    assert ms.read_table(spark, table).filter(
        F.col("documentid") == "b").count() == 0


def test_restore_past_vacuum_horizon_fails_loudly(spark, tmp_path):
    table = str(tmp_path / "rst_vac")
    ms.write_table(records_df(spark, {"a": ["a0"]}), table)
    ms.incremental_replace(records_df(spark, {"a": ["a1"]}), table,
                           mode="rewrite")
    ms.vacuum(table, keep_versions=1, min_file_age_seconds=0)
    import pytest

    with pytest.raises(FileNotFoundError, match="vacuumed"):
        ms.restore_table(table, 0)


def test_restore_diff_reports_the_rollback(spark, tmp_path):
    table = str(tmp_path / "rst_diff")
    ms.write_table(records_df(spark, {"a": ["a0"], "b": ["b0"]}), table)
    v1 = ms.delete_documents(spark, table, ["b"])
    v2 = ms.restore_table(table, 0)
    feed = ms.table_diff(spark, table, v1, v2)
    rows = {(r.documentid, r._change_type) for r in feed.collect()}
    assert ("b", "insert") in rows  # the restore re-surfaces b


# --- CLONE (zero-copy table branching) ---


def test_shallow_clone_copies_no_data_and_reads_equal(spark, tmp_path):
    src = str(tmp_path / "csrc")
    dst = str(tmp_path / "cdst")
    docs = {f"d{i}": [f"d{i}-c0", f"d{i}-c1"] for i in range(12)}
    ms.write_table(records_df(spark, docs), src)
    ms.delete_documents(spark, src, ["d4"])  # clone must carry DVs too
    v = ms.clone_table(src, dst)
    assert v == 0
    assert os.listdir(os.path.join(dst, "files")) == []  # zero data copied
    a = {tuple(r) for r in ms.read_table(spark, src).drop("doc_bucket").collect()}
    b = {tuple(r) for r in ms.read_table(spark, dst).drop("doc_bucket").collect()}
    assert a == b and len(a) == 22


def test_clone_writes_diverge_without_touching_source(spark, tmp_path):
    src = str(tmp_path / "csrc2")
    dst = str(tmp_path / "cdst2")
    ms.write_table(records_df(spark, {"a": ["a0"], "b": ["b0"]}), src)
    src_files_before = sorted(os.listdir(os.path.join(src, "files")))
    ms.clone_table(src, dst)
    ms.incremental_replace(records_df(spark, {"a": ["a1-clone"]}), dst,
                           mode="dv")
    ms.append_table(records_df(spark, {"c": ["c0-clone"]}), dst)
    assert sorted(os.listdir(os.path.join(src, "files"))) == src_files_before
    assert ms.read_table(spark, src).count() == 2  # source unchanged
    got = {r.content for r in ms.read_table(spark, dst).collect()}
    assert got == {"a1-clone", "b0", "c0-clone"}


def test_compact_unshallows_rewritten_buckets(spark, tmp_path):
    src = str(tmp_path / "csrc3")
    dst = str(tmp_path / "cdst3")
    docs = {f"d{i}": [f"d{i}-c0"] for i in range(8)}
    ms.write_table(records_df(spark, docs), src)
    ms.clone_table(src, dst)
    # force DVs everywhere so compact rewrites every populated bucket
    ms.incremental_replace(
        records_df(spark, {f"d{i}": [f"d{i}-NEW"] for i in range(8)}),
        dst, mode="dv")
    ms.compact(spark, dst, max_files_per_bucket=1)
    man = ms.read_manifest(dst)
    assert not man.get("ext")  # fully materialized: no external refs left
    got = {r.content for r in ms.read_table(spark, dst).collect()}
    assert got == {f"d{i}-NEW" for i in range(8)}


def test_deep_clone_owns_its_files(spark, tmp_path):
    src = str(tmp_path / "csrc4")
    dst = str(tmp_path / "cdst4")
    ms.write_table(records_df(spark, {"a": ["a0"], "b": ["b0"]}), src)
    ms.clone_table(src, dst, shallow=False)
    assert sorted(os.listdir(os.path.join(dst, "files"))) \
        == sorted(os.listdir(os.path.join(src, "files")))
    # destroy the source entirely: the deep clone must still read
    import shutil

    shutil.rmtree(src)
    assert ms.read_table(spark, dst).count() == 2


def test_clone_of_clone_chases_to_real_files(spark, tmp_path):
    a = str(tmp_path / "ca")
    b = str(tmp_path / "cb")
    c = str(tmp_path / "cc")
    ms.write_table(records_df(spark, {"x": ["x0"]}), a)
    ms.clone_table(a, b)
    ms.clone_table(b, c)  # must reference a's files, not b's empty dir
    man = ms.read_manifest(c)
    assert all(os.path.dirname(p) == os.path.join(a, "files")
               for p in man["ext"].values())
    assert ms.read_table(spark, c).count() == 1


def test_clone_into_existing_table_refuses(spark, tmp_path):
    src = str(tmp_path / "csrc5")
    dst = str(tmp_path / "cdst5")
    ms.write_table(records_df(spark, {"a": ["a0"]}), src)
    ms.write_table(records_df(spark, {"z": ["z0"]}), dst)
    import pytest

    with pytest.raises(FileExistsError):
        ms.clone_table(src, dst)


def test_vacuum_on_clone_never_deletes_source_files(spark, tmp_path):
    src = str(tmp_path / "csrc6")
    dst = str(tmp_path / "cdst6")
    ms.write_table(records_df(spark, {"a": ["a0"], "b": ["b0"]}), src)
    ms.clone_table(src, dst)
    # rewrite everything in the clone, then vacuum aggressively
    ms.write_table(records_df(spark, {"q": ["q0"]}), dst)
    ms.vacuum(dst, keep_versions=1, min_file_age_seconds=0)
    assert ms.read_table(spark, src).count() == 2  # src files intact


# --- OPTIMIZE ZORDER (clustered rewrite for multi-column skipping) ---


def _zorder_rows(spark, n=400):
    import random

    rng = random.Random(7)
    rows = [(f"d{i:05d}", rng.randrange(0, 1000), rng.randrange(0, 1000))
            for i in range(n)]
    return spark.createDataFrame(rows, "documentid string, x long, y long")


def test_optimize_zorder_prunes_and_preserves_content(spark, tmp_path):
    table = str(tmp_path / "zt")
    # enough rows that every pre-optimize file's random x/y stats span
    # ~the full range (no accidental tightness from tiny files)
    df = _zorder_rows(spark, 20000)
    # three shuffled appends: every file's x/y stats span ~the full range
    ms.write_table(df.filter(F.col("documentid").substr(-1, 1).isin("0", "1", "2", "3")), table)
    ms.append_table(df.filter(F.col("documentid").substr(-1, 1).isin("4", "5", "6")), table)
    ms.append_table(df.filter(F.col("documentid").substr(-1, 1).isin("7", "8", "9")), table)

    def n_candidates(conds):
        _, chosen = ms.candidate_files_where(table, conds)
        return sum(len(v) for v in chosen.values())

    conds = [("x", "<", 100), ("y", "<", 100)]
    before_files = n_candidates(conds)
    before = {tuple(r) for r in ms.read_table_where(spark, table, conds)
              .select("documentid", "x", "y").collect()}

    v = ms.optimize_zorder(spark, table, ["x", "y"], files_per_bucket=4)
    assert v == ms.current_version(table)
    after_files = n_candidates(conds)
    after = {tuple(r) for r in ms.read_table_where(spark, table, conds)
             .select("documentid", "x", "y").collect()}

    assert after == before  # layout-only: identical results
    total = ms.table_stats(table)["n_files"]
    # a ~10% x ~10% box must read a small corner of a z-ordered layout
    assert after_files < before_files / 2
    assert after_files <= total // 2
    # full content preserved too
    assert ms.read_table(spark, table).count() == 20000


def test_optimize_zorder_materializes_pending_dvs(spark, tmp_path):
    table = str(tmp_path / "ztdv")
    ms.write_table(_zorder_rows(spark, 100), table)
    ms.delete_documents(spark, table, [f"d{i:05d}" for i in range(10)])
    assert ms.table_stats(table)["n_delete_vectors"] > 0
    ms.optimize_zorder(spark, table, ["x", "y"])
    assert ms.table_stats(table)["n_delete_vectors"] == 0
    assert ms.read_table(spark, table).count() == 90


def test_optimize_zorder_uses_manifest_stats_bounds(spark, tmp_path):
    table = str(tmp_path / "ztb")
    ms.write_table(_zorder_rows(spark, 100), table)
    # bounds resolvable from per-file stats: no scan needed — just verify
    # the call works and clamping keeps out-of-bounds values correct
    ms.optimize_zorder(spark, table, ["x", "y"],
                       bounds={"x": (0, 500), "y": (0, 500)})
    assert ms.read_table(spark, table).count() == 100  # clamp never drops


# --- CHECK constraints (Delta-style write-time enforcement) ---


def test_constraint_rejects_bad_batches_on_every_path(spark, tmp_path):
    import pytest

    table = str(tmp_path / "ck")
    ms.write_table(records_df(spark, {"a": ["a0"], "b": ["b0"]}), table)
    v = ms.add_constraint(spark, table, "content_nonempty",
                          "length(content) > 0")
    assert v == ms.current_version(table)

    bad = records_df(spark, {"c": [""]})
    with pytest.raises(ms.ConstraintViolation, match="content_nonempty"):
        ms.append_table(bad, table)
    with pytest.raises(ms.ConstraintViolation):
        ms.incremental_replace(bad, table, mode="dv")
    with pytest.raises(ms.ConstraintViolation):
        ms.incremental_replace(bad, table, mode="rewrite")
    with pytest.raises(ms.ConstraintViolation):
        ms.merge_table(bad.filter(F.col("documentid") == "c"), table)
    with pytest.raises(ms.ConstraintViolation):
        ms.write_table(bad, table)  # overwrite keeps the table's contract
    # a rejected batch commits NOTHING
    assert ms.read_table(spark, table).count() == 2
    # good batches flow normally and the constraint survives commits
    ms.append_table(records_df(spark, {"d": ["fine"]}), table)
    assert ms.read_manifest(table)["constraints"] == {
        "content_nonempty": "length(content) > 0"}


def test_add_constraint_refuses_table_already_in_violation(spark, tmp_path):
    import pytest

    table = str(tmp_path / "ck2")
    ms.write_table(records_df(spark, {"a": ["a0"], "b": [""]}), table)
    with pytest.raises(ms.ConstraintViolation):
        ms.add_constraint(spark, table, "nonempty", "length(content) > 0")
    # nothing committed
    assert "constraints" not in ms.read_manifest(table)


def test_constraint_null_passes_and_drop_restores_writes(spark, tmp_path):
    import pytest

    table = str(tmp_path / "ck3")
    df = spark.createDataFrame([("k1", "a", None)],
                               "key string, documentid string, n int")
    ms.write_table(df, table)
    ms.add_constraint(spark, table, "n_positive", "n > 0")  # NULL passes
    null_row = spark.createDataFrame([("k2", "b", None)],
                                     "key string, documentid string, n int")
    ms.append_table(null_row, table)  # NULL: not a violation
    bad = spark.createDataFrame([("k3", "c", -5)],
                                "key string, documentid string, n int")
    with pytest.raises(ms.ConstraintViolation):
        ms.append_table(bad, table)
    ms.drop_constraint(table, "n_positive")
    ms.append_table(bad, table)  # dropped: anything goes again
    assert ms.read_table(spark, table).count() == 3


def test_restore_on_shallow_clone_validates_ext_refs(spark, tmp_path):
    src = str(tmp_path / "csrc7")
    dst = str(tmp_path / "cdst7")
    ms.write_table(records_df(spark, {"a": ["a0"], "b": ["b0"]}), src)
    ms.clone_table(src, dst)
    ms.append_table(records_df(spark, {"c": ["c0"]}), dst)
    v = ms.restore_table(dst, 0)  # must see src's files through ext refs
    assert v == 2
    assert ms.read_table(spark, dst).count() == 2


# --- maintain_table (policy-driven OPTIMIZE/VACUUM scheduler) ---


def test_maintain_detects_drift_reclusters_then_noops(spark, tmp_path):
    table = str(tmp_path / "mt")
    df = _zorder_rows(spark, 4000)
    ms.write_table(df, table)
    ms.append_table(_zorder_rows(spark, 4000).withColumn(
        "documentid", F.concat(F.lit("e"), "documentid")), table)

    drift0 = ms.clustering_drift(table, ["x", "y"])
    assert drift0 > 0.5  # random appends: loose in both dims

    rep = ms.maintain_table(spark, table, zorder_by=["x", "y"],
                            keep_versions=1, min_file_age_seconds=0)
    ops = [a["op"] for a in rep["actions"]]
    assert "optimize_zorder" in ops and "vacuum" in ops
    assert ms.clustering_drift(table, ["x", "y"]) <= 0.5
    assert ms.read_table(spark, table).count() == 8000  # content intact

    # healthy table: second run is metadata-only, no actions
    rep2 = ms.maintain_table(spark, table, zorder_by=["x", "y"],
                             keep_versions=1, min_file_age_seconds=0)
    assert rep2["actions"] == []
    assert rep2["version_after"] == rep["version_after"]


def test_maintain_compacts_small_files_without_zorder(spark, tmp_path):
    table = str(tmp_path / "mt2")
    same_bucket = ["doc4", "doc39", "doc47", "doc117", "doc169", "doc181"]
    ms.write_table(records_df(spark, {same_bucket[0]: ["v0"]}), table)
    for d in same_bucket[1:]:
        ms.append_table(records_df(spark, {d: [f"x-{d}"]}), table)
    assert ms.table_stats(table)["max_files_per_bucket"] > 4
    rep = ms.maintain_table(spark, table, min_file_age_seconds=0)
    assert [a["op"] for a in rep["actions"]][0] == "compact"
    assert ms.table_stats(table)["max_files_per_bucket"] <= 4
    assert ms.read_table(spark, table).count() == 6


def test_clone_of_multi_commit_source_accepts_new_deletes(spark, tmp_path):
    # REGRESSION (found by the lakehouse tour): copied seq numbers from a
    # multi-commit source outrank the clone's fresh version counter, so a
    # new DV commit on the clone was a silent no-op. Copied seqs must
    # shift below zero, preserving copied DV/data ordering.
    src = str(tmp_path / "csrc8")
    dst = str(tmp_path / "cdst8")
    ms.write_table(records_df(spark, {"a": ["a0"], "b": ["b0"]}), src)
    ms.append_table(records_df(spark, {"c": ["c0"]}), src)     # seq 1
    ms.incremental_replace(records_df(spark, {"b": ["b1"]}), src,
                           mode="dv")                          # seq 2 + DV
    ms.append_table(records_df(spark, {"d": ["d0"]}), src)     # seq 3
    assert ms.current_version(src) == 3
    ms.clone_table(src, dst)
    # copied DV must still kill the OLD b0 row (relative order preserved)
    assert {r.content for r in ms.read_table(spark, dst).collect()} \
        == {"a0", "b1", "c0", "d0"}
    # a fresh delete on the clone must take effect (seq 1 > shifted seqs)
    ms.delete_documents(spark, dst, ["c", "d"])
    assert {r.content for r in ms.read_table(spark, dst).collect()} \
        == {"a0", "b1"}
    # and a fresh replace supersedes cloned rows
    ms.incremental_replace(records_df(spark, {"a": ["a2"]}), dst, mode="dv")
    assert {r.content for r in ms.read_table(spark, dst).collect()} \
        == {"a2", "b1"}
    # source untouched throughout
    assert ms.read_table(spark, src).count() == 4


def test_table_history_records_ops_and_dry_run_vacuum(spark, tmp_path):
    table = str(tmp_path / "hist")
    ms.write_table(records_df(spark, {"a": ["a0"], "b": ["b0"]}), table)
    ms.append_table(records_df(spark, {"c": ["c0"]}), table)
    ms.delete_documents(spark, table, ["b"])
    ms.merge_table(records_df(spark, {"d": ["d0"]}), table)
    ms.add_constraint(spark, table, "nonempty", "length(content) > 0")
    ms.restore_table(table, 1)
    hist = ms.table_history(table)
    assert [h["op"] for h in hist] == [
        "RESTORE", "ADD_CONSTRAINT", "MERGE", "DELETE", "APPEND", "WRITE"]
    assert hist[0]["version"] == 5
    assert hist[1]["constraints"] == ["nonempty"]
    assert ms.table_history(table, limit=2)[-1]["op"] == "ADD_CONSTRAINT"

    would = ms.vacuum(table, keep_versions=1, min_file_age_seconds=0,
                      dry_run=True)
    import os

    files_before = set(os.listdir(os.path.join(table, "files")))
    assert would  # something is unreachable from the restored head...
    assert set(os.listdir(os.path.join(table, "files"))) == files_before
    assert len(ms.table_history(table)) == 6  # manifests untouched too
    real = ms.vacuum(table, keep_versions=1, min_file_age_seconds=0)
    assert sorted(real) == sorted(would)  # the dry run told the truth


def test_bloom_columns_prune_equality_reads(spark, tmp_path):
    table = str(tmp_path / "bl")
    rows = [(f"d{i:04d}", f"https://site-{i % 97}.example/p{i}")
            for i in range(2000)]
    df = spark.createDataFrame(rows, "documentid string, url string")
    ms.write_table(df, table)
    ms.set_bloom_columns(table, ["url"])
    # pre-declaration files have no blooms: everything still reads
    _, ch0 = ms.candidate_files_where(
        table, [("url", "=", "https://site-5.example/p5")])
    n0 = sum(len(v) for v in ch0.values())
    assert n0 == ms.table_stats(table)["n_files"] or n0 > 0

    # a rewrite back-fills blooms for every file
    ms.compact(spark, table, max_files_per_bucket=0)
    target = "https://site-5.example/p5"
    _, ch1 = ms.candidate_files_where(table, [("url", "=", target)])
    n1 = sum(len(v) for v in ch1.values())
    total = ms.table_stats(table)["n_files"]
    assert 1 <= n1 <= max(3, total // 8)  # bloom prunes to ~the one file

    # correctness: the pruned read returns exactly the row
    got = ms.read_table_where(spark, table, [("url", "=", target)])
    assert [r.documentid for r in got.collect()] == ["d0005"]
    # absent value: bloom proves absence across all files
    _, ch2 = ms.candidate_files_where(
        table, [("url", "=", "https://nope.example/x")])
    assert sum(len(v) for v in ch2.values()) <= total // 8
    assert ms.read_table_where(
        spark, table, [("url", "=", "https://nope.example/x")]).count() == 0

    # appends after declaration carry blooms immediately
    ms.append_table(spark.createDataFrame(
        [("zz1", "https://fresh.example/1")],
        "documentid string, url string"), table)
    _, ch3 = ms.candidate_files_where(
        table, [("url", "=", "https://fresh.example/1")])
    assert 1 <= sum(len(v) for v in ch3.values()) <= max(3, total // 8)


def test_timestamp_as_of_time_travel(spark, tmp_path):
    import time

    import pytest

    table = str(tmp_path / "ts")
    ms.write_table(records_df(spark, {"a": ["a0"]}), table)
    t_after_v0 = time.time()
    time.sleep(0.05)
    ms.append_table(records_df(spark, {"b": ["b0"]}), table)

    assert ms.version_at_timestamp(table, t_after_v0) == 0
    assert ms.version_at_timestamp(table, time.time()) == 1
    assert ms.read_table(spark, table, timestamp=t_after_v0).count() == 1
    assert ms.read_table(spark, table).count() == 2
    with pytest.raises(ValueError, match="no version"):
        ms.version_at_timestamp(table, t_after_v0 - 1000)
    with pytest.raises(ValueError, match="not both"):
        ms.read_table(spark, table, version=0, timestamp=t_after_v0)
    # restore stamps its own fresh commit time, not the restored one's
    ms.restore_table(table, 0)
    hist = ms.table_history(table)
    assert hist[0]["op"] == "RESTORE" and hist[0]["ts"] >= hist[1]["ts"]


def test_optimize_zorder_string_column(spark, tmp_path):
    import random

    rng = random.Random(3)
    hosts = [f"host-{i:03d}.example" for i in range(200)]
    rows = [(f"d{i:05d}", rng.choice(hosts), rng.randrange(0, 1000))
            for i in range(8000)]
    df = spark.createDataFrame(rows, "documentid string, host string, x long")
    table = str(tmp_path / "zs")
    # two interleaved commits: host/x stats loose everywhere
    ms.write_table(df.filter(F.col("x") % 2 == 0), table)
    ms.append_table(df.filter(F.col("x") % 2 == 1), table)

    conds = [("host", "<", "host-020"), ("x", "<", 100)]

    def n_cand():
        _, ch = ms.candidate_files_where(table, conds)
        return sum(len(v) for v in ch.values())

    before_rows = {tuple(r) for r in
                   ms.read_table_where(spark, table, conds)
                   .select("documentid", "host", "x").collect()}
    before_files = n_cand()
    ms.optimize_zorder(spark, table, ["host", "x"], files_per_bucket=8)
    after_rows = {tuple(r) for r in
                  ms.read_table_where(spark, table, conds)
                  .select("documentid", "host", "x").collect()}
    assert after_rows == before_rows            # layout-only
    assert n_cand() < before_files / 2          # string dim now prunes
    assert ms.read_table(spark, table).count() == 8000


def test_maintain_backfills_declared_blooms_once(spark, tmp_path):
    table = str(tmp_path / "mtb")
    rows = [(f"d{i:04d}", f"u{i}") for i in range(300)]
    ms.write_table(spark.createDataFrame(rows, "documentid string, u string"),
                   table)
    ms.set_bloom_columns(table, ["u"])
    rep = ms.maintain_table(spark, table, min_file_age_seconds=0)
    assert rep["bloom_backfill_needed"] is True
    assert any(a["op"] == "compact"
               and "bloom" in a["reason"] for a in rep["actions"])
    _, ch = ms.candidate_files_where(table, [("u", "=", "u7")])
    assert sum(len(v) for v in ch.values()) <= 3  # blooms now prune
    rep2 = ms.maintain_table(spark, table, min_file_age_seconds=0)
    assert rep2["bloom_backfill_needed"] is False
    assert rep2["actions"] == []


def test_concurrent_appenders_all_land_with_retries(spark, tmp_path):
    """Eight racing writers, one table: optimistic claims serialize the
    commits, losers retry against the new head, and every batch lands
    exactly once — the multi-writer contract at 100 TB."""
    import threading

    table = str(tmp_path / "race")
    ms.write_table(records_df(spark, {"seed": ["s0"]}), table)

    errors = []

    def writer(i):
        try:
            ms.with_retries(lambda: ms.append_table(
                records_df(spark, {f"w{i}": [f"w{i}-c0", f"w{i}-c1"]}),
                table), attempts=12)
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append((i, e))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    out = ms.read_table(spark, table)
    assert out.count() == 1 + 16
    assert out.select("documentid").distinct().count() == 9
    # the log is strictly sequential: versions 0..8, every one readable
    assert ms.current_version(table) == 8
    ops = [h["op"] for h in ms.table_history(table)]
    assert ops == ["APPEND"] * 8 + ["WRITE"]


def test_incremental_zorder_rewrites_only_drifted_buckets(spark, tmp_path):
    table = str(tmp_path / "zinc")
    base = _zorder_rows(spark, 8000)
    ms.write_table(base, table)
    v_opt = ms.optimize_zorder(spark, table, ["x", "y"], files_per_bucket=4)
    m_opt = ms.read_manifest(table)
    # drift ~0 after the full pass
    assert ms.clustering_drift(table, ["x", "y"]) < 0.2

    # two loose appends confined to a FEW buckets (ids picked by hash)
    import zlib

    extra = _zorder_rows(spark, 1200).withColumn(
        "documentid", F.concat(F.lit("q"), "documentid"))
    targets = {"3", "11", "29", "45", "60"}
    ids = [r[0] for r in extra.select("documentid").collect()
           if str(zlib.crc32(r[0].encode()) % ms.N_BUCKETS) in targets]
    half = len(ids) // 2
    ms.append_table(extra.filter(F.col("documentid").isin(ids[:half])), table)
    ms.append_table(extra.filter(F.col("documentid").isin(ids[half:])), table)
    per_b = ms.bucket_drift(table, ["x", "y"])
    hot = {b for b, d in per_b.items() if d > 0.5}
    assert hot and len(hot) < len([b for b in per_b])

    rep = ms.maintain_table(spark, table, zorder_by=["x", "y"],
                            min_file_age_seconds=0, keep_versions=1)
    acts = [a for a in rep["actions"] if a["op"] == "optimize_zorder"]
    assert acts and acts[0].get("buckets") == len(hot)  # incremental pass
    # untouched buckets kept their files by reference
    m_new = ms.read_manifest(table)
    untouched = [b for b in m_opt["buckets"]
                 if b not in hot and b not in targets
                 and m_opt["buckets"][b]]
    assert untouched
    for b in untouched:
        assert m_new["buckets"][b] == m_opt["buckets"][b]
    # content intact and drift healed
    assert ms.read_table(spark, table).count() == 8000 + len(ids)
    assert ms.clustering_drift(table, ["x", "y"]) <= 0.5


def test_randomized_op_sequence_matches_model(spark, tmp_path):
    """Model-based check: a random (seeded) sequence of write/append/
    replace/merge/delete/compact/zorder/restore ops, mirrored against a
    plain dict model {documentid: content}; after every op the table
    must equal the model, and every historical version must equal its
    snapshot. This is the whole-store invariant no single-op test
    covers: DV sequencing, rewrites, and metadata-only commits compose."""
    import random

    rng = random.Random(20260814)
    table = str(tmp_path / "model")

    def df_of(model_slice):
        rows = [(f"{d}#0", d, c) for d, c in sorted(model_slice.items())]
        return spark.createDataFrame(
            rows, "key string, documentid string, content string")

    model = {f"d{i:03d}": f"v0-{i}" for i in range(30)}
    ms.write_table(df_of(model), table)
    snapshots = {0: dict(model)}

    def check(tag):
        got = {r.documentid: r.content
               for r in ms.read_table(spark, table).collect()}
        assert got == model, f"live mismatch after {tag}"

    for step in range(14):
        op = rng.choice(["append", "replace", "delete", "merge",
                         "compact", "zorder", "restore"])
        if op == "append":
            new = {f"d{rng.randrange(1000, 9999)}": f"a{step}"
                   for _ in range(rng.randrange(1, 4))}
            new = {d: c for d, c in new.items() if d not in model}
            if not new:
                continue
            ms.append_table(df_of(new), table)
            model.update(new)
        elif op == "replace":
            targets = rng.sample(sorted(model), min(3, len(model)))
            upd = {d: f"r{step}" for d in targets}
            ms.incremental_replace(df_of(upd), table,
                                   mode=rng.choice(["dv", "rewrite"]))
            model.update(upd)
        elif op == "delete":
            targets = rng.sample(sorted(model), min(2, len(model)))
            ms.delete_documents(spark, table, targets)
            for d in targets:
                model.pop(d)
        elif op == "merge":
            ups = {d: f"m{step}" for d in
                   rng.sample(sorted(model), min(2, len(model)))}
            ins = {f"n{step}-{i}": f"i{step}" for i in range(2)}
            ms.merge_table(df_of({**ups, **ins}), table)
            model.update(ups)
            model.update(ins)
        elif op == "compact":
            ms.compact(spark, table, max_files_per_bucket=1)
        elif op == "zorder":
            # cluster on (n_chars-ish) derived ints? columns are strings —
            # use key/content lengths via bounds on documentid prefix int
            ms.optimize_zorder(spark, table, ["documentid", "content"],
                               files_per_bucket=2)
        elif op == "restore":
            v = rng.choice(sorted(snapshots))
            try:
                ms.restore_table(table, v)
            except FileNotFoundError:
                continue  # snapshot vacuumed? (we never vacuum) — defensive
            model = dict(snapshots[v])
        snapshots[ms.current_version(table)] = dict(model)
        check(f"step {step} ({op})")

    # every surviving historical version equals its snapshot
    for v, snap in snapshots.items():
        got = {r.documentid: r.content
               for r in ms.read_table(spark, table, version=v).collect()}
        assert got == snap, f"version {v} mismatch"


def test_delete_where_scans_only_candidates_and_kills_documents(spark, tmp_path):
    table = str(tmp_path / "dw")
    df = _zorder_rows(spark, 3000)
    # three range-disjoint commits give the files tight x stats
    ms.write_table(df.filter(F.col("x") < 300), table)
    ms.append_table(df.filter((F.col("x") >= 300) & (F.col("x") < 700)), table)
    ms.append_table(df.filter(F.col("x") >= 700), table)
    total = ms.read_table(spark, table).count()
    keep = ms.read_table(spark, table).filter("NOT (x >= 700 AND y < 500)")
    expect = {r.documentid for r in keep.select("documentid").collect()}

    v = ms.delete_where(spark, table, [("x", ">=", 700), ("y", "<", 500)])
    assert v == ms.current_version(table)
    got = {r.documentid for r in ms.read_table(spark, table)
           .select("documentid").collect()}
    assert got == expect and len(got) < total
    assert ms.table_history(table)[0]["op"] == "DELETE_WHERE"
    # no data file was rewritten: bucket lists unchanged
    assert ms.read_manifest(table)["buckets"] \
        == ms.read_manifest(table, v - 1)["buckets"]
    # nothing-matches is a no-op commit-wise
    assert ms.delete_where(spark, table, [("x", ">", 99999)]) == v


def test_update_where_rewrites_only_matched_documents(spark, tmp_path):
    table = str(tmp_path / "uw")
    df = _zorder_rows(spark, 1000)
    ms.write_table(df, table)
    v = ms.update_where(spark, table, [("x", "<", 100)],
                        {"y": "y + 10000"})
    assert v == 1
    got = ms.read_table(spark, table)
    assert got.filter("x < 100 AND y < 10000").count() == 0
    assert got.filter("x >= 100 AND y >= 10000").count() == 0
    assert got.count() == 1000
    # constraints gate predicate updates too
    ms.add_constraint(spark, table, "y_bounded", "y < 100000")
    import pytest

    with pytest.raises(ms.ConstraintViolation):
        ms.update_where(spark, table, [("x", "<", 100)],
                        {"y": "y + 10000000"})
    # no match: no commit
    assert ms.update_where(spark, table, [("x", ">", 10**9)],
                           {"y": "0"}) == ms.current_version(table)


def test_max_rows_per_file_splits_and_tightens_stats(spark, tmp_path):
    table = str(tmp_path / "mrpf")
    df = _zorder_rows(spark, 2000)
    ms.write_table(df, table, max_rows_per_file=20)
    st = ms.table_stats(table)
    m = ms.read_manifest(table)
    meta = ms._manifest_meta(m)
    # every file respects the cap and carries its own stats
    for names in m["buckets"].values():
        for n in names:
            assert meta["stats"][n]["rows"] <= 20
    assert st["max_files_per_bucket"] >= 2
    assert ms.read_table(spark, table).count() == 2000
    # appends honor the cap too, and reads/DVs work across the split
    ms.append_table(df.limit(50).withColumn(
        "documentid", F.concat(F.lit("e"), "documentid")),
        table, max_rows_per_file=10)
    ms.delete_documents(spark, table, ["d00001", "ed00001"])
    assert ms.read_table(spark, table).count() == 2000 + 50 - 2


def test_metadata_count_paths(spark, tmp_path):
    """DV-free tables answer COUNT(*) from manifest stats with zero data
    IO; live DVs fall back to the scan count; compact() restores the
    metadata-only path. Both paths must agree with read_table."""
    from dataingestion_spark.sinks.manifest_store import (
        compact, delete_documents, metadata_count, read_table, write_table,
        append_table,
    )
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    mk = lambda a, b: spark.range(a, b).select(  # noqa: E731
        F.col("id").cast("string").alias("documentid"), F.col("id").alias("v"))
    write_table(mk(0, 120), t)
    append_table(mk(120, 200), t)
    assert metadata_count(spark, t) == 200 == read_table(spark, t).count()
    delete_documents(spark, t, [str(i) for i in range(0, 200, 4)])
    assert metadata_count(spark, t) == 150 == read_table(spark, t).count()
    compact(spark, t, max_files_per_bucket=10 ** 9)
    # back on the metadata-only path (asserted by poisoning a stats row:
    # a wrong stored count would surface verbatim, proving no scan ran)
    import json

    from dataingestion_spark.sinks.commit_backend import backend_for
    from dataingestion_spark.sinks.manifest_store import (
        _manifest_path, current_version,
    )

    assert metadata_count(spark, t) == 150
    v = current_version(t)
    be = backend_for(t)
    # poke the RECONSTRUCTED state and store it back as a full manifest
    # (the on-disk doc may be a delta, which has no flat stats section)
    from dataingestion_spark.sinks.manifest_store import read_manifest

    m = read_manifest(t, v)
    name = next(n for ns in m["buckets"].values() for n in ns)
    m["stats"][name]["rows"] += 7
    be.put_atomic(_manifest_path(t, v), json.dumps(m))
    assert metadata_count(spark, t) == 157  # metadata-only, provably


def test_metadata_minmax_paths(spark, tmp_path):
    """DV-free tables with full column stats answer MIN/MAX from the
    manifest with zero data IO (spark=None proves no scan can run);
    live DVs, all-null columns, and non-primitive columns fall back to
    the aggregating scan and must agree with read_table."""
    from pyspark.sql import functions as F

    from dataingestion_spark.sinks.manifest_store import (
        compact, delete_documents, metadata_minmax, read_table, write_table,
    )

    t = str(tmp_path / "mm")
    df = spark.range(0, 200).select(
        F.col("id").cast("string").alias("documentid"),
        (F.col("id") * 2 - 100).alias("v"),
        F.concat(F.lit("s"), F.lpad(F.col("id").cast("string"), 3, "0"))
        .alias("s"),
        F.lit(None).cast("string").alias("allnull"),
        F.array(F.col("id")).alias("arr"))
    write_table(df, t)
    # metadata-only: passing spark=None proves no scan job is possible
    mm = metadata_minmax(None, t, ["v", "s"])
    assert mm["v"] == (-100, 298)
    assert mm["s"] == ("s000", "s199")
    # all-null and non-primitive columns fall back to the scan
    mm = metadata_minmax(spark, t, ["v", "allnull"])
    assert mm["allnull"] == (None, None) and mm["v"] == (-100, 298)
    # a live DV that held the extremes forces the scan and changes both
    delete_documents(spark, t, ["0", "199"])
    mm = metadata_minmax(spark, t, ["v", "s"])
    assert mm["v"] == (-98, 296) and mm["s"] == ("s001", "s198")
    # compact materializes the DV and restores the metadata-only path
    compact(spark, t, max_files_per_bucket=10 ** 9)
    mm = metadata_minmax(None, t, ["v", "s"])
    assert mm["v"] == (-98, 296) and mm["s"] == ("s001", "s198")
    assert read_table(spark, t).agg(F.min("v"), F.max("v")).collect()[0][0] == -98


def test_append_rebase_on_conflict(spark, tmp_path, monkeypatch):
    """An append losing the commit race must NOT re-run its Spark write
    job: the already-written files rebase onto the new head (fresh
    version + seq) and re-claim. Both appends' rows land; exactly one
    write job ran per append."""
    import dataingestion_spark.sinks.manifest_store as ms
    from pyspark.sql import functions as F

    t = str(tmp_path / "rebase")
    mk = lambda a, b: spark.range(a, b).select(  # noqa: E731
        F.col("id").cast("string").alias("documentid"), F.col("id").alias("v"))
    ms.write_table(mk(0, 50), t)

    calls = {"n": 0}
    real = ms._write_bucket_files

    def wrapped(records, table, token, **kw):
        calls["n"] += 1
        out = real(records, table, token, **kw)
        if calls["n"] == 1:
            # a racer commits between our write job and our claim
            ms.append_table(mk(100, 130), t)
        return out

    monkeypatch.setattr(ms, "_write_bucket_files", wrapped)
    v = ms.append_table(mk(200, 220), t)
    assert v == 2  # WRITE=v0, racer APPEND=v1, ours lost v1 -> rebased to v2
    ops = [h["op"] for h in ms.table_history(t)]
    assert ops.count("APPEND") == 2
    # one write job per append: ours (n=1) + racer (n=2), NO re-run
    assert calls["n"] == 2
    df = ms.read_table(spark, t)
    assert df.count() == 100
    assert df.filter("documentid = '205'").count() == 1
    assert df.filter("documentid = '115'").count() == 1


def test_register_table_sql(spark, tmp_path):
    """spark.sql over manifest tables: snapshot views (current + time
    travel) join correctly, see DV-applied state, and pin their version
    against later commits until re-registered."""
    import dataingestion_spark.sinks.manifest_store as ms
    from pyspark.sql import functions as F

    dim = str(tmp_path / "dim")
    fact = str(tmp_path / "fact")
    ms.write_table(spark.range(0, 10).select(
        F.col("id").cast("string").alias("documentid"),
        F.concat(F.lit("n"), "id").alias("name")), dim)
    ms.write_table(spark.range(0, 100).select(
        F.col("id").cast("string").alias("documentid"),
        (F.col("id") % 10).cast("string").alias("k"),
        F.col("id").alias("v")), fact)
    out = ms.table_sql(
        spark,
        "SELECT d.name, SUM(f.v) AS s FROM f JOIN d ON f.k = d.documentid "
        "GROUP BY d.name ORDER BY d.name",
        {"d": dim, "f": fact})
    rows = out.collect()
    assert len(rows) == 10 and rows[0].s == sum(range(0, 100, 10))
    # DV-applied + snapshot pinning
    v0 = ms.current_version(dim)
    ms.delete_documents(spark, dim, ["3"])
    ms.register_table(spark, dim, "d_now")
    ms.register_table(spark, dim, "d_v0", version=v0)
    assert spark.sql("SELECT COUNT(*) c FROM d_now").collect()[0].c == 9
    assert spark.sql("SELECT COUNT(*) c FROM d_v0").collect()[0].c == 10
    # the pinned view keeps its file list across later commits
    ms.append_table(spark.range(50, 60).select(
        F.col("id").cast("string").alias("documentid"),
        F.concat(F.lit("n"), "id").alias("name")), dim)
    assert spark.sql("SELECT COUNT(*) c FROM d_now").collect()[0].c == 9


def test_delta_manifests_roundtrip_and_vacuum(spark, tmp_path):
    """Commits between checkpoints store O(changed entries) delta docs,
    not the full table state; reconstruction is exact at every version;
    vacuum keeps the manifest chain a kept delta version needs."""
    import dataingestion_spark.sinks.manifest_store as ms
    from dataingestion_spark.sinks.commit_backend import backend_for
    from pyspark.sql import functions as F

    t = str(tmp_path / "dl")
    mk = lambda a, b: spark.range(a, b).select(  # noqa: E731
        F.col("id").cast("string").alias("documentid"), F.col("id").alias("v"))
    ms.write_table(mk(0, 400), t)                      # v0: full
    for i in range(1, 13):                             # v1..v12: appends
        ms.append_table(mk(1000 * i, 1000 * i + 5), t)
    be = backend_for(t)
    docs = {v: json.loads(be.read_text(ms._manifest_path(t, v)))
            for v in range(13)}
    assert "base" not in docs[0] and "base" not in docs[10]  # checkpoints
    assert all("base" in docs[v] for v in range(1, 10)) and "base" in docs[11]
    # the delta doc carries only the touched entries, not the table
    full_sz = len(be.read_text(ms._manifest_path(t, 0)))
    delta_sz = len(be.read_text(ms._manifest_path(t, 5)))
    assert delta_sz < full_sz / 2
    # exact reconstruction at every version (counts + a spot value)
    for v in range(13):
        assert ms.read_table(spark, t, version=v).count() == 400 + 5 * v
    # stats survive the delta encoding end-to-end
    assert ms.metadata_count(None if False else spark, t) == 400 + 60
    mm = ms.metadata_minmax(None, t, ["v"])
    assert mm["v"] == (0, 12004)
    # vacuum to the newest 2 versions: the oldest kept delta (v11) is
    # re-encoded as a full manifest so its anchor chain can drop — the
    # kept window stays self-contained and exactly the kept manifests
    # survive; reads at both kept versions still see exact state
    ms.vacuum(t, keep_versions=2, min_file_age_seconds=0)
    assert ms.read_table(spark, t, version=12).count() == 400 + 60
    assert ms.read_table(spark, t, version=11).count() == 400 + 55
    with pytest.raises(FileNotFoundError):
        ms.read_manifest(t, 5)
    on_disk = sorted(int(e.split("-")[1].split(".")[0])
                     for e in be.list_dir(t) if e.startswith("manifest-"))
    assert on_disk == [11, 12]
    assert "base" not in json.loads(
        be.read_text(ms._manifest_path(t, 11)))  # materialized full
    assert "base" in json.loads(
        be.read_text(ms._manifest_path(t, 12)))  # still a delta vs 11


def test_write_parallelism_salted_layout(spark, tmp_path):
    """write_parallelism=P shuffles on (bucket, salt): more concurrent
    writer tasks than buckets, multiple files per touched bucket, and
    byte-identical reads / DV behavior afterwards."""
    import dataingestion_spark.sinks.manifest_store as ms
    from pyspark.sql import functions as F

    t = str(tmp_path / "wp")
    df = spark.range(0, 5000).select(
        F.col("id").cast("string").alias("documentid"), F.col("id").alias("v"))
    ms.write_table(df, t, write_parallelism=256)
    m = ms.read_manifest(t)
    per_bucket = [len(v) for v in m["buckets"].values() if v]
    assert max(per_bucket) >= 2            # salt split buckets into files
    assert sum(per_bucket) > 64
    got = ms.read_table(spark, t)
    assert got.count() == 5000
    assert got.filter("documentid = '4999'").collect()[0].v == 4999
    # appends, stats-answered aggregates, and DVs work across the split
    ms.append_table(df.withColumn(
        "documentid", F.concat(F.lit("x"), "documentid")), t,
        write_parallelism=128)
    assert ms.metadata_count(None, t) == 10000
    ms.delete_documents(spark, t, ["0", "x0"])
    assert ms.read_table(spark, t).count() == 9998
    ms.compact(spark, t, max_files_per_bucket=1)
    assert ms.read_table(spark, t).count() == 9998


def test_null_count_stats_skipping(spark, tmp_path):
    """IS [NOT] NULL predicates prune on per-file null counts: a commit
    whose column is fully populated is skipped by is_null, an all-null
    commit is skipped by not_null, and results equal the unpruned
    filter."""
    import dataingestion_spark.sinks.manifest_store as ms
    from pyspark.sql import functions as F

    t = str(tmp_path / "nulls")
    full = spark.range(0, 100).select(
        F.col("id").cast("string").alias("documentid"),
        F.concat(F.lit("u"), "id").alias("url"))
    none = spark.range(100, 200).select(
        F.col("id").cast("string").alias("documentid"),
        F.lit(None).cast("string").alias("url"))
    mixed = spark.range(200, 300).select(
        F.col("id").cast("string").alias("documentid"),
        F.when(F.col("id") % 2 == 0,
               F.concat(F.lit("u"), "id")).alias("url"))
    ms.write_table(full, t)
    ms.append_table(none, t)
    ms.append_table(mixed, t)
    n_all = sum(len(v) for v in ms.read_manifest(t)["buckets"].values())
    _, ch_null = ms.candidate_files_where(t, [("url", "is_null", None)])
    _, ch_not = ms.candidate_files_where(t, [("url", "not_null", None)])
    n_null = sum(len(v) for v in ch_null.values())
    n_not = sum(len(v) for v in ch_not.values())
    assert n_null < n_all and n_not < n_all          # both prune something
    assert n_null + n_not < 2 * n_all
    got_null = ms.read_table_where(spark, t, [("url", "is_null", None)])
    got_not = ms.read_table_where(spark, t, [("url", "not_null", None)])
    assert got_null.count() == 100 + 50
    assert got_not.count() == 100 + 50
    # conjunctive with a range: only mixed commit's evens above 250
    got = ms.read_table_where(
        spark, t, [("url", "not_null", None), ("documentid", ">", "250")])
    want = ms.read_table(spark, t).filter(
        "url IS NOT NULL AND documentid > '250'")
    assert got.count() == want.count() > 0


def test_rename_drop_column_mapping(spark, tmp_path):
    """Metadata-only RENAME/DROP: values survive a rename across old and
    new files (frozen physical names), stats skipping works on the new
    logical name, time travel shows the old name, a re-added dropped
    name is a fresh column, and structural/constraint guards hold."""
    import dataingestion_spark.sinks.manifest_store as ms
    from pyspark.sql import functions as F

    t = str(tmp_path / "cm")
    mk = lambda a, b, col: spark.range(a, b).select(  # noqa: E731
        F.col("id").cast("string").alias("documentid"),
        F.col("id").alias(col),
        F.concat(F.lit("s"), "id").alias("tag"))
    ms.write_table(mk(0, 100, "score"), t)
    v_pre = ms.current_version(t)
    ms.rename_column(t, "score", "points")
    got = ms.read_table(spark, t)
    assert "points" in got.columns and "score" not in got.columns
    assert got.filter("documentid = '7'").collect()[0].points == 7
    # writes after the rename: logical batch, physical files
    ms.append_table(mk(100, 150, "points"), t)
    df = ms.read_table(spark, t)
    assert df.count() == 150
    assert df.filter("documentid = '120'").collect()[0].points == 120
    # stats skipping + metadata minmax on the LOGICAL name
    _, chosen = ms.candidate_files_where(t, [("points", ">=", 120)])
    n_all = sum(len(v) for v in ms.read_manifest(t)["buckets"].values())
    assert 0 < sum(len(v) for v in chosen.values()) < n_all
    assert ms.read_table_where(spark, t, [("points", ">=", 120)]).count() == 30
    assert ms.metadata_minmax(None, t, ["points"])["points"] == (0, 149)
    # time travel to the pre-rename version shows the old name
    assert "score" in ms.read_table(spark, t, version=v_pre).columns
    # merge + DVs still work through the mapping
    upd = mk(0, 10, "points").withColumn("points", F.col("points") + 1000)
    ms.merge_table(upd, t)
    assert ms.read_table(spark, t).filter("documentid = '3'") \
        .collect()[0].points == 1003
    # DROP then re-add: old bytes stay buried (nulls for old rows)
    ms.drop_column(t, "tag")
    assert "tag" not in ms.read_table(spark, t).columns
    ms.append_table(mk(150, 160, "points").withColumn(
        "tag", F.lit("fresh")), t)
    back = ms.read_table(spark, t)
    assert back.filter("documentid = '5'").collect()[0].tag is None
    assert back.filter("documentid = '155'").collect()[0].tag == "fresh"
    # compaction rewrites through the mapping and preserves everything
    ms.compact(spark, t, max_files_per_bucket=1)
    after = ms.read_table(spark, t)
    assert after.count() == 160
    assert after.filter("documentid = '3'").collect()[0].points == 1003
    assert after.filter("documentid = '155'").collect()[0].tag == "fresh"
    # guards
    import pytest as _pytest
    with _pytest.raises(ValueError, match="structural"):
        ms.rename_column(t, "documentid", "id")
    ms.add_constraint(spark, t, "pos", "points >= 0")
    with _pytest.raises(ValueError, match="constraint"):
        ms.rename_column(t, "points", "score")
    # streaming reads translate frozen physical file names back to the
    # logical schema (Delta export does the same via columnMapping —
    # round-trip pinned in tests/test_delta_interop.py)
    from dataingestion_spark.streaming.table_source import stream_table
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    (stream_table(spark, t).writeStream.format("parquet")
     .option("path", sink).option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start().awaitTermination())
    streamed = spark.read.parquet(sink)
    assert streamed.count() == 160
    assert streamed.filter("documentid = '3'").collect()[0].points == 1003
    assert streamed.filter("documentid = '155'").collect()[0].tag == "fresh"


def test_analyze_backfills_stats_without_rewrite(spark, tmp_path):
    """analyze_table computes missing per-file stats (legacy statless
    files, post-declaration blooms) in a read-only pass: file names are
    unchanged, skipping starts working, a second call no-ops."""
    import dataingestion_spark.sinks.manifest_store as ms
    from pyspark.sql import functions as F

    t = str(tmp_path / "an")
    df = spark.range(0, 300).select(
        F.col("id").cast("string").alias("documentid"),
        F.col("id").alias("v"),
        F.concat(F.lit("u"), "id").alias("url"))
    ms.write_table(df.filter("id < 100"), t)
    ms.append_table(df.filter("id >= 100 AND id < 200"), t)
    # simulate a legacy engine: strip ALL stats from the manifest
    v = ms.current_version(t)
    be = ms.backend_for(t)
    m = ms.read_manifest(t, v)
    m.pop("stats", None)
    be.put_atomic(ms._manifest_path(t, v), json.dumps(m))
    # declare blooms AFTER the fact: old files lack them too
    ms.set_bloom_columns(t, ["url"])
    ms.append_table(df.filter("id >= 200"), t)  # this commit HAS full stats
    files_before = sorted(n for ns in ms.read_manifest(t)["buckets"].values()
                          for n in ns)
    assert ms.metadata_count(None if False else spark, t) == 300  # scan path
    ver = ms.analyze_table(spark, t)
    files_after = sorted(n for ns in ms.read_manifest(t)["buckets"].values()
                         for n in ns)
    assert files_after == files_before            # no rewrite
    assert ms.metadata_count(None, t) == 300      # metadata-only now
    assert ms.metadata_minmax(None, t, ["v"])["v"] == (0, 299)
    # bloom skipping works for pre-declaration files after the backfill
    _, chosen = ms.candidate_files_where(t, [("url", "=", "u50")])
    n_all = len(files_before)
    assert 0 < sum(len(v) for v in chosen.values()) < n_all
    assert ms.read_table_where(spark, t, [("url", "=", "u50")]).count() == 1
    # second call: nothing missing, no new version
    assert ms.analyze_table(spark, t) == ver


def test_clone_preserves_empty_colmap(spark, tmp_path):
    """A source in column-mapping mode with an EMPTY map (drop_column on
    a never-renamed table) must clone into mapping mode too (regression:
    the falsy meta filter dropped colmap={}, so re-adding the dropped
    column name in a shallow clone resurrected the buried bytes from the
    shared files)."""
    src, dst = str(tmp_path / "cm-src"), str(tmp_path / "cm-dst")
    mk = lambda a, b: spark.range(a, b).select(  # noqa: E731
        F.col("id").cast("string").alias("documentid"),
        F.col("id").alias("score"),
        F.concat(F.lit("s"), "id").alias("tag"))
    ms.write_table(mk(0, 30), src)
    ms.drop_column(src, "tag")          # mapping mode ON, colmap == {}
    assert ms._manifest_meta(ms.read_manifest(src))["colmap"] == {}
    ms.clone_table(src, dst)            # shallow: references src's files
    assert ms._manifest_meta(ms.read_manifest(dst))["colmap"] == {}
    # re-add the retired name in the CLONE: fresh column, old rows null —
    # never the buried bytes
    ms.append_table(
        spark.range(30, 35).select(
            F.col("id").cast("string").alias("documentid"),
            F.col("id").alias("score"),
            F.lit("fresh").alias("tag")), dst)
    got = ms.read_table(spark, dst)
    assert got.filter("documentid = '5'").collect()[0].tag is None
    assert got.filter("documentid = '31'").collect()[0].tag == "fresh"


def test_delete_update_where_null_ops(spark, tmp_path):
    """delete_where/update_where accept the full _SKIP_OPS set including
    is_null/not_null (regression: they validated then died with a bare
    KeyError building the filter)."""
    t = str(tmp_path / "nulls")
    rows = [(str(i), i if i % 3 else None) for i in range(30)]
    ms.write_table(
        spark.createDataFrame(rows, "documentid string, v long"), t)
    n_null = sum(1 for _, v in rows if v is None)
    ms.update_where(spark, t, [("v", "is_null", None)], {"v": "-1"})
    got = ms.read_table(spark, t)
    assert got.filter("v = -1").count() == n_null
    assert got.filter("v IS NULL").count() == 0
    ms.delete_where(spark, t, [("v", "=", -1)])
    assert ms.read_table(spark, t).count() == 30 - n_null
    with pytest.raises(ValueError, match="unsupported"):
        ms.delete_where(spark, t, [("v", "like", "x")])


def test_append_rebase_raises_on_concurrent_colmap_change(spark, tmp_path,
                                                          monkeypatch):
    """A rename/drop that commits between an append's file write and its
    commit claim must fail the rebase loudly (Delta's metadata-changed
    conflict rule): the already-written files carry pre-change physical
    names and cannot be spliced under the new mapping (regression: the
    rebase re-enforced constraints but not column mapping, silently
    nulling the renamed column in the spliced files)."""
    t = str(tmp_path / "rb")
    mk = lambda a, b, col="score": spark.range(a, b).select(  # noqa: E731
        F.col("id").cast("string").alias("documentid"),
        F.col("id").alias(col))
    ms.write_table(mk(0, 20), t)
    orig = ms._commit
    state = {"raced": False}

    def racing(table, version, buckets, expected_current=None,
               extra=None, op=None):
        if op == "APPEND" and not state["raced"]:
            state["raced"] = True
            # concurrent writer wins the version: rename commits first,
            # our claim then loses with ConcurrentWriteError and rebases
            ms.rename_column(t, "score", "points")
        return orig(table, version, buckets,
                    expected_current=expected_current, extra=extra, op=op)

    monkeypatch.setattr(ms, "_commit", racing)
    with pytest.raises(ms.ConcurrentWriteError, match="column mapping"):
        ms.append_table(mk(20, 30), t)
    monkeypatch.undo()
    # the table head is the rename's; a fresh append under the new map works
    ms.append_table(mk(30, 40, col="points"), t)
    got = ms.read_table(spark, t)
    assert got.count() == 30
    assert got.filter("documentid = '35'").collect()[0].points == 35


def test_append_rebase_splices_own_new_columns(spark, tmp_path, monkeypatch):
    """A schema-EVOLVING append that loses the commit race to a PLAIN
    data append must rebase, not die: its written colmap is the head's
    plus fresh physical names for the columns it itself introduced, so
    the new entries splice into the racing head's map and the written
    files read back whole (regression: any colmap difference raised
    'column mapping changed concurrently', even when nothing was
    renamed or dropped)."""
    t = str(tmp_path / "rbadd")
    mk = lambda a, b: spark.range(a, b).select(  # noqa: E731
        F.col("id").cast("string").alias("documentid"),
        F.col("id").alias("score"))
    ms.write_table(mk(0, 20), t)
    ms.rename_column(t, "score", "points")  # mapping mode ON
    orig = ms._commit
    state = {"raced": False}

    def racing(table, version, buckets, expected_current=None,
               extra=None, op=None):
        if op == "APPEND" and not state["raced"]:
            state["raced"] = True
            ms.append_table(
                spark.range(100, 110).select(
                    F.col("id").cast("string").alias("documentid"),
                    F.col("id").alias("points")), t)
        return orig(table, version, buckets,
                    expected_current=expected_current, extra=extra, op=op)

    monkeypatch.setattr(ms, "_commit", racing)
    evolving = spark.range(20, 30).select(
        F.col("id").cast("string").alias("documentid"),
        F.col("id").alias("points"),
        F.lit("fr").alias("lang"))
    ms.append_table(evolving, t)  # must rebase and succeed
    monkeypatch.undo()
    got = ms.read_table(spark, t)
    assert got.count() == 40
    # the spliced column reads back from the pre-rebase files...
    assert got.filter("documentid = '25'").collect()[0].lang == "fr"
    # ...and null-fills everywhere else; pre-existing mapping intact
    assert got.filter("lang IS NULL").count() == 30
    assert got.filter("documentid = '105'").collect()[0].points == 105


def test_append_rebase_still_raises_on_concurrent_drop(spark, tmp_path,
                                                       monkeypatch):
    """The superset splice must NOT resurrect a concurrently dropped
    column: an evolving append racing a DROP of a pre-existing column
    still fails with the metadata-changed conflict."""
    t = str(tmp_path / "rbdrop")
    mk = lambda a, b: spark.range(a, b).select(  # noqa: E731
        F.col("id").cast("string").alias("documentid"),
        F.col("id").alias("score"),
        F.col("id").alias("extra"))
    ms.write_table(mk(0, 20), t)
    ms.rename_column(t, "score", "points")
    orig = ms._commit
    state = {"raced": False}

    def racing(table, version, buckets, expected_current=None,
               extra=None, op=None):
        if op == "APPEND" and not state["raced"]:
            state["raced"] = True
            ms.drop_column(t, "extra")
        return orig(table, version, buckets,
                    expected_current=expected_current, extra=extra, op=op)

    monkeypatch.setattr(ms, "_commit", racing)
    evolving = spark.range(20, 30).select(
        F.col("id").cast("string").alias("documentid"),
        F.col("id").alias("points"),
        F.col("id").alias("extra"),
        F.lit("fr").alias("lang"))
    with pytest.raises(ms.ConcurrentWriteError, match="column mapping"):
        ms.append_table(evolving, t)


# --- a rewrite-mode replace evaluates its batch once ---


def _counted_batch(spark, docs: dict):
    """``records_df`` whose documentid passes through a Python UDF that
    counts every row it evaluates (every column of the batch needs the
    documentid, so no consumer can prune the UDF away)."""
    from pyspark.sql.types import StringType

    seen = spark.sparkContext.accumulator(0)

    def tag(doc):
        seen.add(1)
        return doc

    tagged = F.udf(tag, StringType())
    df = records_df(spark, docs).withColumn("documentid", tagged("documentid"))
    return df, seen


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_rewrite_replace_evaluates_batch_once(spark, tmp_path):
    table = str(tmp_path / "once")
    docs = {f"doc{i}": [f"doc{i}-c0", f"doc{i}-c1"] for i in range(20)}
    ms.write_table(records_df(spark, docs), table)
    ms.add_constraint(spark, table, "content_nonempty", "length(content) > 0")
    before = _persistent_rdds(spark)

    new = {"doc3": ["n0", "n1", "n2"], "doc11": ["n3"], "fresh": ["n4"]}
    batch, seen = _counted_batch(spark, new)
    v = ms.incremental_replace(batch, table, mode="rewrite")

    assert seen.value == 5  # the constraint, the ids and the write share one pass
    assert _persistent_rdds(spark) == before
    got = ms.read_table(spark, table, version=v)
    by_doc = {r.documentid: r.n for r in
              got.groupBy("documentid").agg(F.count("*").alias("n")).collect()}
    assert by_doc["doc3"] == 3 and by_doc["doc11"] == 1 and by_doc["fresh"] == 1
    assert by_doc["doc4"] == 2 and len(by_doc) == 21


def test_rewrite_replace_releases_batch_on_failure(spark, tmp_path):
    table = str(tmp_path / "fail")
    ms.write_table(records_df(spark, {"a": ["a0"], "b": ["b0"]}), table)
    ms.add_constraint(spark, table, "content_nonempty", "length(content) > 0")
    before = _persistent_rdds(spark)

    bad, _ = _counted_batch(spark, {"c": [""]})
    with pytest.raises(ms.ConstraintViolation):
        ms.incremental_replace(bad, table, mode="rewrite")
    assert _persistent_rdds(spark) == before

    real_write = ms._write_bucket_files
    raced = []

    def write_then_race(*args, **kwargs):
        # a racing writer commits between our write and our commit
        out = real_write(*args, **kwargs)
        if not raced:
            raced.append(True)
            ms.append_table(records_df(spark, {"racer": ["r0"]}), table)
        return out

    good, _ = _counted_batch(spark, {"a": ["a1"]})
    import unittest.mock

    with unittest.mock.patch.object(ms, "_write_bucket_files", write_then_race):
        with pytest.raises(ms.ConcurrentWriteError):
            ms.incremental_replace(good, table, mode="rewrite")
    assert _persistent_rdds(spark) == before
