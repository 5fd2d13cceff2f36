"""Spark integration tests over the driver testdata (sf0.001) and temp
markdown corpora: reader→chunker→writer round trips, removal cascade,
dedup/similarity sanity, entry-contract smoke."""

import os

import pytest
from pyspark.sql import functions as F

from dataingestion_spark.operators.chunkers import ChunkerOptions, header_chunker, token_chunk_text
from dataingestion_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from dataingestion_spark.operators.removal import remove_elements, remove_footers
from dataingestion_spark.operators.similarity import topk_cosine, topk_cosine_ann
from dataingestion_spark.sinks.vector_store import (
    read_vector_table,
    search,
    write_vector_table,
)
from dataingestion_spark.sources.markdown import parse_markdown_df
from dataingestion_spark.tokenizer import WordTokenizer

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def md_df(spark, docs: dict):
    return parse_markdown_df(
        spark.createDataFrame(sorted(docs.items()), "doc_id string, md string"),
        id_col="doc_id",
        content_col="md",
    )


def test_parse_roundtrip_distributed(spark):
    el = md_df(spark, {"a": "# H\n\npara one\n\n---\n\nfoot", "b": "plain text"})
    rows = {(r.doc_id, r.seq): r for r in el.collect()}
    assert rows[("a", 1)].elem_type == "header"
    assert rows[("a", 3)].elem_type == "footer"
    assert rows[("b", 1)].markdown == "plain text"


def test_remove_footers_and_cascade(spark):
    el = md_df(spark, {"a": "# H\n\n> only a quote\n\n---\n\nfooter line"})
    no_foot = remove_footers(el)
    assert no_foot.filter(F.col("elem_type") == "footer").count() == 0
    # Removing the quote's paragraph leaves the quote section empty → cascade
    # must drop the section but keep the root (which still has the header).
    gone = remove_elements(el, F.col("markdown") == "only a quote")
    kinds = [r.elem_type for r in gone.orderBy("seq").collect()]
    assert "footer" in kinds  # untouched
    sections = gone.filter(F.col("elem_type") == "section").count()
    assert sections == 1  # root only — the emptied quote section cascaded away


def test_removal_null_predicate_keeps_rows(spark):
    from dataingestion_spark.sources.api_readers import adi_result_to_elements
    from dataingestion_spark.model import ELEMENTS_SCHEMA

    # ADI figures have markdown=None; a markdown-comparing predicate must
    # not drop them via three-valued logic
    rows = adi_result_to_elements(
        {"content": "x", "paragraphs": [{"content": "keep me"}],
         "figures": [{"caption": {"content": "fig"}}],
         "sections": [{"elements": ["/paragraphs/0", "/figures/0"]}]},
        "adi",
    )
    el = spark.createDataFrame(rows, ELEMENTS_SCHEMA)
    out = remove_elements(el, F.col("markdown") == "DRAFT")
    assert out.filter(F.col("elem_type") == "image").count() == 1


def test_image_alt_caption_model_sees_only_images(spark):
    from dataingestion_spark.operators.enrichers import image_alt_text_enricher

    el = md_df(spark, {"a": "# H\n\npara one\n\npara two\n\npara three"})
    png = b"\x89PNG\r\n\x1a\n" + b"x" * 16
    import base64

    img_doc = md_df(spark, {
        "b": f"![](data:image/png;base64,{base64.b64encode(png).decode()})"
    })
    both = el.unionByName(img_doc)

    def caption(batch):
        # the model must never receive null bytes from non-image rows
        assert all(b is not None for b in batch)
        return [f"cap-{len(bytes(b))}" for b in batch]

    out = image_alt_text_enricher(both, caption_fn=caption)
    alts = [r.image_alt_text for r in out.filter(F.col("elem_type") == "image").collect()]
    assert alts == [f"cap-{len(png)}"]
    assert out.count() == both.count()  # join-back preserves every row


def test_enricher_custom_model_path(spark):
    from dataingestion_spark.operators.enrichers import keyword_enricher, summary_enricher

    df = spark.createDataFrame([("c1", "some content here")], "chunk_id string, content string")
    out = summary_enricher(df, chat_fn=lambda texts: [t[:4].upper() for t in texts])
    assert out.first()["summary"] == "SOME"
    out2 = keyword_enricher(df, chat_fn=lambda texts: [["kw1", "kw2"] for _ in texts])
    assert out2.first()["keywords"] == ["kw1", "kw2"]


def test_writer_local_path_guard(spark):
    import pytest

    df = spark.createDataFrame([("c", "d", 0, "x", None, None)],
                               "chunk_id string, doc_id string, chunk_seq int, "
                               "content string, context string, metadata map<string,string>")
    with pytest.raises(NotImplementedError):
        write_vector_table(df, "s3://bucket/table", incremental=True)


def test_writer_incremental_replace(spark, tmp_path):
    path = str(tmp_path / "vt")
    el = md_df(spark, {"a": "# A\n\nalpha body", "b": "# B\n\nbeta body"})
    chunks = header_chunker(el, ChunkerOptions(WordTokenizer(), 100))
    write_vector_table(chunks, path, deterministic_keys=True)
    t1 = read_vector_table(spark, path)
    assert t1.count() == 2
    assert set(t1.columns) >= {"key", "embedding", "content", "context", "documentid"}

    el2 = md_df(spark, {"a": "# A\n\nnew alpha one\n\nnew alpha two"})
    chunks2 = header_chunker(el2, ChunkerOptions(WordTokenizer(), 100))
    write_vector_table(chunks2, path, incremental=True, deterministic_keys=True)
    t2 = read_vector_table(spark, path)
    by_doc = {r.documentid: r.content for r in t2.collect()}
    assert set(by_doc) == {"a", "b"}
    assert "new alpha" in by_doc["a"]
    assert "beta body" in by_doc["b"]


def test_read_markdown_urls_file_scheme(spark, tmp_path):
    from dataingestion_spark.sources.markdown import read_markdown_urls

    p = tmp_path / "u.md"
    p.write_text("# From URL\n\nfetched body")
    el = read_markdown_urls(spark, [p.as_uri()])
    rows = el.orderBy("seq").collect()
    assert rows[1].elem_type == "header" and rows[1].markdown == "# From URL"
    assert rows[0].doc_id.startswith("file://")


def test_get_document_bucket_pruning(spark, tmp_path):
    from dataingestion_spark.sinks.vector_store import get_document

    path = str(tmp_path / "vt_bucket")
    el = md_df(spark, {f"doc{i}": f"# D{i}\n\nbody {i}" for i in range(8)})
    write_vector_table(
        header_chunker(el, ChunkerOptions(WordTokenizer(), 100)), path,
        deterministic_keys=True,
    )
    table = read_vector_table(spark, path)
    got = get_document(table, "doc3")
    rows = got.collect()
    assert len(rows) == 1 and rows[0].documentid == "doc3"
    # the python-side crc32 bucket matches what the writer computed
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "doc_bucket" in plan


def test_search_self_match(spark, tmp_path):
    path = str(tmp_path / "vt2")
    el = md_df(spark, {"x": "# X\n\nsome unique content here", "y": "# Y\n\nother words entirely"})
    write_vector_table(
        header_chunker(el, ChunkerOptions(WordTokenizer(), 100)), path,
        deterministic_keys=True,
    )
    table = read_vector_table(spark, path)
    qv = table.filter(F.col("documentid") == "x").first()["embedding"]
    top = search(table, qv, k=1).collect()
    assert top[0]["documentid"] == "x"
    assert abs(top[0]["score"] - 1.0) < 1e-12
    # DistanceFunction config parity: euclidean self-match scores 0 (=-0.0)
    eu = search(table, qv, k=1, distance="euclidean").collect()
    assert eu[0]["documentid"] == "x" and eu[0]["score"] == 0.0
    dot = search(table, qv, k=1, distance="dot").collect()
    assert dot[0]["documentid"] == "x"


@pytest.mark.parametrize("dims", [4, 8, 384])
def test_fake_embedding_matches_md5_recomputation(spark, dims):
    """Dimension d is byte 0 of md5(content ':' d), over 256, as float."""
    import hashlib

    import numpy as np

    from dataingestion_spark.sinks.vector_store import fake_embedding

    texts = [f"text {i}" for i in range(50)] + ["", "ünïcödé ✓"]
    df = spark.createDataFrame([(t,) for t in texts], "content string")
    out = df.select("content", fake_embedding(F.col("content"), dims=dims).alias("e"))
    assert out.schema["e"].dataType.simpleString() == "array<float>"
    for r in out.collect():
        want = [float(np.float32(hashlib.md5(f"{r.content}:{d}".encode()).digest()[0] / 256))
                for d in range(dims)]
        assert r.e == want, r.content


def test_token_chunk_text_no_trailing_loss(spark):
    # n ≡ 1 (mod stride) with overlap 0 must still cover the last token
    text = " ".join(f"w{i}" for i in range(65))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = token_chunk_text(df, max_tokens=64, overlap=0).orderBy("chunk_seq").collect()
    assert len(chunks) == 2
    assert chunks[1].content == "w64"
    assert " ".join(c.content for c in chunks) == text


def test_pipeline_fused_guards(spark):
    import pytest

    from dataingestion_spark.pipeline import IngestionPipeline
    from dataingestion_spark.sources.tabular import read_delimited

    with pytest.raises(ValueError):
        IngestionPipeline(chunker=lambda df: df, chunk_doc_fn=lambda rows: [])
    with pytest.raises(ValueError):
        IngestionPipeline(reader=read_delimited, chunk_doc_fn=lambda rows: [])
    with pytest.raises(ValueError):
        IngestionPipeline(doc_processors=[lambda df: df], chunk_doc_fn=lambda rows: [])


def test_token_chunk_text_relational(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    chunks = token_chunk_text(docs, max_tokens=64, overlap=16)
    joined = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("chunk_seq").alias("mx")
    )
    bad = joined.filter(F.col("n") != F.col("mx") + 1).count()
    assert bad == 0  # dense chunk_seq per doc
    # stride/window arithmetic: every chunk has ≤ 64 tokens
    too_big = chunks.filter(F.size(F.split(F.col("content"), r"\s+")) > 64).count()
    assert too_big == 0


def test_exact_dedup_counts(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = exact_dedup(docs)
    assert out.count() == docs.count()
    # no exact dupes in the synthetic corpus → every doc is its own canonical
    assert out.filter(F.col("canonical_id") != F.col("doc_id")).count() == 0


def test_minhash_pairs_symmetric_ordering(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4)
    assert pairs.filter(F.col("id_a") >= F.col("id_b")).count() == 0


def test_remove_duplicate_spans_semantics(spark):
    from dataingestion_spark.operators.dedup import remove_duplicate_spans

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "intro text the quick brown fox jumps over something else"),
        (3, "totally unrelated words here nothing shared at all"),
        (4, "rep rep rep rep rep rep unique tail words"),  # within-doc repeat
        (5, "short dup"),
        (6, "short dup"),  # whole-text gram duplicated → doc empties
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(df, span_words=3, min_count=2).collect()
    }
    assert out[1].clean_text == "the lazy dog today"
    assert out[2].clean_text == "intro text something else"
    assert out[3].clean_text == rows[2][1] and out[3].n_removed == 0
    assert out[4].clean_text == "unique tail words"
    assert out[5].clean_text == "" and out[5].dup_ratio == 1.0
    # conservation: removed + kept == total words, for every doc
    for r in out.values():
        kept = len(r.clean_text.split()) if r.clean_text else 0
        assert kept + r.n_removed == r.n_words


def test_ann_recall_against_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = topk_cosine(emb, queries, k=5)
    ann = topk_cosine_ann(emb, queries, k=5, dim=64, planes=4)
    # the query vector itself lands in its own bucket → rank-1 self match
    self_hits = ann.filter(
        (F.col("rank") == 1) & (F.col("vec_id") == F.col("query_id"))
    ).count()
    assert self_hits == 3
    assert exact.filter(F.col("rank") == 1).count() == 3


def test_cosine_zero_vector_and_asof_nulls(spark):
    from dataingestion_spark.operators.similarity import cosine_sim
    from dataingestion_spark.operators.temporal import asof_join

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 2.0])], "id long, v array<double>"
    )
    q = F.array(F.lit(1.0), F.lit(0.0))
    scores = {r.id: r.s for r in df.select("id", cosine_sim(F.col("v"), q).alias("s")).collect()}
    assert scores[1] == 0.0  # zero-norm vector scores 0, no ANSI divide error

    l = spark.createDataFrame([(1, 10, "a"), (1, None, "b")],
                              "user_id long, ts long, event_id string")
    r = spark.createDataFrame([(1, 5, 7.0), (1, None, 9.0)],
                              "user_id long, ts long, value double")
    out = {row.event_id: row for row in asof_join(l, r, on="user_id",
                                                  right_cols=["value"]).collect()}
    assert out["a"].value_right == 7.0
    assert out["b"].value_right is None  # null-ts left row passes through


def test_ivf_recall_against_exact(spark):
    from dataingestion_spark.operators.similarity import topk_cosine_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = topk_cosine(emb, queries, k=5)
    ivf = topk_cosine_ivf(emb, queries, k=5, n_centroids=8, n_probe=4)
    # self-match always survives (the query is in its own probed list)
    self_hits = ivf.filter(
        (F.col("rank") == 1) & (F.col("vec_id") == F.col("query_id"))
    ).count()
    assert self_hits == 5
    # probing half the lists must recover a majority of the exact top-5
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in ivf.collect()}
    assert len(e & a) / len(e) >= 0.5


def test_ivf_trained_centroids(spark):
    from dataingestion_spark.operators.similarity import (
        topk_cosine_ivf,
        train_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = train_centroids(emb, n_centroids=8, iters=3)
    assert len(cents) == 8 and len(cents[0][1]) == 64
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ivf = topk_cosine_ivf(emb, queries, k=5, n_probe=4, centroids=cents)
    exact = topk_cosine(emb, queries, k=5)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in ivf.collect()}
    assert len(e & a) / len(e) >= 0.5
    self_hits = ivf.filter(
        (F.col("rank") == 1) & (F.col("vec_id") == F.col("query_id"))
    ).count()
    assert self_hits == 3


def test_ivf_rejects_non_numeric_centroid_ids(spark):
    from dataingestion_spark.operators.similarity import topk_cosine_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    cents = [("north", [1.0] * 64), ("south", [-1.0] * 64)]
    with pytest.raises(ValueError):
        topk_cosine_ivf(emb, queries, k=5, n_probe=1, centroids=cents)


def test_entry_contract(spark):
    import __spark_entry__ as em

    df = em.entry(spark)
    rows = df.collect()
    assert len(rows) == 5
    assert {"key", "documentid", "score", "summary", "sentiment"} <= set(df.columns)
    qs = em.queries()
    oracles = em.oracle_sql()
    missing = [k for k in oracles if k not in qs]
    assert not missing
    # EVERY query has an oracle (r9): the last three rows-only ops were
    # restated as provable invariants — the xxhash64 twins through
    # seed-free outputs (verified clone pairs / order-invariance
    # hamming), the GroupState operator through its final-emission
    # drained-equals-batch state
    assert set(qs) == set(oracles)


def test_ann_multiprobe_improves_recall(spark):
    from dataingestion_spark.operators.similarity import topk_cosine_ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = topk_cosine(emb, queries, k=5)
    base = topk_cosine_ann(emb, queries, k=5, dim=64, planes=4)
    multi = topk_cosine_ann(emb, queries, k=5, dim=64, planes=4, multiprobe=3)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    rb = len(e & {(r.query_id, r.vec_id) for r in base.collect()}) / len(e)
    rm = len(e & {(r.query_id, r.vec_id) for r in multi.collect()}) / len(e)
    assert rm >= rb  # probing marginal planes never loses candidates
    # measured on this corpus: 0.35 -> 0.525 at 4 planes; assert the gain
    # with slack for any future testdata regeneration
    assert rm >= rb + 0.05 and rm >= 0.45
    # no duplicate candidates despite multiple probes per query
    dupes = (
        multi.groupBy("query_id", "vec_id").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0


def test_train_centroids_farthest_init(spark):
    from dataingestion_spark.operators.similarity import (
        topk_cosine_ivf,
        train_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = train_centroids(emb, n_centroids=8, iters=3, init="farthest")
    assert len(cents) == 8 and len(cents[0][1]) == 64
    # farthest-first seeds are distinct vectors (no near-duplicate seeds)
    import numpy as np

    m = np.array([v for _, v in cents])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    off_diag = (m @ m.T)[~np.eye(len(m), dtype=bool)]
    assert off_diag.max() < 0.999
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ivf = topk_cosine_ivf(emb, queries, k=5, n_probe=4, centroids=cents)
    exact = topk_cosine(emb, queries, k=5)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in ivf.collect()}
    assert len(e & a) / len(e) >= 0.5


def test_interval_join_matches_naive(spark):
    """interval_join (bucketed equi-join formulation) must equal the naive
    inequality join for every bucket width, including boundary semantics
    (start inclusive, end exclusive) and inverted intervals."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dataingestion_spark.operators.temporal import interval_join

    t0 = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(u, i, t0 + dt.timedelta(minutes=m))
         for i, (u, m) in enumerate([(1, 0), (1, 29), (1, 30), (1, 95), (2, 10), (2, 61)])],
        "user_id long, point_id long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            (1, 100, t0, t0 + dt.timedelta(minutes=30)),          # [0, 30)
            (1, 101, t0 + dt.timedelta(minutes=90), t0 + dt.timedelta(minutes=120)),
            (2, 200, t0, t0 + dt.timedelta(minutes=62)),
            (2, 201, t0 + dt.timedelta(minutes=50), t0 + dt.timedelta(minutes=50)),  # empty
            (2, 202, t0 + dt.timedelta(minutes=50), t0 + dt.timedelta(minutes=40)),  # inverted
        ],
        "user_id long, iv_id long, start timestamp, end timestamp",
    )
    naive = (
        pts.alias("p").join(
            ivs.alias("i"),
            (F.col("p.user_id") == F.col("i.user_id"))
            & (F.col("p.ts") >= F.col("i.start"))
            & (F.col("p.ts") < F.col("i.end")),
        )
        .select("point_id", "iv_id")
    )
    expected = sorted((r.point_id, r.iv_id) for r in naive.collect())
    assert expected  # non-degenerate fixture
    assert (0, 100) in expected and (2, 100) not in expected  # boundaries
    for bucket in ("1 minute", "7 minutes", "30 minutes", "1 hour", "1 day"):
        got = interval_join(pts, ivs, on=["user_id"], bucket=bucket)
        assert sorted((r.point_id, r.iv_id) for r in got.collect()) == expected, bucket


def test_ivf_capped_lists_bound_skew(spark):
    from dataingestion_spark.operators.similarity import topk_cosine_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    n = emb.count()
    cap = max(1, n // 8)  # well under the natural skew of sampled centroids
    capped = topk_cosine_ivf(
        emb, queries, k=5, n_centroids=8, n_probe=4, max_list_size=cap
    )
    # capping must not lose corpus rows: self-match still always survives
    self_hits = capped.filter(
        (F.col("rank") == 1) & (F.col("vec_id") == F.col("query_id"))
    ).count()
    assert self_hits == 5
    # the invariant itself, on the assignment directly: every vector is
    # within ~5.5 degrees of centroid 1, so uncapped all 40 land on one
    # list; capped, the hot list retains exactly the cap and the overflow
    # spreads to each vector's runner-up (c2 above the axis, c3 below) —
    # no vector lost or duplicated.
    from dataingestion_spark.operators.similarity import ivf_assign

    skewed = spark.createDataFrame(
        [(i, [1.0, 0.004 * (i + 1)]) for i in range(20)]
        + [(20 + i, [1.0, -0.004 * (i + 1)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.2]), (3, [1.0, -0.2])],
        ["centroid_id", "cvec"],
    )
    uncapped = ivf_assign(skewed, cents, "vec_id", "embedding")
    usizes = {r.centroid_id: r.c for r in
              uncapped.groupBy("centroid_id").agg(F.count("*").alias("c")).collect()}
    assert usizes == {1: 40}  # the skew the cap is bounding is real
    a = ivf_assign(skewed, cents, "vec_id", "embedding", max_list_size=10)
    sizes = {r.centroid_id: r.c for r in
             a.groupBy("centroid_id").agg(F.count("*").alias("c")).collect()}
    assert a.count() == 40 and a.select("vec_id").distinct().count() == 40
    assert sizes[1] == 10  # hot list retains exactly the cap
    assert sizes[2] == 15 and sizes[3] == 15  # overflow spread by geometry


def test_ivf_cap_single_centroid_keeps_all_rows(spark):
    from dataingestion_spark.operators.similarity import ivf_assign

    vecs = spark.createDataFrame(
        [(i, [1.0, 0.001 * i]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    one = spark.createDataFrame([(1, [1.0, 0.0])], ["centroid_id", "cvec"])
    # no runner-up exists: overflow must stay in its rank-1 list, never drop
    a = ivf_assign(vecs, one, "vec_id", "embedding", max_list_size=2)
    assert a.count() == 6
    assert a.select("vec_id").distinct().count() == 6


def test_pack_sequences_greedy_and_oversize(spark):
    from dataingestion_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, 0, 30), (2, 0, 50), (3, 0, 40), (4, 0, 90), (5, 0, 10),
         (6, 1, 100), (7, 1, 10)],
        "doc_id long, shard_id long, tok long",
    )
    out = {r["doc_id"]: (r["seq_in_shard"], r["offset_in_seq"])
           for r in pack_sequences(df, "tok", 64, "shard_id").collect()}
    # shard 0: 30 fits seq0; 50 overflows -> seq1; 40 overflows -> seq2;
    # 90 > L gets its own seq3; 10 opens seq4 (90 already past budget)
    assert out[1] == (0, 0) and out[2] == (1, 0) and out[3] == (2, 0)
    assert out[4] == (3, 0) and out[5] == (4, 0)
    # shard 1 independent: oversize first, then fresh seq
    assert out[6] == (0, 0) and out[7] == (1, 0)
    # tight packing case: two docs sharing a sequence record the offset
    df2 = spark.createDataFrame([(1, 0, 30), (2, 0, 30), (3, 0, 30)],
                                "doc_id long, shard_id long, tok long")
    out2 = {r["doc_id"]: (r["seq_in_shard"], r["offset_in_seq"])
            for r in pack_sequences(df2, "tok", 64, "shard_id").collect()}
    assert out2 == {1: (0, 0), 2: (0, 30), 3: (1, 0)}


def test_concat_chunk_spans_closed_form(spark):
    from dataingestion_spark.operators.packing import concat_chunk_spans

    df = spark.createDataFrame(
        [(1, 100), (2, 30), (3, 0), (4, 200)], "doc_id long, tok long"
    )
    out = {r["doc_id"]: (r["seq_first"], r["seq_last"], r["n_seqs"],
                         r["offset_in_first"])
           for r in concat_chunk_spans(df, "tok", 64).collect()}
    # priors: 0, 100, 130, 130
    assert out[1] == (0, 1, 2, 0)        # tokens 0..99 span seqs 0-1
    assert out[2] == (1, 2, 2, 36)       # 100..129 crosses into seq 2
    assert out[3] == (2, 2, 1, 2)        # zero-width doc sits at its boundary
    assert out[4] == (2, 5, 4, 2)        # 130..329 spans seqs 2-5


def test_quantize_embeddings_bounds_and_self_similarity(spark):
    from dataingestion_spark.operators.similarity import (
        quantize_embeddings, quantized_cosine,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [1e-9, 2e-9, -3e-9])],
        "vec_id long, embedding array<double>",
    )
    q = quantize_embeddings(df)
    rows = {r["vec_id"]: r for r in q.collect()}
    assert rows[1]["qvec"] == [64, -127, 32]  # floor(x*127/amax + .5)
    assert rows[1]["qscale"] == 1.0 / 127.0
    assert rows[2]["qvec"] == [0, 0, 0] and rows[2]["qscale"] == 0.0
    assert all(-127 <= v <= 127 for r in rows.values() for v in r["qvec"])
    # quantized cosine: self-similarity 1.0 (scales cancel); zero vec -> 0
    sim = q.alias("a").crossJoin(q.alias("b")).filter(
        F.col("a.vec_id") == F.col("b.vec_id")
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        quantized_cosine(F.col("a.qvec"), F.col("b.qvec")).alias("s"),
    )
    sims = {r["vec_id"]: r["s"] for r in sim.collect()}
    assert abs(sims[1] - 1.0) < 1e-12 and sims[2] == 0.0


def test_upsample_by_epochs_deterministic_counts(spark):
    from dataingestion_spark.operators.sampling import upsample_by_epochs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "source")
    eps = {"src0": 2.0, "src1": 0.0}
    out = upsample_by_epochs(docs, "source", eps, default_epochs=1.0)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    base = {r["source"]: r["n"] for r in
            docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["src0"] == 2 * base["src0"]  # integer weight: exact
    assert "src1" not in counts                # zero weight drops the source
    assert counts["src2"] == base["src2"]      # default 1.0 keeps one copy
    # copy column enumerates 1..n per doc; rerun is identical
    c = out.filter(F.col("source") == "src0").groupBy("doc_id").agg(
        F.sort_array(F.collect_list("copy")).alias("cs")
    ).collect()
    assert all(r["cs"] == [1, 2] for r in c)
    again = upsample_by_epochs(docs, "source", eps, default_epochs=1.0)
    assert again.exceptAll(out).count() == 0 and out.exceptAll(again).count() == 0


def test_pq_train_encode_adc_match_numpy(spark):
    import numpy as np
    from dataingestion_spark.operators.pq import pq_train, pq_encode, topk_pq_adc

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = pq_train(emb, m=8, k=16, iters=3)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8

    enc = pq_encode(emb, books)
    rows = enc.select("vec_id", "embedding", "pq_code").orderBy("vec_id").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    codes = np.array([r["pq_code"] for r in rows])
    B = [np.asarray(b) for b in books]
    sub = mat.shape[1] // 8
    ref = np.stack([
        ((mat[:, j*sub:(j+1)*sub][:, None, :] - B[j][None, :, :]) ** 2)
        .sum(2).argmin(1)
        for j in range(8)
    ], axis=1)
    assert (codes == ref).all()

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    out = topk_pq_adc(enc, books, q, k=5).collect()
    # a vector reconstructs closest to its own codes: self is rank 1
    assert sorted(r["vec_id"] for r in out if r["rank"] == 1) == [0, 1, 2]
    # ADC score for query 0 matches the numpy LUT sum (to fold-order ulp:
    # numpy pairwise-sums where the Spark fold is strictly sequential)
    luts = [((mat[0][j*sub:(j+1)*sub][None, :] - B[j]) ** 2).sum(1)
            for j in range(8)]
    scores = -np.stack([luts[j][ref[:, j]] for j in range(8)]).sum(0)
    got = {r["vec_id"]: r["score"] for r in out if r["query_id"] == 0}
    for vid, s in got.items():
        assert abs(s - float(scores[vid])) <= 1e-12 * max(1.0, abs(s))


def test_pq_score_zero_is_positive_on_both_engines(spark):
    """Signed-zero regression (r4 driver hash-FAIL): a query that is its
    own codeword has ADC distance exactly 0, and Spark's round(-0.0, 6)
    emits +0.0 while DuckDB's keeps -0.0.  Both the entry query and its
    oracle normalize with `+ 0.0`, so every zero score must come back
    with copysign +1 from BOTH engines."""
    import math

    import duckdb

    import __spark_entry__ as entrymod

    sf = SF
    for qname in ("search_topk_pq", "search_topk_ivf_pq"):
        srows = entrymod.queries()[qname](spark, sf).collect()
        szero = [r["score_r"] for r in srows if r["score_r"] == 0.0]
        assert szero, f"{qname}: expected a self-match zero score at {sf}"
        assert all(math.copysign(1.0, s) == 1.0 for s in szero), qname

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf}/embeddings.parquet')"
        )
        orows = con.execute(entrymod.oracle_sql()[qname]).fetchall()
        ozero = [r[3] for r in orows if r[3] == 0.0]
        assert ozero and all(math.copysign(1.0, s) == 1.0 for s in ozero), qname
        con.close()


def test_pq_encode_deterministic_across_partitionings(spark):
    from dataingestion_spark.operators.pq import pq_train, pq_encode

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = pq_train(emb, m=4, k=8, iters=2)
    a = pq_encode(emb, books).select("vec_id", "pq_code")
    b = pq_encode(emb.repartition(13), books).select("vec_id", "pq_code")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_c4_signals_rules(spark):
    from dataingestion_spark.operators.text_analysis import c4_signals

    df = spark.createDataFrame(
        [
            (1, 'Good sentence one.\nAnother fine line!\nThird one here?'),
            (2, 'nav\nhome\nabout'),                    # no punct, short lines
            (3, 'Lorem ipsum dolor sit amet. More words here. And more.'),
            (4, 'if (x) { return y; } Fine. Sure. Yes.'),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_signals(df).collect()}
    assert out[1]["punct_line_ratio"] == 1.0 and out[1]["c4_keep"]
    assert out[1]["n_sentences"] == 3
    assert out[2]["punct_line_ratio"] == 0.0 and not out[2]["c4_keep"]
    assert out[2]["short_line_ratio"] == 1.0
    assert out[3]["has_lorem_ipsum"] and not out[3]["c4_keep"]
    assert out[4]["has_brace"] and not out[4]["c4_keep"]
    assert out[5]["n_sentences"] == 0 and not out[5]["c4_keep"]


def test_gopher_signals_rules(spark):
    from dataingestion_spark.operators.text_analysis import gopher_signals

    df = spark.createDataFrame(
        [
            (1, 'A perfectly reasonable sentence with many ordinary words here.'),
            (2, '• one\n• two\n• three'),            # bullet-dominated
            (3, 'trailing off...\nand more...\nugh...'),  # ellipsis-heavy
            (4, '### ## # # # word'),                # symbol-dense
            (5, '12 34 56 78 90 11'),                # no alphabetic words
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_signals(df).collect()}
    assert out[1]["gopher_keep"]
    assert 3 <= out[1]["mean_word_len"] <= 10
    assert out[2]["bullet_line_ratio"] == 1.0 and not out[2]["gopher_keep"]
    assert out[3]["ellipsis_line_ratio"] == 1.0 and not out[3]["gopher_keep"]
    assert out[4]["hash_word_ratio"] > 0.1 and not out[4]["gopher_keep"]
    assert out[5]["alpha_word_ratio"] == 0.0 and not out[5]["gopher_keep"]


def test_curation_heuristic_stages_optional(spark):
    from dataingestion_spark.curation import CurationConfig, curate_with_report

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cfg_off = CurationConfig(neardup=False)
    cfg_on = CurationConfig(neardup=False, c4=True, gopher=True)
    kept_off, rep_off = curate_with_report(docs, config=cfg_off)
    kept_on, rep_on = curate_with_report(docs, config=cfg_on)
    stages_off = [r["stage"] for r in rep_off.orderBy("stage").collect()]
    stages_on = [r["stage"] for r in rep_on.orderBy("stage").collect()]
    assert "2b_c4" not in stages_off and "2b_c4" in stages_on
    assert "2c_gopher" in stages_on
    # heuristic stages only ever shrink the kept set
    assert kept_on.count() <= kept_off.count()
    # funnel counts are monotonically non-increasing along the stage order
    counts = {r["stage"]: r["docs_kept"] for r in rep_on.collect()}
    order = [s for s in ["0_input", "1_lang", "2_quality", "2b_c4",
                         "2c_gopher", "3_exact_dedup"] if s in counts]
    vals = [counts[s] for s in order]
    assert vals == sorted(vals, reverse=True)


def test_new_operator_plan_shapes(spark, monkeypatch):
    from dataingestion_spark.observability import plan_summary
    from dataingestion_spark.operators.packing import pack_sequences
    from dataingestion_spark.operators.sampling import upsample_by_epochs
    from dataingestion_spark.operators.text_analysis import c4_signals, gopher_signals

    # pin the operators' INTRINSIC shape: shuffle-free pruned projections.
    # The r14 scan fan-out deliberately adds one round-robin Exchange when
    # the input under-fills the cluster; that rewrite (and its off-at-scale
    # no-op property) is pinned separately in test_partitioning.py, so
    # disable it here to keep asserting the operators add no shuffle of
    # their own.
    monkeypatch.setenv("SPARK_GRAFT_FANOUT", "0")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        c4_signals(docs),
        gopher_signals(docs),
        upsample_by_epochs(docs.select("doc_id", "source"), "source", {"src0": 2.0}),
    ):
        p = plan_summary(df)
        assert p["exchanges"] == 0
        assert all("text" in s or "source" in s for s in p["read_schemas"])
        assert all("n_chars" not in s for s in p["read_schemas"])  # pruned
    # doc-boundary packing: exactly ONE hash shuffle on shard_id (the
    # formatted plan names each node twice — tree + detail — so one
    # physical Exchange counts 2, matching test_scale_techniques)
    sh = docs.select("doc_id", "n_chars").withColumn("shard_id", F.col("doc_id") % 8)
    p = plan_summary(pack_sequences(sh, "n_chars", 4096, "shard_id"))
    assert p["exchanges"] == 2


def test_ivf_pq_degenerates_to_full_adc(spark):
    """With a single centroid and n_probe=1 every query scans the whole
    corpus, so IVF-PQ must return exactly what brute-force ADC returns
    over the same codebooks."""
    from dataingestion_spark.operators.pq import (
        pq_encode, pq_train, topk_ivf_pq, topk_pq_adc,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = pq_train(emb, m=8, k=16, iters=2)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    full = topk_pq_adc(pq_encode(emb.select("vec_id", "embedding"), books),
                       books, q, k=5)
    ivf = topk_ivf_pq(emb, q, k=5, n_centroids=1, n_probe=1,
                      m=8, k_codes=16, iters=2, codebooks=books)
    assert full.exceptAll(ivf).count() == 0 and ivf.exceptAll(full).count() == 0


def test_ivf_pq_probed_shape_and_self_rank(spark):
    """Real multi-list config: k rows per query, rank densely 1..k, and a
    vector's own list is always probed first so self is rank 1."""
    from dataingestion_spark.operators.pq import topk_ivf_pq

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    out = topk_ivf_pq(emb, q, k=5, n_centroids=8, n_probe=2,
                      m=8, k_codes=16, iters=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(by_q) == {0, 1, 2}
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
    assert sorted(r["vec_id"] for r in out if r["rank"] == 1) == [0, 1, 2]


def test_ivf_pq_residual_reconstruction_beats_raw(spark):
    """The mechanism behind IVFADC: on clustered data, quantizing the
    residual x − c(x) reconstructs x (as centroid + decoded residual) with
    far lower squared error than quantizing x directly at the same (m, k)
    budget — the codebook spends its capacity on within-cluster noise
    instead of the 10x-larger center geometry. Verified directly on the
    primitives; plus structural checks on the residual search path."""
    import hashlib
    import math

    import numpy as np

    from dataingestion_spark.operators.pq import pq_encode, pq_train, topk_ivf_pq
    from dataingestion_spark.operators.similarity import ivf_assign, train_centroids

    dim, n_clusters, per = 16, 32, 20

    def noise(i, d):  # deterministic md5-derived pseudo-noise in [-0.5, 0.5)
        h = int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:8], 16)
        return (h % 1000) / 1000.0 - 0.5

    # centers = 10·s_c with s_c a deterministic ±1 sign pattern per
    # cluster: dense (every subspace is shifted for every cluster, so raw
    # codebooks must spend capacity on center geometry in ALL subspaces)
    # yet near-orthogonal in cosine (random sign patterns), so the coarse
    # k-means separates clusters and the residual really is just noise —
    # the setting IVFADC's refinement exists for
    def sign(c, d):
        h = int(hashlib.md5(f"s{c}:{d}".encode()).hexdigest()[:2], 16)
        return 1.0 if h % 2 else -1.0

    rows = []
    for i in range(n_clusters * per):
        c = i % n_clusters
        rows.append((i, [10.0 * sign(c, d) + noise(i, d) for d in range(dim)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    m, kc = 8, 16
    cents = train_centroids(emb, n_centroids=n_clusters, iters=3, init="farthest")
    cdf = spark.createDataFrame(cents, ["centroid_id", "cvec"])
    assigned = ivf_assign(emb, cdf, "vec_id", "embedding")

    def decode_mse(encoded, books, base_col):
        B = [np.asarray(b) for b in books]
        sub = dim // m
        err = 0.0
        n = 0
        for r in encoded.collect():
            rec = np.concatenate([B[j][r["pq_code"][j]] for j in range(m)])
            tgt = np.array(r[base_col])
            err += float(((rec - tgt) ** 2).sum())
            n += 1
        return err / n

    raw_books = pq_train(emb, m=m, k=kc, iters=3)
    raw_mse = decode_mse(
        pq_encode(emb.select("vec_id", "embedding"), raw_books), raw_books,
        "embedding",
    )

    anchors = assigned.groupBy("centroid_id").agg(
        F.array(*[F.avg(F.col("embedding")[d]) for d in range(dim)]).alias("_a"))
    res_df = assigned.join(F.broadcast(anchors), "centroid_id").select(
        "vec_id", F.zip_with("embedding", "_a", lambda a, b: a - b).alias("_res"))
    res_books = pq_train(res_df, m=m, k=kc, iters=3, corpus_vec="_res")
    res_mse = decode_mse(pq_encode(res_df, res_books, "_res"), res_books, "_res")
    assert res_mse < raw_mse / 2  # residual codes must be decisively better

    # structural checks on the composed residual search
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    out = topk_ivf_pq(emb, q, k=5, n_centroids=n_clusters, n_probe=2,
                      m=m, k_codes=kc, iters=3, residual=True).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(by_q) == set(range(8))
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
    assert sorted(r["vec_id"] for r in out if r["rank"] == 1) == list(range(8))


def test_minhash_fast_agrees_with_md5_family(spark):
    """The xxhash64 family must reproduce the md5 family's BEHAVIOR:
    identical texts collide in every band, near-dupes in ≥1 band, and on
    the real corpus the candidate sets of the two families overlap."""
    from dataingestion_spark.operators.dedup import (
        minhash_lsh_pairs_fast,
        minhash_signature_fast,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the quiet green forest before nightfall comes around"
    )
    rows = [
        (1, base),
        (2, base),  # exact dup
        (3, base.replace("quiet", "silent")),  # near dup
        (4, "completely different content about spark shuffles and joins"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.doc_id: r.signature for r in minhash_signature_fast(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]
    # 32-bit slices, never negative, fixed width
    assert all(0 <= v <= 0xFFFFFFFF for v in sigs[1]) and len(sigs[1]) == 16
    pairs = {
        (r.id_a, r.id_b) for r in minhash_lsh_pairs_fast(df).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs
    assert (1, 4) not in pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fast = {(r.id_a, r.id_b) for r in minhash_lsh_pairs_fast(docs).collect()}
    slow = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect()}
    # same banding statistics → heavy overlap on real near-dupes (the corpus
    # plants exact template families, which both hash families must find)
    assert len(fast & slow) >= 0.8 * max(len(slow), 1)


def test_simhash_fast_behaves_like_md5_simhash(spark):
    from dataingestion_spark.operators.dedup import simhash, simhash_fast

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "alpha beta gamma delta epsilon zeta eta iota"),
        (4, "entirely different vocabulary with other words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {r.doc_id: r.simhash for r in simhash_fast(df).collect()}
    assert fast[1] == fast[2]
    assert 0 <= fast[1] < 2 ** 32

    def ham(a, b):
        return bin(a ^ b).count("1")

    # near-dup pair closer than unrelated pair, in BOTH families
    slow = {r.doc_id: r.simhash for r in simhash(df, bits=32).collect()}
    for fam in (fast, slow):
        assert ham(fam[1], fam[3]) < ham(fam[1], fam[4])


def test_resample_gapfill_locf_and_none(spark):
    from dataingestion_spark.operators.temporal import resample_gapfill
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:05:00", 10.0),
         (1, "2024-01-01 00:50:00", 20.0),   # same hour: last wins
         (1, "2024-01-01 03:10:00", 7.0),    # hours 1-2 are gaps
         (2, "2024-01-01 05:00:00", 1.0)],
        "k int, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))

    got = {(r.k, str(r.bucket_ts), r.n, r.v)
           for r in resample_gapfill(df, "ts", "k", "v", 3600).collect()}
    assert got == {
        (1, "2024-01-01 00:00:00", 2, 20.0),
        (1, "2024-01-01 01:00:00", 0, 20.0),   # gap: carried forward
        (1, "2024-01-01 02:00:00", 0, 20.0),
        (1, "2024-01-01 03:00:00", 1, 7.0),
        (2, "2024-01-01 05:00:00", 1, 1.0),    # single-bucket key
    }

    none = {(r.k, str(r.bucket_ts), r.n, r.v)
            for r in resample_gapfill(df, "ts", "k", "v", 3600,
                                      fill="none").collect()}
    assert (1, "2024-01-01 01:00:00", 0, None) in none


def test_funnel_steps_strict_order_and_within(spark):
    from dataingestion_spark.operators.temporal import funnel_steps
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (1, "c", 30),
         (2, "a", 10), (2, "c", 5), (2, "b", 40),  # c precedes b: stops at b
         (3, "b", 1), (3, "c", 2),                  # never entered the funnel
         (4, "a", 1)],
        "user_id int, event_type string, sec int",
    ).withColumn("ts", F.timestamp_seconds("sec"))
    out = {r.user_id: r.steps_completed
           for r in funnel_steps(df, ["a", "b", "c"]).collect()}
    assert out == {1: 3, 2: 2, 4: 1}  # user 3 absent: no step-1 event
    within = {r.user_id: r.steps_completed
              for r in funnel_steps(df, ["a", "b"], within_seconds=15).collect()}
    assert within == {1: 2, 2: 1, 4: 1}  # user 2's b misses the deadline


def test_normalize_text_pipeline(spark):
    from dataingestion_spark.operators.text_analysis import normalize_text

    dirty = '  <b>Café</b>&nbsp;&amp;lt;—ok\r\n\r\n\r\n\r\n“q”\x07 tail   \rend'
    df = spark.createDataFrame([(1, dirty)], "doc_id int, text string")
    r = normalize_text(df).first()
    # entity single-unescape: &amp;lt; -> literal '&lt;' (never '<')
    assert r.clean_text == '<b>Café</b> &lt;-ok\n\n"q" tail\nend'
    assert r.n_removed_chars == len(dirty) - len(r.clean_text)


def test_script_profile_dominance_and_ties(spark):
    from dataingestion_spark.operators.text_analysis import script_profile

    df = spark.createDataFrame(
        [(1, "hello"), (2, "привет мир hi"), (3, "日本語のテキストです"),
         (4, "1234 !!!"), (5, "αβγαβ καλημέρα")],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.main_script for r in script_profile(df).collect()}
    assert got == {1: "latin", 2: "cyrillic", 3: "katakana",
                   4: "none", 5: "greek"}


def test_rolling_zscore_flags_spike_not_itself(spark):
    from dataingestion_spark.operators.temporal import rolling_zscore
    from pyspark.sql import functions as F

    rows = [(1, i, 10.0 + (i % 3)) for i in range(20)] + [
        (1, 20, 500.0),   # spike
        (1, 21, 10.0),    # next point: spike inflates its window, no flag
    ]
    df = spark.createDataFrame(rows, "u int, sec int, value double").withColumn(
        "ts", F.timestamp_seconds("sec")
    )
    out = {r.sec: (r.z, r.anomaly)
           for r in rolling_zscore(df, "ts", "u", "value", 10).collect()}
    assert out[20][1] is True and out[20][0] > 100
    assert out[21][1] is False
    assert out[0] == (None, False)  # no preceding observations


def test_compression_ratio_pinned_to_zlib(spark):
    import zlib

    from dataingestion_spark.operators.text_analysis import compression_ratio
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sub = docs.filter(F.col("doc_id") < 20)
    got = {r.doc_id: (r.n_bytes, r.n_bytes_deflate)
           for r in compression_ratio(sub).collect()}
    for r in sub.collect():
        b = r.text.encode()
        assert got[r.doc_id] == (len(b), len(zlib.compress(b, 6)))
    # repetitive text compresses much harder than the word soup
    rep = spark.createDataFrame([(1, "na " * 500)], "doc_id int, text string")
    assert compression_ratio(rep).first().compression_ratio < 0.05


def test_cohort_retention_counts(spark):
    from dataingestion_spark.operators.temporal import cohort_retention
    from pyspark.sql import functions as F

    # users 1,2 first seen day 0; user 3 first seen day 1;
    # day 1 actives: 1, 3; day 2 actives: 3
    rows = [(1, 0), (2, 0), (1, 86400), (3, 86400), (3, 2 * 86400),
            (1, 10)]  # second event same day: distinct() collapses
    df = spark.createDataFrame(rows, "user_id int, sec long").withColumn(
        "ts", F.timestamp_seconds("sec")
    )
    got = {(r.cohort_period, r.period_offset): (r.n_active, r.n_cohort)
           for r in cohort_retention(df, "ts", "user_id", 86400).collect()}
    assert got == {
        (0, 0): (2, 2),  # cohort day-0: both active day 0
        (0, 1): (1, 2),  # only user 1 returned on day 1
        (1, 0): (1, 1),  # cohort day-1: user 3
        (1, 1): (1, 1),  # user 3 active again day 2
    }


def test_recall_at_k_exact_self_is_one(spark):
    from dataingestion_spark.operators.similarity import recall_at_k
    from dataingestion_spark.operators.similarity import topk_cosine

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = topk_cosine(emb, qs, k=5)
    r = recall_at_k(exact, exact, 5).collect()
    assert all(x.recall == 1.0 and x.n_hit == 5 for x in r)
    # disjoint approx -> recall 0, queries preserved
    import pyspark.sql.functions as SF_
    none = exact.withColumn("vec_id", F.col("vec_id") + 100000)
    r0 = recall_at_k(exact, none, 5).collect()
    assert all(x.recall == 0.0 for x in r0) and len(r0) == 4


def test_normalize_text_invariants_on_nasty_corpus(spark):
    """Invariants over a nasty-input corpus in one Spark pass: no CR, no
    control chars, no 3+ newline runs, no space runs, no line-trailing
    spaces, trimmed ends; text without dirt passes through unchanged."""
    import random
    import re

    from dataingestion_spark.operators.text_analysis import normalize_text

    rng = random.Random(42)
    alphabet = list("ab c\t\r\n\x07\x00—“”&<>;") + ["&amp;", "&lt;", "&nbsp;"]
    rows = [(i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80))))
            for i in range(300)]
    rows += [(1000, "plain text stays"), (1001, ""), (1002, " \r\n\x07 ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = normalize_text(df).collect()
    assert len(out) == len(rows)
    for r in out:
        c = r.clean_text
        assert "\r" not in c and "\x07" not in c and "\x00" not in c
        assert "\n\n\n" not in c and "  " not in c and "\t" not in c
        assert " \n" not in c and c == c.strip()
        assert not re.search(r"[‘’“”–— ]", c)
    by_id = {r.doc_id: r.clean_text for r in out}
    assert by_id[1000] == "plain text stays"
    assert by_id[1001] == "" and by_id[1002] == ""


def test_edit_distance_pairs_lossless_vs_bruteforce(spark):
    from itertools import combinations

    from dataingestion_spark.operators.dedup import edit_distance_pairs

    rows = [(1, "jonathan smith"), (2, "jonathon smith"), (3, "jon smith"),
            (4, "completely different"), (5, "abc"), (6, "abd"),
            (7, "jonathan smyth"), (8, "query query par"),
            (9, "query query spa")]  # internal repetition: multiset bound
    df = spark.createDataFrame(rows, "id int, name string")
    got = sorted(tuple(r) for r in
                 edit_distance_pairs(df, "name", "id", max_dist=2).collect())

    import functools

    def lev(a, b):
        @functools.lru_cache(None)
        def d(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(d(i - 1, j) + 1, d(i, j - 1) + 1,
                       d(i - 1, j - 1) + (a[i - 1] != b[j - 1]))
        return d(len(a), len(b))

    want = sorted((i, j, lev(a, b)) for (i, a), (j, b) in combinations(rows, 2)
                  if lev(a, b) <= 2)
    assert got == want


def test_asof_join_forward_and_tolerance(spark):
    import pandas as pd
    from pyspark.sql import Row
    from dataingestion_spark.operators.temporal import asof_join

    left = spark.createDataFrame([Row(k="u", i=1, ts=10.0), Row(k="u", i=2, ts=50.0)])
    right = spark.createDataFrame(
        [Row(k="u", ts=12.0, v=1.0), Row(k="u", ts=12.0, v=2.0),
         Row(k="u", ts=40.0, v=3.0)])
    fwd = {r.i: (r.ts_right, r.v_right)
           for r in asof_join(left, right, on="k", direction="forward").collect()}
    assert fwd[1] == (12.0, 1.0)       # earliest >= 10; tie -> min v
    assert fwd[2] == (None, None)      # nothing at/after 50
    near = {r.i: r.ts_right
            for r in asof_join(left, right, on="k", direction="nearest").collect()}
    assert near[1] == 12.0 and near[2] == 40.0
    tol = {r.i: r.ts_right
           for r in asof_join(left, right, on="k", direction="backward",
                              tolerance=5.0).collect()}
    assert tol[2] is None              # 50-40=10 > 5 -> stale, no match
    import pytest as _pt
    with _pt.raises(ValueError):
        asof_join(left, right, on="k", direction="sideways")


def test_pq_rerank_restores_exactness_when_shortlist_covers_corpus(spark):
    import math

    from dataingestion_spark.operators.pq import pq_encode, pq_train, topk_pq_rerank
    from dataingestion_spark.operators.similarity import topk_cosine

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    books = pq_train(e, m=4, k=8, iters=2)
    enc = pq_encode(e.select("vec_id", "embedding"), books)
    n = e.count()
    # shortlist == whole corpus -> the ADC stage is a no-op and the
    # re-rank must equal exact cosine top-k, scores included
    got = topk_pq_rerank(enc, books, q, e, k=5, candidates=n).collect()
    want = topk_cosine(e, q, k=5).collect()
    gk = {(r.query_id, r.rank): (r.vec_id, r.score) for r in got}
    wk = {(r.query_id, r.rank): (r.vec_id, r.score) for r in want}
    assert gk.keys() == wk.keys()
    for k2 in gk:
        assert gk[k2][0] == wk[k2][0]
        assert math.isclose(gk[k2][1], wk[k2][1], rel_tol=0, abs_tol=1e-12)


def test_pq_rerank_beats_raw_adc_recall(spark):
    from dataingestion_spark.operators.pq import (
        pq_encode, pq_train, topk_pq_adc, topk_pq_rerank,
    )
    from dataingestion_spark.operators.similarity import topk_cosine

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    truth = {}
    for r in topk_cosine(e, q, k=10).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(len(w & got.get(k2, set())) for k2, w in truth.items()) \
            / sum(len(w) for w in truth.values())

    books = pq_train(e, m=8, k=16, iters=2)
    enc = pq_encode(e.select("vec_id", "embedding"), books)
    raw = recall(topk_pq_adc(enc, books, q, k=10).collect())
    rr = recall(topk_pq_rerank(enc, books, q, e, k=10, candidates=100).collect())
    assert rr > raw  # re-ranking must lift the quantization ceiling
    assert rr >= 0.5


def test_sessionize_gap_splits_and_counts(spark):
    import datetime as dt

    from dataingestion_spark.operators.temporal import sessionize

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        # user 1: 3 events within gaps, then a 2h break, then 1 more
        (1, t0), (1, t0 + dt.timedelta(minutes=10)),
        (1, t0 + dt.timedelta(minutes=25)),
        (1, t0 + dt.timedelta(hours=2, minutes=26)),
        # user 2: single event
        (2, t0),
        # user 3: boundary exactly AT the gap -> same session (<=)
        (3, t0), (3, t0 + dt.timedelta(seconds=1800)),
        # user 3: one microsecond past the gap -> new session
        (3, t0 + dt.timedelta(seconds=3600, microseconds=1)),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = {r.session_id: (r.n_events, r.session_start, r.session_end)
           for r in sessionize(df, gap_seconds=1800).collect()}
    assert out["1#1"][0] == 3 and out["1#2"][0] == 1
    assert out["2#1"][0] == 1
    assert out["3#1"][0] == 2  # gap == threshold stays in-session
    assert out["3#2"][0] == 1
    assert out["1#1"][1] == t0
    assert out["1#1"][2] == t0 + dt.timedelta(minutes=25)
