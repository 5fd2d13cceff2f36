"""BM25 keyword search and hybrid (keyword + vector) rank fusion.

The reference's query surface is vector-only (``SearchAsync``,
``SemanticSearch.cs:24-29``); production retrieval over an ingested corpus
is usually hybrid — a lexical BM25 ranking fused with the embedding
ranking. Both halves here are deterministic across engines so the whole
retrieval stack is oracle-checkable:

* BM25 (Robertson & Zaragoza 2009, the Lucene ``k1``/``b`` form with the
  +1 idf shift) is computed relationally — postings from one explode +
  groupBy, document frequencies only for *query* terms (the query-term set
  broadcasts, so the corpus-wide posting table is filtered before any
  wide work), corpus stats as a 1-row broadcast.
* Per-document scores sum the per-term contributions in *sorted term
  order* via an explicit fold, so the float total is identical in any
  engine (`ln` verified bit-identical against DuckDB/libm in this image;
  every other op is IEEE-exact).
* Reciprocal-rank fusion (Cormack et al. 2009) combines two rankings with
  ``1/(k0+rank) + 1/(k0+rank)`` — a fixed two-term expression tree, so no
  aggregation-order dependence exists at all.

Scale: the per-query ranking window partitions on query id — fine while
per-query candidate sets (union of the query terms' posting lists) fit a
task, which holds for interactive queries; corpus-scale scoring of *many*
queries should bound candidates first (static pruning / WAND), which
composes here as a filter on ``postings`` before scoring.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..partitioning import fan_out

_WS = r"\s+"


def bm25_topk(docs: DataFrame, queries: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", query_id_col: str = "query_id",
              query_text_col: str = "query_text", k: int = 10,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-k BM25 per query: ``(query_id, rank, doc_id, score)``.

    score(q, d) = Σ_t  ln(1 + (N − df + 0.5)/(df + 0.5))
                       · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    summed over the *distinct* query terms in sorted order (deterministic
    float fold). Ties rank by ascending doc id.

    NOT fanned: ``docs`` feeds TWO subtrees (doclens aggregation + the
    postings explode), so a scan fan-out shuffle runs twice, and the tf
    groupBy pays its own exchange right after the explode anyway — the
    r15 tight-ABBA A/B read ON−OFF +0.881 s median, 5/6 positive
    (plans/r15/ab_fanout_sites.txt), confirming the r14 driver's
    bm25_hybrid 0.82× regression.
    """
    words = _tokens(text_col)
    qterms = _query_terms(queries, query_id_col, query_text_col)
    # Filter exploded tokens against the (broadcast) query-term set BEFORE
    # the tf groupBy: the shuffle then carries only query-term postings, not
    # the corpus-wide vocabulary — the difference between O(total tokens)
    # and O(matching tokens) shuffle bytes at 100 TB.
    rel = (
        docs.select(F.col(id_col), F.explode(words).alias("term"))
        .join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    doclens = docs.select(F.col(id_col), F.size(words).alias("dl"))
    return _bm25_rank(rel, qterms, doclens, k, k1, b, id_col, query_id_col)


def _tokens(text_col: str) -> Column:
    return F.split(F.trim(F.col(text_col)), _WS)


def _query_terms(queries: DataFrame, query_id_col: str,
                 query_text_col: str) -> DataFrame:
    """``(query_id, term)``: each query's distinct whitespace terms."""
    return queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(_tokens(query_text_col))).alias("term"),
    )


def _bm25_rank(rel: DataFrame, qterms: DataFrame, doclens: DataFrame,
               k: int, k1: float, b: float, id_col: str,
               query_id_col: str) -> DataFrame:
    """The BM25 scorer behind :func:`bm25_topk` and the persisted text
    index: ``rel(id, term, tf)`` holds the query terms' postings,
    ``qterms(query_id, term)`` the queries, and ``doclens(id, dl)`` every
    document of the corpus (N and avgdl come from it). Both callers
    score through this one expression, so they agree bit for bit.

    ``rel`` holds one row per (id, term) — ``bm25_topk`` groups on it,
    and the persisted index appends new ids only — so a term's document
    frequency is its count of non-null ids, taken as a window over the
    same rows the scorer reads: one scan of ``rel``, not a second one
    for a ``countDistinct`` join."""
    stats = doclens.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl)
    )
    s = idf * ((F.col("tf") * F.lit(k1 + 1.0)) / denom)
    scored = (
        rel.withColumn("df", F.count(id_col).over(Window.partitionBy("term")))
        .join(F.broadcast(qterms), "term")
        .join(doclens, id_col)
        .crossJoin(F.broadcast(stats))
        .select(query_id_col, id_col, "term", s.alias("_s"))
    )
    total = scored.groupBy(query_id_col, id_col).agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "_s"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_s"],
        ).alias("score")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        total.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "score")
    )


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame, id_col: str = "doc_id",
             on: Sequence[str] = ("query_id",), k0: int = 60,
             k: int = 10) -> DataFrame:
    """Reciprocal-rank fusion of two rankings (each with a ``rank`` column):
    rrf = 1/(k0 + rank_a) + 1/(k0 + rank_b), absent-side contributions are 0.
    A fixed two-term expression — no float-order nondeterminism — and an
    outer join on (query, id), so either ranking may cover items the other
    misses. Re-ranked by rrf desc, id asc; top ``k`` per query."""
    keys = [*on, id_col]
    a = ranked_a.select(*keys, F.col("rank").alias("_ra"))
    bdf = ranked_b.select(*keys, F.col("rank").alias("_rb"))
    j = a.join(bdf, keys, "outer")
    score = F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("_ra")), F.lit(0.0)) + \
        F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("_rb")), F.lit(0.0))
    w = Window.partitionBy(*on).orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (
        j.withColumn("rrf_score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*on, "rank", id_col, "rrf_score")
    )


def positional_postings(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Positional inverted index: one row per token OCCURRENCE —
    ``(id_col, term, pos)`` with pos 0-based over the whitespace token
    stream. The structure phrase and proximity queries need (Lucene's
    positions postings); build once, reuse across queries. Scale: one
    explode, partitioned by whatever the downstream join keys on (term
    for search — write it bucketed by term at 100 TB)."""
    return docs.select(
        F.col(id_col),
        F.posexplode(_tokens(text_col)).alias("pos", "term"),
    ).filter(F.col("term") != "")


def phrase_search(docs: DataFrame, phrase: str, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Exact phrase matching on token positions: documents containing the
    whitespace-tokenized ``phrase`` as CONSECUTIVE tokens, with the match
    count — ``(id_col, n_matches)``, matches may overlap.

    Relational shape: for the i-th phrase term, its occurrences at
    position p anchor a candidate start at ``p − i``; a start position
    where ALL phrase terms anchor (count == phrase length) is a match.
    One explode + one groupBy — no self-joins, no per-pair work; the
    phrase terms broadcast as a literal map, and the postings scan
    prunes to phrase terms before the shuffle. Duplicate terms in the
    phrase are handled by counting DISTINCT term slots per start."""
    terms = [t for t in phrase.strip().split() if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    # term -> its slot offsets in the phrase ("a b a" -> a:[0,2], b:[1])
    slot_map = F.map_from_arrays(
        F.array(*[F.lit(t) for t in sorted(set(terms))]),
        F.array(*[
            F.array(*[F.lit(i) for i, u in enumerate(terms) if u == t])
            for t in sorted(set(terms))
        ]),
    )
    post = positional_postings(docs, text_col, id_col)
    anchors = (
        post.filter(F.col("term").isin(terms))
        .select(
            id_col,
            F.explode(slot_map[F.col("term")]).alias("_slot"),
            F.col("pos"),
        )
        .select(id_col, F.col("_slot"), (F.col("pos") - F.col("_slot")).alias("_start"))
        .filter(F.col("_start") >= 0)
    )
    return (
        anchors.groupBy(id_col, "_start")
        .agg(F.countDistinct("_slot").alias("_k"))
        .filter(F.col("_k") == len(terms))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_matches"))
    )


def tfidf_top_terms(docs: DataFrame, group_col: str, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Characteristic terms per group (the corpus-exploration /
    domain-labeling primitive): for every value of ``group_col``, the
    top-k whitespace terms by tf·idf where tf counts occurrences inside
    the group and idf = ln(1 + G/gf) with G = number of groups and gf =
    groups containing the term. Output: (group, rank, term, tf, score).

    Shape: one explode + (group, term) count (map-side combinable), a
    term-level groupBy for gf, a broadcast-sized (G ≪ corpus) stats
    join, and a per-group top-k window. Ranking ties break by term, and
    idf is one ln of one exact division — both engine-stable — so the
    whole ranking is oracle-checkable."""
    words = F.split(F.trim(F.lower(F.col(text_col))), _WS)
    occ = fan_out(docs).select(
        F.col(group_col).alias("grp"), F.explode(words).alias("term")
    ).filter(F.col("term") != "")
    tf = occ.groupBy("grp", "term").agg(F.count("*").alias("tf"))
    gf = tf.groupBy("term").agg(F.count("*").alias("gf"))
    n_groups = docs.select(group_col).distinct().count()
    scored = tf.join(gf, "term").withColumn(
        "score",
        F.col("tf") * F.log(F.lit(1.0) + F.lit(float(n_groups)) / F.col("gf")),
    )
    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "rank", "term", "tf",
                F.round("score", 6).alias("score"))
    )


def collocations(docs: DataFrame, text_col: str = "text",
                 min_count: int = 5, k: int = 20) -> DataFrame:
    """Top-k collocations by PMI (pointwise mutual information over
    adjacent word pairs) — the corpus-analysis staple for finding
    multiword units worth protecting from tokenizers/normalizers:

        pmi(a, b) = ln( c(a,b) · N / (c(a) · c(b)) )

    with N = total bigram occurrences and unigram counts over the same
    token stream. ``min_count`` floors the bigram count (PMI without a
    floor surfaces hapax noise). Ranking ties break by (w1, w2). Shape:
    one explode for unigrams + the zip-with-tail bigram build (shared
    with operators/lm.py), two combinable groupBys, broadcast-sized
    joins, one top-k. ln of an exact integer ratio → engine-stable →
    oracle-checkable. Output: (rank, w1, w2, n_pair, pmi)."""
    # No fan_out: the zip-with-tail bigram build is array-slice-speed,
    # and the r14 tight-ABBA A/B measured the added shuffle as a weak
    # but consistent loss (paired ON-OFF deltas +0.08 s median, 5/6
    # positive, vs a ±0.1 s jitter control) — the per-row work is too
    # light to pay for it.
    words = F.split(F.trim(F.lower(F.col(text_col))), _WS)
    n1 = F.greatest(F.size(words) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(words, 1, n1), F.slice(words, 2, n1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bi = (
        docs.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
    )
    uni = (
        docs.select(F.explode(words).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n_w"))
    )
    total = bi.agg(F.sum("n_pair").alias("n")).withColumn("_j", F.lit(1))
    scored = (
        bi.filter(F.col("n_pair") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_2")), "w2")
        .withColumn("_j", F.lit(1))
        .join(F.broadcast(total), "_j")
        .withColumn(
            "pmi",
            F.log(
                F.col("n_pair").cast("double") * F.col("n")
                / (F.col("n_1").cast("double") * F.col("n_2"))
            ),
        )
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("rank", "w1", "w2", "n_pair", F.round("pmi", 6).alias("pmi"))
    )


def rake_keywords(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  stopwords: Optional[Sequence[str]] = None,
                  k: int = 3, max_phrase_len: int = 4) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010 — the deterministic
    analog of the reference's LLM KeywordEnricher): candidate phrases
    are maximal stopword-free token runs; each word scores
    degree/frequency over the candidate set (degree = Σ lengths of the
    phrases containing it); a phrase scores the sum of its words'
    scores. Top-k phrases per document, ties by phrase text.

    Relational shape: phrase segmentation is the sessionization pattern
    (running sum over the is-stopword marker), word stats are two
    combinable groupBys over the corpus, and the per-phrase float sum
    folds in sorted word order (the BM25 fold) so scores are bit-stable
    cross-engine. Phrases longer than ``max_phrase_len`` are dropped
    (RAKE's standard noise guard)."""
    from ..operators.text_analysis import STOPWORDS

    stops = [s.lower() for s in (stopwords or STOPWORDS["en"])]
    words = F.split(F.trim(F.lower(F.col(text_col))), _WS)
    # No fan_out: the per-doc running-sum window right after the
    # posexplode forces a hash repartition by doc id anyway, so a
    # round-robin exchange ahead of it just shuffles the token stream
    # twice. The r14 tight-ABBA A/B measured it as a clear regression:
    # paired ON-OFF deltas +0.55 s median, 6/6 positive, vs a ±0.1 s
    # jitter control on the same harness.
    tok = docs.select(
        F.col(id_col), F.posexplode(words).alias("pos", "w")
    ).filter(F.col("w") != "")
    is_stop = F.col("w").isin(stops).cast("int")
    win = Window.partitionBy(id_col).orderBy("pos")
    seg = (
        tok.withColumn(
            "_g",
            F.sum(is_stop).over(win.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .filter(~F.col("w").isin(stops))
    )
    phrases = (
        seg.groupBy(id_col, "_g")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("_len"),
        )
        .filter(F.col("_len") <= max_phrase_len)
    )
    occ = seg.join(phrases.select(id_col, "_g", "_len"), [id_col, "_g"])
    scores = (
        occ.groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("_len").alias("deg"))
        .withColumn("score", F.col("deg").cast("double") / F.col("freq"))
    )
    phrase_scores = (
        occ.join(scores.select("w", "score"), "w")
        .groupBy(id_col, "_g")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("pos", "score"))),
                F.lit(0.0),
                lambda acc, x: acc + x["score"],
            ).alias("score")
        )
    )
    # a phrase occurring twice in a document scores identically both
    # times (same member words) — rank each distinct phrase once
    uniq = (
        phrases.join(phrase_scores, [id_col, "_g"])
        .select(id_col, "phrase", "score")
        .distinct()
    )
    ranked = uniq.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("phrase"))
        ),
    )
    return ranked.filter(F.col("rank") <= k).select(
        id_col, "rank", "phrase", F.round("score", 6).alias("score")
    )
