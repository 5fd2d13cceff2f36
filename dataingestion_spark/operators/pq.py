"""Product quantization (PQ) for billion-vector ANN.

Completes the 100 TB vector-search ladder: exact brute force
(`similarity.topk_cosine`) → int8 scalar quantization
(`topk_cosine_quantized`, 4×) → LSH / IVF candidate pruning → PQ, which
compresses each vector to ``m`` one-byte codes (a 1536-dim float32
embedding becomes 8-16 bytes — 400-750×) and scores candidates by
asymmetric distance (ADC): the query stays full-precision, each code
looks up a precomputed distance in a per-query table. This is the
memory layout IVF-PQ indexes (Faiss-style) use to keep a billion
vectors scannable; the reference delegates all of this to its vector
store backends (``VectorStoreWriter.cs``), so the operator set here is
the engine-side equivalent.

Determinism: training is Lloyd's k-means per subspace with the same
deterministic seeding as ``train_centroids`` (stride or Gonzalez
farthest-first by id order) — no RNG anywhere, so codebooks, codes, and
ADC scores reproduce bit-for-bit on any cluster. Training is iterative
(genuinely non-SQL-expressible); encode and ADC are pure expressions.

Scale shape:
* ``pq_train`` — driver-side numpy on a deterministic sample (codebooks
  are tiny: m·k·(dim/m) floats); sampling caps the collect at
  ``sample_limit`` rows by id order.
* ``pq_encode`` — shuffle-free ``mapInPandas`` projection: codebooks
  ship in the closure, each Arrow batch runs one vectorized numpy
  distance grid per subspace. No join, no per-row Python.
* ``topk_pq_adc`` — per-query LUTs computed driver-side from the
  (small, broadcast-bound) query set; candidate scoring is ``m`` array
  lookups + an explicit m-term sum, all codegen'd — candidates never
  touch a float vector. Ranking reuses the two-phase local-then-global
  top-k.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, functions as F

from ..partitioning import local_frame
from .similarity import _rank_topk

__all__ = ["pq_train", "pq_encode", "topk_pq_adc", "topk_ivf_pq"]


def pq_train(corpus: DataFrame, m: int = 8, k: int = 16, iters: int = 5,
             corpus_id: str = "vec_id", corpus_vec: str = "embedding",
             init: str = "farthest", sample_limit: int = 100_000
             ) -> List[List[List[float]]]:
    """Train PQ codebooks: ``m`` subspaces × ``k`` codewords each.

    Returns ``codebooks[j][c]`` = codeword ``c`` of subspace ``j`` (a
    dim/m-length list). L2 k-means per subspace (the PQ objective is
    squared reconstruction error, not cosine), deterministic init by id
    order: ``stride`` takes every ⌈n/k⌉-th subvector, ``farthest`` runs
    Gonzalez traversal. Training data is the first ``sample_limit`` rows
    by id — a deterministic sample, as codebooks need only cover the
    distribution, not every row."""
    import numpy as np

    if init not in ("stride", "farthest"):
        raise ValueError(f"init must be 'stride' or 'farthest', got {init!r}")
    pdf = (corpus.select(corpus_id, corpus_vec)
           .orderBy(corpus_id).limit(sample_limit).toPandas())
    mat = np.array(list(pdf[corpus_vec]), dtype=np.float64)
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books: List[List[List[float]]] = []
    for j in range(m):
        x = mat[:, j * sub:(j + 1) * sub]
        if init == "farthest":
            chosen = [0]
            d2 = ((x - x[0]) ** 2).sum(axis=1)
            for _ in range(1, min(k, len(x))):
                nxt = int(d2.argmax())
                chosen.append(nxt)
                d2 = np.minimum(d2, ((x - x[nxt]) ** 2).sum(axis=1))
            cents = x[chosen].copy()
        else:
            stride = max(1, len(x) // k)
            cents = x[::stride][:k].copy()
        x2 = (x * x).sum(axis=1)
        for _ in range(iters):
            # ‖x−c‖² via the matmul expansion: same argmin up to fp noise,
            # one BLAS call instead of an (n, k, sub) broadcast allocation
            d2 = (x2[:, None] - 2.0 * (x @ cents.T)
                  + (cents * cents).sum(axis=1)[None, :])
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = x[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([[float(v) for v in cw] for cw in cents])
    return books


def pq_encode(corpus: DataFrame, codebooks: List[List[List[float]]],
              corpus_vec: str = "embedding",
              code_col: str = "pq_code") -> DataFrame:
    """Add ``code_col``: array<int> of length m — per-subspace argmin-L2
    codeword, ties to the lowest code (numpy argmin takes the first
    minimum). Still shuffle-free — a ``mapInPandas`` projection with the
    codebooks shipped in the closure — but the m·k·(dim/m) distance grid
    runs as one vectorized numpy einsum per Arrow batch: an expression
    tree of that size blows the JVM's 64 KB codegen method limit into
    interpreted fallback (measured), and realistic k=256 codebooks are
    far past it. The batch kernel is the ‖x‖² − 2x·c + ‖c‖² expansion —
    one matmul per subspace, no per-row Python."""
    import numpy as np

    from pyspark.sql import types as T

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]
    out_schema = T.StructType(
        list(corpus.schema.fields)
        + [T.StructField(code_col, T.ArrayType(T.IntegerType()))]
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(**{code_col: []})
                continue
            mat = np.array(list(pdf[corpus_vec]), dtype=np.float64)
            cols = []
            for j, cb in enumerate(books):
                x = mat[:, j * sub:(j + 1) * sub]
                # argmin over ‖x−c‖² == argmin over ‖c‖² − 2x·c (ties: the
                # full-distance argmin and this one agree to fp error —
                # compute the exact squared distance to keep the tie rule
                # identical to the documented definition)
                d2 = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
                cols.append(d2.argmin(axis=1))
            codes = np.stack(cols, axis=1).astype("int32")
            yield pdf.assign(**{code_col: list(codes)})

    # NOT fanned (r15): spawning task-slot-many Python workers (one numpy
    # init each, §4.5) for a small encode batch costs more than the
    # parallelism returns — two tight-ABBA windows read pq_adc neutral
    # (−0.065 med) and pq_rerank +0.19/+0.356 med, 4/6 + 6/8 positive
    # (plans/r15/ab_fanout_sites.txt, ab_fanout_rerun.txt). ivfpq_build's
    # measured fan-out win comes from ivf_assign, whose output (this
    # function's input there) carries an exchange and is skipped anyway.
    return corpus.mapInPandas(encode, out_schema)


def topk_pq_adc(encoded: DataFrame, codebooks: List[List[List[float]]],
                queries: DataFrame, k: int = 10,
                corpus_id: str = "vec_id", code_col: str = "pq_code",
                query_id: str = "query_id", query_vec: str = "query_vec"
                ) -> DataFrame:
    """Asymmetric-distance top-k: score(candidate) = −Σ_j lut_j[code_j],
    where ``lut_j[c]`` = squared L2 between the query's j-th subvector
    and codeword c (negated so 'higher is better', like every scorer
    here).

    LUTs are computed DRIVER-SIDE from a collect of the query set
    (queries are small by the broadcast contract, and an expression-tree
    LUT gets re-evaluated per joined pair once codegen falls back —
    measured at 10-100× the lookup cost). The per-pair score is then m
    array lookups + an explicit m-term sum, all codegen'd: candidates
    never touch a float vector."""
    q = _adc_lut_df(queries, codebooks, query_id, query_vec)
    # project to (id, codes) BEFORE the quadratic stage: the scan may
    # carry float vectors and metadata, but the pair stream must see m
    # bytes per candidate — that's the entire point of PQ
    scored = encoded.select(corpus_id, code_col).crossJoin(
        F.broadcast(q)
    ).select(
        F.col(query_id), F.col(corpus_id),
        (-_adc_total(len(codebooks), code_col)).alias("score"),
    )
    return _rank_topk(scored, k, query_id, corpus_id)


def _adc_lut_df(queries: DataFrame, codebooks: List[List[List[float]]],
                query_id: str, query_vec: str) -> DataFrame:
    """Driver-side ADC lookup tables: one row per query —
    (query_id, _lut: array<array<double>>), lut[j][c] = squared L2 between
    the query's j-th subvector and codeword c, accumulated by a strictly
    sequential fold so the doubles are engine-independent."""
    sub = len(codebooks[0][0])
    qrows = queries.select(query_id, query_vec).collect()
    spark = queries.sparkSession

    def lut_for(vec) -> list:
        luts = []
        for j, book in enumerate(codebooks):
            start = j * sub
            row = []
            for cw in book:
                acc = 0.0
                for d, w in enumerate(cw):
                    diff = float(vec[start + d]) - w
                    acc = acc + diff * diff  # strictly sequential fold:
                row.append(acc)             # reproducible, engine-free
            luts.append(row)
        return luts

    from pyspark.sql import types as T

    id_type = queries.schema[query_id].dataType
    return local_frame(
        spark, [(r[0], lut_for(r[1])) for r in qrows],
        T.StructType([
            T.StructField(query_id, id_type),
            T.StructField("_lut", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]),
    )


def _adc_total(m: int, code_col: str):
    """Σ_j lut_j[code_j] as an explicit m-term codegen'd expression."""
    code = F.col(code_col)
    lut = F.col("_lut")
    terms = [F.element_at(lut[j], code[j] + 1) for j in range(m)]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total


def topk_ivf_pq(corpus: DataFrame, queries: DataFrame, k: int = 10,
                n_centroids: int = 16, n_probe: int = 4,
                m: int = 8, k_codes: int = 16, iters: int = 3,
                corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                query_id: str = "query_id", query_vec: str = "query_vec",
                centroids=None, codebooks=None,
                max_list_size=None, residual: bool = False) -> DataFrame:
    """IVF-PQ: the Faiss-style billion-vector index layout, composed from
    the two halves this module and ``similarity`` already provide —
    coarse inverted lists bound WHAT is scanned (~n_probe/n_centroids of
    the corpus per query), PQ codes bound what each scanned candidate
    COSTS (m bytes + m LUT lookups, no float vector ever touched).

    Scale shape: centroid training and codebook training are driver-side
    on deterministic samples; assignment and encoding are one broadcast
    scoring pass + one shuffle-free mapInPandas; the query path is an
    equi-join of the (tiny, broadcast) probe×LUT table against the
    encoded corpus partitioned by inverted list — exactly the layout
    where each executor owns whole lists and a query touches ``n_probe``
    of them.

    ``residual=False`` encodes raw vectors: encode needs no centroid
    context and one LUT per query serves every list. ``residual=True``
    is IVFADC proper (Jégou et al. 2011): codes quantize ``x − c(x)``,
    which concentrates the quantized distribution near the origin and
    cuts reconstruction error for the same code budget — at the cost of
    one broadcast centroid join before encode (the residual is a
    zip_with projection, still shuffle-free) and one LUT per
    (query, probed list) driver-side (n_probe × |queries| tables — the
    probe set collects anyway; Faiss makes the same trade).

    Deterministic end to end (farthest-first seeding, md5-free, IEEE
    subtraction), but k-means is iterative — rows-only oracle, like
    ``pq_train`` itself."""
    from .similarity import _centroid_frame, _probe, ivf_assign, train_centroids

    spark = corpus.sparkSession
    base = corpus.select(corpus_id, corpus_vec)
    if centroids is None:
        centroids = train_centroids(base, n_centroids, iters, corpus_id,
                                    corpus_vec, init="farthest")
    cents = _centroid_frame(spark, centroids)
    assigned = ivf_assign(base, cents, corpus_id, corpus_vec, max_list_size)
    if residual:
        # residual anchor = each list's EUCLIDEAN mean, not the cosine
        # centroid (train_centroids normalizes directions — subtracting a
        # unit vector from magnitude-N data leaves the residual
        # magnitude-N and the refinement does nothing). One groupBy over
        # the assignment computes the anchors; x − anchor(x) is then a
        # zip_with projection after a broadcast join — the corpus vectors
        # themselves never shuffle.
        dim_row = queries.select(query_vec).first()
        vdim = len(dim_row[0]) if dim_row else len(centroids[0][1])
        anchors = assigned.groupBy("centroid_id").agg(
            F.array(*[F.avg(F.col(corpus_vec)[d]) for d in range(vdim)])
            .alias("_anchor")
        )
        assigned = assigned.join(F.broadcast(anchors), "centroid_id").select(
            corpus_id, "centroid_id",
            F.zip_with(F.col(corpus_vec), "_anchor",
                       lambda a, b: a - b).alias("_res"),
        )
        enc_vec = "_res"
        if codebooks is None:
            codebooks = pq_train(
                assigned.select(corpus_id, "_res"), m=m, k=k_codes,
                iters=iters, corpus_id=corpus_id, corpus_vec="_res",
            )
    else:
        enc_vec = corpus_vec
        if codebooks is None:
            codebooks = pq_train(base, m=m, k=k_codes, iters=iters,
                                 corpus_id=corpus_id, corpus_vec=corpus_vec)
    encoded = pq_encode(assigned, codebooks, enc_vec).select(
        corpus_id, "centroid_id", "pq_code"
    )
    probes = _probe(queries, cents, n_probe, query_id, query_vec).select(
        query_id, "centroid_id")
    if not residual:
        qluts = _adc_lut_df(queries, codebooks, query_id, query_vec)
        return _adc_score_lists(encoded, probes, qluts, query_id,
                                len(codebooks), k, query_id, corpus_id)
    # one LUT per (query, probed list) over the query RESIDUAL q − a:
    # ADC then approximates ‖(q−a) − (x−a)‖² = ‖q − x‖² list-locally,
    # with a = the probed list's Euclidean-mean anchor
    cmap = {r["centroid_id"]: list(r["_anchor"])
            for r in anchors.collect()}
    prows = probes.collect()
    qvecs = {r[0]: list(r[1]) for r in
             queries.select(query_id, query_vec).collect()}
    from pyspark.sql import types as T

    id_type = queries.schema[query_id].dataType
    qres_rows = []
    for r in prows:
        qv, cv = qvecs[r[0]], cmap[r[1]]
        qres_rows.append((r[0], int(r[1]),
                          [a - b for a, b in zip(qv, cv)]))
    qres = local_frame(
        spark, qres_rows,
        T.StructType([
            T.StructField(query_id, id_type),
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("_qr", T.ArrayType(T.DoubleType())),
        ]),
    )
    # reuse _adc_lut_df per composite key via a synthetic id column
    qres_k = qres.withColumn(
        "_qc", F.concat_ws("#", F.col(query_id).cast("string"),
                           F.col("centroid_id").cast("string"))
    )
    lut_tbl = _adc_lut_df(
        qres_k.select("_qc", "_qr"), codebooks, "_qc", "_qr"
    )
    return _adc_score_lists(
        encoded, qres_k.select(query_id, "centroid_id", "_qc"), lut_tbl,
        "_qc", len(codebooks), k, query_id, corpus_id)


def _adc_score_lists(lists: DataFrame, probes: DataFrame, luts: DataFrame,
                     on: str, m: int, k: int, query_id: str,
                     corpus_id: str) -> DataFrame:
    """ADC top-k over inverted lists: each probe row meets its LUT on
    ``on``, and that (tiny) probe×LUT table broadcasts against the
    ``(corpus_id, centroid_id, pq_code)`` rows, so a query scores only
    the lists it probed — m lookups per candidate, no float vector."""
    probe_luts = probes.join(F.broadcast(luts), on)
    scored = lists.join(F.broadcast(probe_luts), "centroid_id").select(
        F.col(query_id), F.col(corpus_id),
        (-_adc_total(m, "pq_code")).alias("score"),
    )
    return _rank_topk(scored, k, query_id, corpus_id)


def opq_permutation(corpus: DataFrame, m: int = 8,
                    corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                    sample_limit: int = 100_000) -> List[int]:
    """OPQ-style balanced dimension permutation (Ge et al. 2014,
    "Optimized Product Quantization", the non-parametric rotation's cheap
    deterministic cousin — their §4 balanced-partition initialization):
    plain PQ slices dimensions in index order, so when variance is
    concentrated in a few leading dims one subspace carries most of the
    signal and its k codewords saturate. Reordering dimensions so every
    subspace gets a similar share of the total variance spreads the
    quantization budget: sort dims by variance (descending), greedily
    assign each to the subspace with the smallest variance sum.

    Returns a permutation ``perm`` (length dim, subspace-major) to apply
    with :func:`permute_vectors` to BOTH corpus and queries before
    ``pq_train`` / ``pq_encode`` / ``topk_pq_adc``. A permutation is an
    orthogonal rotation PQ distances are exactly invariant under within
    subspaces — unlike a full learned rotation there is nothing to
    invert at query time, and it is deterministic: variances come from
    the same by-id sample discipline as ``pq_train``, summed in fixed
    numpy order."""
    import numpy as np

    pdf = (corpus.select(corpus_id, corpus_vec)
           .orderBy(corpus_id).limit(sample_limit).toPandas())
    mat = np.array(list(pdf[corpus_vec]), dtype=np.float64)
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    per = dim // m
    var = mat.var(axis=0)
    order = sorted(range(dim), key=lambda d: (-var[d], d))
    buckets: List[List[int]] = [[] for _ in range(m)]
    loads = [0.0] * m
    for d in order:
        # smallest current load among buckets with room; ties to lowest idx
        j = min((j for j in range(m) if len(buckets[j]) < per),
                key=lambda j: (loads[j], j))
        buckets[j].append(d)
        loads[j] += float(var[d])
    return [d for b in buckets for d in b]


def permute_vectors(df: DataFrame, perm: List[int],
                    vec_col: str = "embedding") -> DataFrame:
    """Reorder the vector column by ``perm`` (expression-only projection;
    scan-speed, no shuffle). Apply the SAME permutation to corpus and
    queries — L2/cosine are permutation-invariant, so exact operators are
    unaffected and PQ sees the balanced subspaces."""
    v = F.col(vec_col)
    return df.withColumn(
        vec_col, F.array(*[F.element_at(v, i + 1) for i in perm])
    )


def topk_pq_rerank(encoded: DataFrame, codebooks: List[List[List[float]]],
                   queries: DataFrame, corpus: DataFrame, k: int = 10,
                   candidates: int = 100,
                   corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                   code_col: str = "pq_code",
                   query_id: str = "query_id", query_vec: str = "query_vec"
                   ) -> DataFrame:
    """Two-stage PQ serving (the standard production shape): ADC scans
    the m-byte codes to shortlist ``candidates`` ids per query, then
    exact cosine re-ranks ONLY the shortlist against the float vectors.

    The measured motivation (SCALE.md "ANN recall/cost"): ADC recall@10
    is bounded by the code budget (0.23 at m=8,k=16 → 0.64 at m=16,
    k=256 on the sf0.1 embeddings) — no n_probe or training fix changes
    that ceiling; re-ranking restores exactness for whatever the
    shortlist covers at the cost of reading candidates·|queries| float
    vectors instead of the corpus. The re-rank join is a semi-join of
    the corpus against a BROADCAST shortlist (queries are small by the
    ADC contract), so the corpus sees one scan with an in-filter — at
    100 TB the float vectors are touched only for ~candidates rows per
    query."""
    short = topk_pq_adc(encoded, codebooks, queries, k=candidates,
                        corpus_id=corpus_id, code_col=code_col,
                        query_id=query_id, query_vec=query_vec
                        ).select(query_id, corpus_id)
    from .similarity import _rank_topk, cosine_sim

    pairs = short.join(
        F.broadcast(queries.select(query_id, query_vec)), query_id)
    scored = corpus.select(corpus_id, corpus_vec).join(
        F.broadcast(pairs), corpus_id
    ).select(
        F.col(query_id), F.col(corpus_id),
        cosine_sim(F.col(corpus_vec), F.col(query_vec)).alias("score"),
    )
    return _rank_topk(scored, k, query_id, corpus_id)
