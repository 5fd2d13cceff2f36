"""Independent correctness checks.

Each check recomputes what the program should have produced from the
generated inputs (or from rows collected off the table) with plain Python,
``hashlib``, ``zlib`` and NumPy, or tests a property the method must have.
None of them calls the program. Each returns a list of failure strings;
an empty list means the output is correct. ``test_checks.py`` shows that
every check rejects a corrupted result.
"""

from __future__ import annotations

import hashlib
import math
import re
import zlib
from typing import Callable, Dict, Iterable, List, Sequence, Tuple

import numpy as np

N_BUCKETS = 64
POSITIVE = ("fast", "small", "good", "great", "excellent")
NEGATIVE = ("slow", "big", "bad", "poor", "terrible")
_WS = re.compile(r"\s+")
SCORE_TOL = 1e-9


def _spark_words(text: str) -> List[str]:
    # Spark's split(trim(s), '\s+'): trim strips spaces only, and split
    # keeps a leading empty string when s starts with other whitespace
    return _WS.split(text.strip(" "))


def embedding(text: str, dims: int = 8) -> List[float]:
    """Dimension d = first md5 byte of ``text:d``, scaled by 1/256."""
    return [int(hashlib.md5(f"{text}:{d}".encode()).hexdigest()[:2], 16) / 256.0
            for d in range(dims)]


def summary(text: str) -> str:
    return " ".join(_spark_words(text)[:10])


def sentiment(text: str) -> str:
    words = _spark_words(text)
    pos = sum(w in POSITIVE for w in words)
    neg = sum(w in NEGATIVE for w in words)
    return "Positive" if pos > neg else "Negative" if neg > pos else "Neutral"


def bucket(doc_id: str) -> int:
    return zlib.crc32(doc_id.encode()) % N_BUCKETS


def doc_name(doc_id: str) -> str:
    return doc_id.rsplit("/", 1)[-1]


def _is_subsequence(needle: Sequence[str], hay: Iterable[str]) -> bool:
    it = iter(hay)
    return all(any(w == h for h in it) for w in needle)


# ------------------------------------------------------------------ ingest

def check_rows(rows: List[dict], docs: Dict[str, "object"], budget: int) -> List[str]:
    """Table rows against the generated documents: documentid set, chunk
    budget, word order, embedding, summary, sentiment, bucket."""
    bad: List[str] = []
    by_doc: Dict[str, List[dict]] = {}
    for r in rows:
        by_doc.setdefault(r["documentid"], []).append(r)
    got = {doc_name(d) for d in by_doc}
    if got != set(docs) or len(by_doc) != len(docs):
        bad.append(f"documentid set: {len(got ^ set(docs))} names differ")
    for did, rs in by_doc.items():
        doc = docs.get(doc_name(did))
        rs.sort(key=lambda r: r["key"])
        for r in rs:
            c = r["content"]
            if len(c.split()) > budget:
                bad.append(f"{r['key']}: {len(c.split())} tokens > budget {budget}")
            if not np.array_equal(np.asarray(r["embedding"], np.float32),
                                  np.asarray(embedding(c), np.float32)):
                bad.append(f"{r['key']}: embedding differs from md5 recomputation")
            if r["summary"] != summary(c):
                bad.append(f"{r['key']}: summary differs")
            if r["sentiment"] != sentiment(c):
                bad.append(f"{r['key']}: sentiment differs")
            if r["doc_bucket"] != bucket(did):
                bad.append(f"{r['key']}: doc_bucket {r['doc_bucket']} != crc32 % 64")
        if doc is not None and not _is_subsequence(
                doc.words, (w for r in rs for w in r["content"].split())):
            bad.append(f"{did}: document words missing or out of order in chunks")
    return bad


# ----------------------------------------------------------------- refresh

def markers(rows: Iterable[dict]) -> set:
    return {w for r in rows for w in r["content"].split() if re.fullmatch(r"mk\d{4}", w)}


def check_commit(versions: List[int], lookups: List[Tuple[str, List[dict], List[str]]],
                 ) -> List[str]:
    """``versions``: committed version per op, in order; ``lookups``:
    (expected marker, rows read back for the edited docs, their ids)."""
    bad = [f"version {b} follows {a}" for a, b in zip(versions, versions[1:]) if b != a + 1]
    for mark, rows, ids in lookups:
        if {r["documentid"] for r in rows} != set(ids):
            bad.append(f"{mark}: read-your-write lookup misses edited documents")
        if markers(rows) != {mark}:
            bad.append(f"{mark}: edited documents carry markers {sorted(markers(rows))}")
    return bad


def fingerprint(r: dict) -> str:
    return hashlib.sha256(repr((r["key"], r["content"], r["context"],
                                [float(x) for x in r["embedding"]])).encode()).hexdigest()


def check_untouched(before: List[dict], after: List[dict], touched: set) -> List[str]:
    fb = sorted(fingerprint(r) for r in before if r["documentid"] not in touched)
    fa = sorted(fingerprint(r) for r in after if r["documentid"] not in touched)
    return [] if fb == fa else ["rows of untouched documents changed"]


# ------------------------------------------------------------------ search

def cosine(a: Sequence[float], b: Sequence[float]) -> float:
    """Left-to-right double folds, so near-ties break as they do in any
    IEEE engine that sums in index order."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        x, y = float(x), float(y)
        dot += x * y
        na += x * x
        nb += y * y
    den = math.sqrt(na) * math.sqrt(nb)
    return dot / den if den != 0 else 0.0


def ranked(items: List[Tuple[str, float]], k: int) -> List[Tuple[str, float]]:
    """Top-k by score desc, then id asc."""
    return sorted(items, key=lambda t: (-t[1], t[0]))[:k]


def same_ranking(got: List[Tuple[str, float]], want: List[Tuple[str, float]],
                 what: str) -> List[str]:
    """Equal length, scores equal within SCORE_TOL at every rank, ids equal
    except where the two scores tie within SCORE_TOL."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} results, expected {len(want)}"]
    for i, ((gi, gs), (wi, ws)) in enumerate(zip(got, want)):
        if abs(gs - ws) > SCORE_TOL * max(1.0, abs(ws)):
            return [f"{what}: rank {i + 1} score {gs} != {ws}"]
        if gi != wi and not any(abs(s - gs) <= SCORE_TOL * max(1.0, abs(gs))
                                for x, s in want if x == gi):
            return [f"{what}: rank {i + 1} id {gi} != {wi}"]
    return []


def exact_topk(rows: List[dict], qv: Sequence[float], k: int,
               keep: Callable[[dict], bool]) -> List[Tuple[str, float]]:
    return ranked([(r["key"], cosine(r["embedding"], qv)) for r in rows if keep(r)], k)


def bm25_topk(docs: Dict[str, str], query: str, k: int,
              k1: float = 1.2, b: float = 0.75) -> List[Tuple[str, float]]:
    """Lucene-form BM25 over whitespace tokens, terms summed in sorted order."""
    toks = {d: _spark_words(t) for d, t in docs.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    terms = sorted(set(_spark_words(query)))
    tfs = {d: {} for d in toks}
    for d, ts in toks.items():
        want = set(terms)
        for t in ts:
            if t in want:
                tfs[d][t] = tfs[d].get(t, 0) + 1
    df = {t: sum(t in tf for tf in tfs.values()) for t in terms}
    scores = []
    for d, tf in tfs.items():
        if not tf:
            continue
        s = 0.0
        for t in terms:
            if t in tf:
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                denom = tf[t] + k1 * ((1.0 - b) + b * (len(toks[d]) / avgdl))
                s += idf * ((tf[t] * (k1 + 1.0)) / denom)
        scores.append((d, s))
    return ranked(scores, k)


def nearest_lists(centroids: List[Tuple[int, List[float]]], v: Sequence[float],
                  n: int) -> List[int]:
    return [c for c, _ in sorted(((c, cosine(v, cv)) for c, cv in centroids),
                                 key=lambda t: (-t[1], t[0]))[:n]]


def check_ivf_lists(assign: Dict[str, int], vecs: Dict[str, Sequence[float]],
                    centroids: List[Tuple[int, List[float]]]) -> List[str]:
    """Every vector sits in the list of its nearest centroid."""
    bad = [i for i, c in assign.items() if nearest_lists(centroids, vecs[i], 1)[0] != c]
    missing = set(vecs) - set(assign)
    return ([f"{len(bad)} vectors not in their nearest list"] if bad else []) + \
        ([f"{len(missing)} vectors missing from the index"] if missing else [])


def ivf_topk(assign: Dict[str, int], vecs: Dict[str, Sequence[float]],
             centroids: List[Tuple[int, List[float]]], qv: Sequence[float],
             k: int, n_probe: int) -> List[Tuple[str, float]]:
    probe = set(nearest_lists(centroids, qv, n_probe))
    return ranked([(i, cosine(v, qv)) for i, v in vecs.items() if assign[i] in probe], k)


def rrf(a: List[str], b: List[str], k: int, k0: int = 60) -> List[Tuple[str, float]]:
    score: Dict[str, float] = {}
    for ranking in (a, b):
        for rank, d in enumerate(ranking, 1):
            score[d] = score.get(d, 0.0) + 1.0 / (k0 + rank)
    return ranked(list(score.items()), k)


def check_fetch(got: List[dict], rows: List[dict], ids: List[str]) -> List[str]:
    want = sorted(fingerprint(r) for r in rows if r["documentid"] in set(ids))
    return [] if sorted(fingerprint(r) for r in got) == want else \
        [f"fetch of {len(ids)} documents differs from a filter of the table"]
