"""Each correctness check accepts a right answer and rejects a corrupted one.

Run: ``python3 -m pytest perfbench -q`` (no Spark needed).
"""

import json
import os

import pytest

import checks
import corpus
import run

DID = "file:/w/corpus/doc_00000.md"
DID2 = "file:/w/corpus/doc_00001.md"


def row(did, seq, content, **over):
    r = {"documentid": did, "key": f"{did}#{seq:06d}", "content": content,
         "context": "# t", "embedding": checks.embedding(content),
         "summary": checks.summary(content), "sentiment": checks.sentiment(content),
         "doc_bucket": checks.bucket(did)}
    r.update(over)
    return r


def docs():
    return {"doc_00000.md": corpus.Doc("doc_00000.md", "", ["mk0000", "aa", "bb", "good"], "mk0000"),
            "doc_00001.md": corpus.Doc("doc_00001.md", "", ["mk0000", "cc"], "mk0000")}


def good_rows():
    return [row(DID, 0, "# t\nmk0000 aa"), row(DID, 1, "# t\nbb good"),
            row(DID2, 0, "# t\nmk0000 cc")]


def test_ingest_accepts_right_rows():
    assert checks.check_rows(good_rows(), docs(), budget=4) == []


@pytest.mark.parametrize("corrupt", [
    lambda rs: rs[:2],                                                   # a document lost
    lambda rs: rs + [row("file:/w/corpus/doc_00009.md", 0, "# t\nzz")],  # one too many
    lambda rs: [rs[0], row(DID, 1, "# t\nbb"), rs[2]],                   # a word dropped
    lambda rs: [row(DID, 0, "# t\nmk0000 bb"), row(DID, 1, "# t\naa good"), rs[2]],  # reordered
    lambda rs: [row(DID, 0, "# t\nmk0000 aa aa aa"), *rs[1:]],          # over the budget
    lambda rs: [{**rs[0], "embedding": [x + 1 / 256 for x in rs[0]["embedding"]]}, *rs[1:]],
    lambda rs: [{**rs[0], "summary": "mk0000"}, *rs[1:]],
    lambda rs: [rs[0], {**rs[1], "sentiment": "Neutral"}, rs[2]],
    lambda rs: [{**rs[0], "doc_bucket": (rs[0]["doc_bucket"] + 1) % 64}, *rs[1:]],
])
def test_ingest_rejects_corruption(corrupt):
    assert checks.check_rows(corrupt(good_rows()), docs(), budget=4)


def test_summary_and_sentiment_follow_spark_split():
    assert checks.summary("a  b\nc " + " x" * 20) == "a b c x x x x x x x"
    assert checks.sentiment("good bad good") == "Positive"
    assert checks.sentiment("slow") == "Negative"
    assert checks.sentiment("goodness") == "Neutral"


def test_commit_checks():
    rows = [row(DID, 0, "# t\nmk0003 aa")]
    assert checks.check_commit([3, 4, 5], [("mk0003", rows, [DID])]) == []
    assert checks.check_commit([3, 5], [])                                   # version skipped
    assert checks.check_commit([3], [("mk0004", rows, [DID])])               # stale marker
    assert checks.check_commit([3], [("mk0003", rows, [DID, DID2])])         # doc missing
    mixed = rows + [row(DID, 1, "# t\nmk0002 bb")]
    assert checks.check_commit([3], [("mk0003", mixed, [DID])])              # old marker left


def test_untouched_rows():
    before = good_rows()
    assert checks.check_untouched(before, good_rows(), {DID}) == []
    after = good_rows()
    after[2] = row(DID2, 0, "# t\nmk0000 cd")
    assert checks.check_untouched(before, after, {DID})
    assert checks.check_untouched(before, after[:2], {DID})


def vec_rows():
    vs = {"k1": [1, 0, 0], "k2": [0.9, 0.1, 0], "k3": [0, 1, 0], "k4": [0, 0, 1], "k5": [0.5, 0.5, 0]}
    return [{"key": k, "embedding": v, "doc_bucket": i} for i, (k, v) in enumerate(vs.items())]


def test_exact_topk():
    want = checks.exact_topk(vec_rows(), [1, 0, 0], 3, lambda r: True)
    assert [k for k, _ in want] == ["k1", "k2", "k5"]
    assert checks.same_ranking(want, want, "x") == []
    assert checks.same_ranking([want[1], want[0], want[2]], want, "x")        # swapped
    assert checks.same_ranking(want[:2], want, "x")                            # short
    assert checks.same_ranking([want[0], want[1], ("k5", 0.5)], want, "x")     # wrong score
    filt = checks.exact_topk(vec_rows(), [1, 0, 0], 3, lambda r: r["doc_bucket"] > 0)
    assert checks.same_ranking(want, filt, "x")                                # filter ignored


def test_ties_may_swap():
    want = [("a", 1.0), ("b", 1.0), ("c", 0.5)]
    assert checks.same_ranking([("b", 1.0), ("a", 1.0), ("c", 0.5)], want, "x") == []


def test_bm25_matches_hand_computation():
    docs_ = {"d1": "x y", "d2": "x x z z", "d3": "z"}
    n, avgdl = 3, 7 / 3
    idf = lambda df: __import__("math").log(1 + (n - df + 0.5) / (df + 0.5))  # noqa: E731
    s1 = idf(2) * (1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 / avgdl)))
    s2 = idf(2) * (2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 4 / avgdl)))
    got = checks.bm25_topk(docs_, "x", 10)
    assert [d for d, _ in got] == (["d2", "d1"] if s2 > s1 else ["d1", "d2"])
    assert got[0][1] == pytest.approx(max(s1, s2), rel=1e-12)
    corrupted = [(d, s * 1.01) for d, s in got]
    assert checks.same_ranking(corrupted, got, "bm25")


def test_ivf_lists_and_topk():
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])]
    vecs = {r["key"]: r["embedding"] for r in vec_rows()}
    assign = {"k1": 0, "k2": 0, "k3": 1, "k4": 2, "k5": 0}  # k5 ties 0/1: lower id wins
    assert checks.check_ivf_lists(assign, vecs, cents) == []
    assert checks.check_ivf_lists({**assign, "k2": 1}, vecs, cents)
    assert checks.check_ivf_lists({k: v for k, v in assign.items() if k != "k4"}, vecs, cents)
    one = checks.ivf_topk(assign, vecs, cents, [0, 1, 0], 5, 1)
    assert [k for k, _ in one] == ["k3"]                   # only list 1 probed
    two = checks.ivf_topk(assign, vecs, cents, [0, 1, 0], 5, 2)
    assert checks.same_ranking(one, two, "ivf")


def test_rrf():
    fused = checks.rrf(["a", "b", "c"], ["c", "d"], 3)
    assert [d for d, _ in fused] == ["c", "a", "b"]
    assert fused[0][1] == pytest.approx(1 / 63 + 1 / 61)
    assert checks.same_ranking([fused[1], fused[0], fused[2]], fused, "rrf")


def test_fetch():
    rows = good_rows()
    assert checks.check_fetch(rows[:2], rows, [DID]) == []
    assert checks.check_fetch(rows[:1], rows, [DID])
    assert checks.check_fetch(rows, rows, [DID])


def test_corpus_is_seeded():
    a, b = corpus.make_corpus(3, 20), corpus.make_corpus(3, 20)
    assert {n: d.text for n, d in a.items()} == {n: d.text for n, d in b.items()}
    assert a["doc_00001.md"].text != corpus.make_corpus(4, 20)["doc_00001.md"].text
    live = sorted(a)
    e1 = corpus.make_batch(3, 1, live, 5, 2, 20)
    assert all(d.marker == "mk0001" for d in e1.docs)
    assert all(w.split()[0] == "mk0001" for d in e1.docs
               for w in d.text.split("\n\n") if w and w[0].isalpha())


def test_tail_percentile():
    assert run.tail(list(range(39)))[0] == 50.0
    assert run.tail(list(range(40)))[0] == 75.0
    assert run.tail(list(range(100)))[0] == 90.0
    assert run.tail(list(range(1000))) == (99.0, 990)


def test_benchmark_json_matches_run():
    path = os.path.join(run.ROOT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["ingest", "refresh", "search"]
