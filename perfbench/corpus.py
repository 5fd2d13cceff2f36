"""Seeded markdown corpus, refresh batches and search queries.

Everything the benchmark feeds the program is made here from the workload
seed; the program only ever sees the generated files and query values.
The generator also returns what the correctness checks need to know about
each document (its non-header words in order, its version marker), so the
checks never have to trust the program's own parse.

Make-up of a document (shares are per document, drawn from the seed):

* a ``#`` title, then 2-5 ``##`` sections of 1-4 paragraphs of 20-120
  words; 40% of sections carry a nested ``###`` sub-section;
* 15% are short: a title and one paragraph of 5-20 words;
* 12% hold one paragraph longer than the chunk budget, which the chunker
  must split;
* 20% hold a pipe table of 3 columns and 3-12 data rows;
* words come from a 4,000-word vocabulary drawn Zipf-like (weight
  ``1/rank**1.07``), so BM25 document frequencies span several decades;
  30% of paragraphs carry one sentiment-lexicon word.

Every paragraph starts with the document's version marker ``mkNNNN``
(``mk0000`` for the initial corpus, ``mkCCCC`` after edit commit ``CCCC``),
so a reader can tell which version of a document a chunk came from.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import random
from dataclasses import dataclass, field
from typing import Dict, List

CHUNK_BUDGET = 160  # whitespace tokens per chunk (ChunkerOptions)
VOCAB_SIZE = 4000
ZIPF_S = 1.07
POSITIVE = ("fast", "small", "good", "great", "excellent")
NEGATIVE = ("slow", "big", "bad", "poor", "terrible")

_ONSETS = "b c d f g h j k l m n p r s t v w z".split()
_VOWELS = "a e i o u".split()


def _vocabulary() -> List[str]:
    """Pronounceable, unique, lowercase words (fixed, seed-independent).
    Every word has 3 syllables, so none collides with a lexicon word."""
    sylls = [o + v for o in _ONSETS for v in _VOWELS]
    words = ["".join(p) for p in itertools.product(sylls, repeat=3)]
    return random.Random(0).sample(words, VOCAB_SIZE)


VOCAB = _vocabulary()
_CUM = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(VOCAB_SIZE)))


def marker(version: int) -> str:
    return f"mk{version:04d}"


@dataclass
class Doc:
    name: str          # file name, e.g. doc_00017.md
    text: str          # the markdown written to disk
    words: List[str]   # non-header words in document order (tables row-major)
    marker: str


@dataclass
class Batch:
    """One refresh commit: edits of existing documents plus new ones."""
    commit: int
    edited: List[Doc] = field(default_factory=list)
    new: List[Doc] = field(default_factory=list)

    @property
    def docs(self) -> List[Doc]:
        return self.edited + self.new


def _words(rng: random.Random, n: int) -> List[str]:
    return rng.choices(VOCAB, cum_weights=_CUM, k=n)


def _paragraph(rng: random.Random, n: int, mark: str) -> List[str]:
    words = [mark] + _words(rng, n - 1)
    if rng.random() < 0.3:
        words[rng.randrange(1, len(words))] = rng.choice(POSITIVE + NEGATIVE)
    return words


def _wrap(words: List[str], width: int = 14) -> str:
    return "\n".join(" ".join(words[i:i + width]) for i in range(0, len(words), width))


def make_doc(name: str, seed_key: str, mark: str) -> Doc:
    """One document, a pure function of (seed_key, mark)."""
    rng = random.Random(hashlib.sha256(f"{seed_key}/{mark}".encode()).digest())
    lines: List[str] = [f"# {' '.join(_words(rng, rng.randint(2, 5)))}", ""]
    body: List[str] = []

    def para(n: int) -> None:
        w = _paragraph(rng, n, mark)
        body.extend(w)
        lines.extend([_wrap(w), ""])

    if rng.random() < 0.15:  # short document
        para(rng.randint(5, 20))
        return Doc(name, "\n".join(lines), body, mark)

    n_sections = rng.randint(2, 5)
    long_at = rng.randrange(n_sections) if rng.random() < 0.12 else -1
    table_at = rng.randrange(n_sections) if rng.random() < 0.20 else -1
    for s in range(n_sections):
        lines.extend([f"## {' '.join(_words(rng, rng.randint(1, 4)))}", ""])
        for _ in range(rng.randint(1, 4)):
            para(rng.randint(20, 120))
        if s == long_at:
            para(CHUNK_BUDGET + rng.randint(40, 260))
        if s == table_at:
            rows = [_words(rng, 3) for _ in range(rng.randint(4, 13))]
            lines.append("| " + " | ".join(rows[0]) + " |")
            lines.append("| --- | --- | --- |")
            lines.extend("| " + " | ".join(r) + " |" for r in rows[1:])
            lines.append("")
            body.extend(w for r in rows for w in r)
        if rng.random() < 0.4:
            lines.extend([f"### {' '.join(_words(rng, rng.randint(1, 3)))}", ""])
            for _ in range(rng.randint(1, 2)):
                para(rng.randint(20, 120))
    return Doc(name, "\n".join(lines), body, mark)


def doc_name(i: int) -> str:
    return f"doc_{i:05d}.md"


def make_corpus(seed: int, n_docs: int) -> Dict[str, Doc]:
    return {doc_name(i): make_doc(doc_name(i), f"{seed}/{i}", marker(0))
            for i in range(n_docs)}


def make_batch(seed: int, commit: int, live: List[str], n_edit: int,
               n_new: int, first_new: int) -> Batch:
    """Commit ``commit`` (1-based): ``n_edit`` distinct live documents
    rewritten under the new marker, plus ``n_new`` new documents numbered
    from ``first_new``."""
    rng = random.Random(f"batch/{seed}/{commit}")
    mark = marker(commit)
    edited = [make_doc(n, f"{seed}/{n}", mark) for n in sorted(rng.sample(live, n_edit))]
    new = [make_doc(doc_name(i), f"{seed}/{i}", mark)
           for i in range(first_new, first_new + n_new)]
    return Batch(commit, edited, new)


def write_docs(directory: str, docs) -> None:
    os.makedirs(directory, exist_ok=True)
    for d in docs:
        with open(os.path.join(directory, d.name), "w", encoding="utf-8") as f:
            f.write(d.text)


def query_words(seed: int, i: int) -> List[str]:
    """2-4 distinct vocabulary words, drawn from ranks 20-1500 so some
    queries hit common terms and some rare ones."""
    rng = random.Random(f"query/{seed}/{i}")
    return rng.sample(VOCAB[20:1500], rng.randint(2, 4))


def fetch_ids(seed: int, i: int, names: List[str], n: int = 3) -> List[str]:
    return random.Random(f"fetch/{seed}/{i}").sample(names, n)
