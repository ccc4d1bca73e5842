"""Seeded book-like corpus for the ``corpus_build`` workload: a folder of
``<id>.txt`` files plus a CSV catalog.

Properties the workload depends on (kept whatever the document count):

* vocabulary of ``VOCAB_TYPES`` letter-only words (so the ``\\p{L}+``
  tokenizer keeps every word whole) drawn with Zipf-Mandelbrot
  frequencies.  A corpus realizes only the types its draws reach: about
  7,100 at 12 documents (18,422 tokens); realizing most of the 10^5 would
  take millions of tokens.  ``vocab_types_used`` in the summary is the
  realized count;
* document lengths log-normal, spanning about 10^2 to 10^4 tokens.  The
  lengths are the ``n_docs`` evenly spaced quantiles of that distribution,
  assigned to documents in a seeded order, so every seed sees the same
  length profile and only the words differ;
* sentences (capitalised first word, commas, full stops) and paragraphs,
  so the text has the punctuation and case a real book has.

The workload is sized by document count only.
"""

from __future__ import annotations

import csv
import math
from pathlib import Path
from statistics import NormalDist

import numpy as np

VOCAB_TYPES = 120_000
ZIPF_S = 1.05
ZIPF_Q = 2.7
LEN_MEDIAN = 1_000
LEN_SIGMA = 1.0  # 1st..99th percentile = about 100..10,000 tokens
LEN_MIN, LEN_MAX = 100, 10_000

# English-like letter frequencies (a..z), for word shapes only.
_LETTER_P = np.array([
    8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.15, 0.77, 4.0, 2.4,
    6.7, 7.5, 1.9, 0.095, 6.0, 6.3, 9.1, 2.8, 0.98, 2.4, 0.15, 2.0, 0.074,
])
_LETTER_P = _LETTER_P / _LETTER_P.sum()
_GENRES = ["fiction", "history", "science", "poetry", "travel", "law",
           "philosophy", "religion", "drama", "biography"]


def vocabulary(rng: np.random.Generator, n_types: int = VOCAB_TYPES) -> np.ndarray:
    """``n_types`` distinct lowercase words, most frequent first; frequent
    ranks get shorter words, as in natural language."""
    words: list[str] = []
    seen: set[str] = set()
    rank = 0
    while len(words) < n_types:
        batch = n_types - len(words) + 1024
        ranks = np.arange(rank, rank + batch)
        mean_len = 2.0 + 1.6 * np.log10(ranks + 10.0)
        lengths = np.clip(rng.poisson(mean_len), 1, 18)
        letters = rng.choice(26, size=int(lengths.sum()), p=_LETTER_P) + ord("a")
        chars = letters.astype(np.uint8).tobytes().decode("ascii")
        pos = 0
        for n in lengths:
            w = chars[pos:pos + n]
            pos += n
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n_types:
                    break
        rank += batch
    return np.array(words, dtype=object)


def doc_lengths(n_docs: int) -> np.ndarray:
    """The ``n_docs`` mid-quantiles of the log-normal length distribution."""
    nd = NormalDist(math.log(LEN_MEDIAN), LEN_SIGMA)
    qs = [math.exp(nd.inv_cdf((i + 0.5) / n_docs)) for i in range(n_docs)]
    return np.clip(np.rint(qs), LEN_MIN, LEN_MAX).astype(np.int64)


def _render(rng: np.random.Generator, tokens: list[str]) -> str:
    """Join words into sentences and paragraphs."""
    out: list[str] = []
    i, n = 0, len(tokens)
    sent_in_para = 0
    while i < n:
        k = min(n - i, int(rng.integers(6, 28)))
        sent = tokens[i:i + k]
        sent[0] = sent[0].capitalize()
        if k > 8 and rng.random() < 0.5:
            c = int(rng.integers(3, k - 3))
            sent[c] = sent[c] + ","
        out.append(" ".join(sent) + ".")
        i += k
        sent_in_para += 1
        if sent_in_para >= int(rng.integers(3, 9)):
            out.append("\n\n")
            sent_in_para = 0
        else:
            out.append(" ")
    return "".join(out).strip() + "\n"


def generate(out_dir: Path, n_docs: int, seed: int) -> dict:
    """Write ``texts/<id>.txt`` and ``catalog.csv`` under ``out_dir``;
    return a summary of what was written."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = (ranks + ZIPF_Q) ** -ZIPF_S
    cdf = np.cumsum(p / p.sum())
    lengths = rng.permutation(doc_lengths(n_docs))

    texts = out_dir / "texts"
    texts.mkdir(parents=True, exist_ok=True)
    rows = []
    drawn = np.zeros(len(vocab), dtype=bool)
    for i, n in enumerate(lengths):
        idx = np.searchsorted(cdf, rng.random(int(n)), side="right")
        idx = np.minimum(idx, len(vocab) - 1)
        drawn[idx] = True
        doc_id = f"book{i:05d}"
        (texts / f"{doc_id}.txt").write_text(
            _render(rng, list(vocab[idx])), encoding="utf-8")
        rows.append({
            "@id": doc_id,
            "title": " ".join(w.capitalize() for w in rng.choice(vocab[:5000], 3)),
            "author": f"Author {int(rng.integers(0, max(2, n_docs // 3))):04d}",
            "year": int(rng.integers(1750, 2000)),
            "published": f"{int(rng.integers(1750, 2000))}-"
                         f"{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}",
            "genre": _GENRES[int(rng.integers(0, len(_GENRES)))],
            "pages": int(n // 250 + rng.integers(1, 40)),
            "rating": round(float(rng.uniform(1, 5)), 2),
        })
    with open(out_dir / "catalog.csv", "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0]))
        w.writeheader()
        w.writerows(rows)
    return {
        "docs": int(n_docs),
        "tokens": int(lengths.sum()),
        "min_len": int(lengths.min()),
        "max_len": int(lengths.max()),
        "vocab_types": int(len(vocab)),
        "vocab_types_used": int(drawn.sum()),
    }
