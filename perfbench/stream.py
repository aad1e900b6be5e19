"""Seeded query stream for the ``serve`` workload.

The stream is the reference suite (``fixtures.REFERENCE_QUERIES``) with its
words redrawn.  Every block of 23 queries holds each reference query once,
in a seeded order, so the shape mix and the top-k mix are the suite's own:
each shape at its count / 23, k = 10 on 21 of 23 queries, 25 and 15 once.

In each query every word is replaced, and the query's operators,
parentheses, ``+``/``-`` prefixes and quotes are kept:

* a plain word takes a term drawn like a word of the corpus text
  (``corpus.draw_words``), so query terms follow the text's own Zipf law
  and fixture share;
* a camelCase identifier takes an identifier from the fixture pool;
* a quoted or excluded word takes a Zipf vocabulary word only.  A fixture
  compound there (``"airport"``, ``-hashtable``) makes each replica build
  a special-term repair bundle once (0.5-0.9 s, then cached), a cache
  fill that would decide a 10 s window.  The reference queries, which
  have such terms, are checked after the timed loop instead.
"""

from __future__ import annotations

import re

import numpy as np

from probe_spark import fixtures

import corpus

# warm-up queries per replica set-up (fills the per-replica postings caches)
WARM_LEN = 200

_QUOTED = re.compile(r'("[^"]*")')
_WORD = re.compile(r"(-?)\b(\w+)\b")
_OPERATORS = {"AND", "OR"}


def _refill(query: str, plain, vocab_only, ident) -> str:
    """``query`` with every word replaced by a call to the slot's drawer."""

    def word(m: re.Match, quoted: bool) -> str:
        sign, w = m.group(1), m.group(2)
        if w in _OPERATORS and not quoted:
            return m.group(0)
        if quoted or sign:
            return sign + vocab_only()
        if w != w.lower():
            return ident()
        return plain()

    parts = _QUOTED.split(query)
    return "".join(
        _WORD.sub(lambda m, q=(i % 2 == 1): word(m, q), p) for i, p in enumerate(parts)
    )


def generate(n: int, seed: int, salt: int = 0) -> list[tuple[str, int]]:
    """``n`` (query, k) pairs, a pure function of ``(n, seed, salt)``."""
    rng = np.random.default_rng([seed, 7919 + salt])
    vocab = corpus.vocabulary()
    idents = list(fixtures.VOCAB_POOLS[1])
    suite = [(q, k) for _qid, q, k in fixtures.REFERENCE_QUERIES]

    def plain() -> str:
        return str(corpus.draw_words(rng, 1)[0])

    def vocab_only() -> str:
        return vocab[int(corpus.zipf_ranks(rng, 1)[0])]

    def ident() -> str:
        return idents[int(rng.integers(0, len(idents)))]

    out: list[tuple[str, int]] = []
    order: list[int] = []
    for _ in range(n):
        if not order:
            order = list(rng.permutation(len(suite)))
        q, k = suite[order.pop()]
        out.append((_refill(q, plain, vocab_only, ident), k))
    return out
