"""Probe-compatible tokenizer (pure Python core + Arrow/pandas batch wrapper).

Reproduces the observable behavior of the reference tokenizer
(`/root/reference/src/search/tokenization.rs:2651-2764` ``tokenize``) including
its default dispatch through the SIMD camel-case splitter
(`src/search/simd_tokenization.rs:120-165`), the compound-word splitter used
for filtering (`tokenization.rs:757-811`), stop-word filtering
(`tokenization.rs:2007-2026`), exception-term preservation
(`src/search/term_exceptions.rs:65-67`), and Snowball English stemming
(`src/ranking.rs:37-40`).

Differences from the reference, by design:
  * The reference's dynamic special-term set is a global mutable
    (`tokenization.rs:839-851`); here it is an explicit per-call argument so
    queries cannot leak state into each other (scoped per query).
  * The decompound-crate fallback (`tokenization.rs:2086-2092`) is replaced by
    a deterministic longest-prefix-first recursive vocabulary split, pinned by
    tests.  The precomputed split tables (which cover the common cases) are
    reproduced verbatim.

Token output contract (the per-row invariant everything else builds on):
order-preserving, first-seen-deduplicated token list per input string; TF is
therefore binary and doc length == number of unique tokens — mirroring the
reference, whose ``tokenize`` dedups via a HashSet (tokenization.rs:2703-2760).

Two entry points keep that contract.  ``tokenize`` is the scalar oracle:
queries, the repair join and the reference-parity tests use it.  The index
build (fused and two-pass alike) uses ``tokenize_arrow``, which tokenizes an
Arrow text batch at a time: Arrow splits and dictionary-encodes the words,
each distinct word's recipe (its tokens and raw special words) is looked up
once in a per-worker word table, and numpy expands the word occurrences to
per-row postings as ids into that table.  Rows with a ``-``-prefixed word
take ``tokenize`` for their tokens.  Parity with ``tokenize`` +
``raw_special_words`` is pinned per row by the tests.
"""

from __future__ import annotations

import re as _re
from functools import lru_cache
from itertools import repeat
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from probe_spark.functions import _tables as T
from probe_spark.functions.porter2 import stem

SIMD_THRESHOLD = 8  # simd_tokenization.rs:57

# ---------------------------------------------------------------------------
# stop words
# ---------------------------------------------------------------------------


def is_english_stop_word(word: str) -> bool:
    """tokenization.rs:2007-2016 — English stop words plus integers 0..10.

    ASCII digits only: the reference's ``parse::<u32>()`` rejects Unicode
    digits (fullwidth '３', Arabic-Indic '٣'), while Python's int() accepts
    them — without the isascii() gate those tokens would be silently
    dropped from the index."""
    if word.isdigit() and word.isascii():
        if int(word) <= 10:
            return True
    return word in T.ENGLISH_STOP_WORDS


def is_stop_word(word: str) -> bool:
    return is_english_stop_word(word) or word in T.PROGRAMMING_STOP_WORDS


def is_exception_term(term: str) -> bool:
    return term.lower() in T.EXCEPTION_TERMS


def is_special_case(word: str, special_terms: frozenset[str] = frozenset()) -> bool:
    """tokenization.rs:1167-1187 — static list + per-query dynamic terms."""
    lower = word.lower()
    return lower in T.SPECIAL_CASE_WORDS or lower in special_terms


# ---------------------------------------------------------------------------
# camelCase splitting — reproduces the *default* dispatch:
# split_camel_case_with_config -> simd_split_camel_case_with_config
# (tokenization.rs:1866-1870, simd_tokenization.rs:120-165)
# ---------------------------------------------------------------------------


def _contains_special_patterns(lowercase: str) -> bool:
    """simd_tokenization.rs:169-196."""
    return any(p in lowercase for p in T.SIMD_SPECIAL_PATTERNS)


def _scalar_split_camel_case(s: str) -> list[str]:
    """simd_tokenization.rs:267-314 — fallback for short / non-ASCII input."""
    if not s:
        return []
    result: list[str] = []
    current: list[str] = []
    prev_was_lower = False
    for ch in s:
        if ch.isupper():
            if current and prev_was_lower:
                result.append("".join(current).lower())
                current = []
            current.append(ch)
            prev_was_lower = False
        elif ch.islower():
            current.append(ch)
            prev_was_lower = True
        elif ch.isascii() and ch.isdigit():
            if current and prev_was_lower:
                result.append("".join(current).lower())
                current = []
            current.append(ch)
            prev_was_lower = False
        else:
            if current:
                result.append("".join(current).lower())
                current = []
            prev_was_lower = False
    if current:
        result.append("".join(current).lower())
    return result if result else [s.lower()]


def _simd_boundary_split(s: str) -> list[str]:
    """simd_tokenization.rs:208-264 — byte-class boundary split (ASCII only)."""
    n = len(s)
    boundaries: list[int] = []
    if n >= 2:
        for i in range(1, n):
            p, c = s[i - 1], s[i]
            p_low, p_up, p_dig = p.islower() and p.isascii(), p.isupper() and p.isascii(), p.isdigit()
            c_low, c_up, c_dig = c.islower() and c.isascii(), c.isupper() and c.isascii(), c.isdigit()
            if (
                (p_low and c_up)
                or ((p_up or p_low) and c_dig)
                or (p_dig and (c_up or c_low))
            ):
                boundaries.append(i)
                continue
            if p_up and c_up and i + 1 < n and s[i + 1].islower() and s[i + 1].isascii():
                boundaries.append(i)
    result: list[str] = []
    start = 0
    for b in boundaries:
        if b > start:
            part = s[start:b]
            if part:
                result.append(part.lower())
        start = b
    if start < n:
        part = s[start:]
        if part:
            result.append(part.lower())
    return result if result else [s.lower()]


# SPECIAL_CASE_WORDS sorted longest-first, as the reference sorts at each call
# (tokenization.rs:1898-1899)
_SPECIAL_SORTED = sorted(T.SPECIAL_CASE_WORDS_ORDERED, key=len, reverse=True)


def _full_split_camel_case(
    s: str, special_terms: frozenset[str] = frozenset()
) -> list[str]:
    """The full scalar implementation (tokenization.rs:1866-2004)."""
    if not s:
        return []

    if is_special_case(s, special_terms):
        return [s.lower()]

    lowercase = s.lower()

    # OAuth2 prefix rule (tokenization.rs:1886-1894)
    if lowercase.startswith("oauth2"):
        remaining = s[6:]
        if remaining:
            return ["oauth2"] + _full_split_camel_case(remaining, special_terms)

    # general special-case prefix handling, longest first (tokenization.rs:1896-1915)
    for sc in _SPECIAL_SORTED:
        if lowercase.startswith(sc):
            remaining = s[len(sc):]
            if remaining:
                return [sc] + _full_split_camel_case(remaining, special_terms)

    # all-lowercase inputs: split on the first embedded exception term
    # (tokenization.rs:1917-1949; EXCEPTION_TERMS iterated in declaration order
    #  — the reference iterates a HashSet, i.e. nondeterministically; we pin
    #  declaration order for reproducibility)
    if s == lowercase and "_" not in s and len(s) > 3:
        for term in T.EXCEPTION_TERMS_ORDERED:
            if term in s and term != s:
                parts = s.split(term)
                if len(parts) > 1:
                    result: list[str] = []
                    for i, part in enumerate(parts):
                        if part:
                            result.append(part)
                        if i < len(parts) - 1:
                            result.append(term)
                    if result:
                        return result

    # state-machine split (tokenization.rs:1951-2003)
    result = []
    current: list[str] = []
    prev_lower = prev_upper = prev_digit = False
    chars = s
    n = len(chars)
    for i, c in enumerate(chars):
        is_up = c.isupper() and c.isascii()
        is_low = c.islower() and c.isascii()
        is_dig = c.isdigit() and c.isascii()
        if current and (
            (prev_lower and is_up)
            or (prev_digit != is_dig)
            or (
                prev_upper
                and is_up
                and i + 1 < n
                and chars[i + 1].islower()
                and chars[i + 1].isascii()
            )
        ):
            result.append("".join(current))
            current = []
        current.append(c)
        prev_lower, prev_upper, prev_digit = is_low, is_up, is_dig
    if current:
        result.append("".join(current))
    return [w.lower() for w in result]


def split_camel_case(s: str, special_terms: frozenset[str] = frozenset()) -> list[str]:
    """Default-path dispatch (simd_tokenization.rs:120-133)."""
    if len(s.encode("utf-8", "surrogatepass")) < SIMD_THRESHOLD or not s.isascii():
        return _scalar_split_camel_case(s)
    if _contains_special_patterns(s.lower()):
        return _full_split_camel_case(s, special_terms)
    return _simd_boundary_split(s)


# ---------------------------------------------------------------------------
# compound-word splitting (filtering path: tokenization.rs:757-811)
# ---------------------------------------------------------------------------


@lru_cache(maxsize=1 << 16)
def _decompound(word: str) -> tuple[str, ...]:
    """Deterministic replacement for the decompound-crate fallback
    (tokenization.rs:792-798): longest-prefix-first recursive split into
    vocabulary words; no split if impossible."""

    def rec(w: str) -> tuple[str, ...] | None:
        if not w:
            return ()
        for i in range(len(w), 0, -1):
            prefix = w[:i]
            if prefix in T.VOCABULARY:
                rest = rec(w[i:])
                if rest is not None:
                    return (prefix,) + rest
        return None

    parts = rec(word.lower())
    if parts is not None and len(parts) >= 2:
        return parts
    return (word,)


def split_compound_word(
    word: str, special_terms: frozenset[str] = frozenset()
) -> list[str]:
    """split_compound_word_cached (tokenization.rs:757-811)."""
    lowercase = word.lower()
    if is_special_case(word, special_terms):
        return [lowercase]
    if is_exception_term(word):
        return [word]
    if lowercase in T.VOCABULARY:
        return [word]
    cached = T.FILTERING_COMPOUND_CACHE.get(lowercase)
    if cached is not None:
        return list(cached)
    cached = T.PRECOMPUTED_COMPOUND_SPLITS.get(lowercase)
    if cached is not None:
        return list(cached)
    return list(_decompound(word))


# ---------------------------------------------------------------------------
# the tokenizer (tokenization.rs:2651-2764)
# ---------------------------------------------------------------------------


_ASCII_ALNUM_RUN = _re.compile(r"[0-9A-Za-z]+")


def _alnum_runs(body: str) -> list[str]:
    """Per-char alnum-run split — the non-ASCII fallback (Python's
    ``str.isalnum`` is Unicode-aware; the regex fast path is ASCII-only)."""
    out: list[str] = []
    current: list[str] = []
    for c in body:
        if c.isalnum():
            current.append(c)
        elif current:
            out.append("".join(current))
            current = []
    if current:
        out.append("".join(current))
    return out


def _split_raw_tokens(text: str) -> tuple[list[str], set[str]]:
    """Whitespace + non-alnum split with leading-``-`` negation
    (tokenization.rs:2665-2701).  Returns (raw_tokens, negated_lowercase).

    Hot path of the index build: a fully-alphanumeric word (the common
    case) skips splitting entirely, an ASCII word with punctuation goes
    through one regex findall, and only non-ASCII words walk the
    char-by-char loop — behavior identical in all three (for ASCII,
    ``isalnum`` is exactly [0-9A-Za-z])."""
    negated: set[str] = set()
    raw_tokens: list[str] = []
    append = raw_tokens.append
    extend = raw_tokens.extend
    for word in text.split():
        if word.isalnum():
            append(word)
            continue
        is_negated = word.startswith("-")
        body = word[1:] if is_negated else word
        if body.isascii():
            toks = _ASCII_ALNUM_RUN.findall(body)
        else:
            toks = _alnum_runs(body)
        if is_negated:
            for tok in toks:
                negated.add(tok.lower())
        extend(toks)
    return raw_tokens, negated


@lru_cache(maxsize=1 << 18)
def _word_candidates(token: str):
    """Per-word emission candidates for the no-special-terms path, memoized.

    The full per-word pipeline (camel split -> stop-word filter -> compound
    split -> stem) is deterministic given an empty special-term set, and
    real text vocabulary is Zipf-distributed, so this cache turns the
    build-side tokenizer's dominant cost into a dict hit.  Stop-word
    filtering is safe to bake in (doc-independent); negation and first-seen
    dedup are applied by the caller (doc-dependent).

    Returns a tuple over surviving camel parts:
      (part_lower, ((comp, stemmed, comp_is_exception), ...))
    """
    out = []
    for part in split_camel_case(token):
        lower = part.lower()
        if is_stop_word(lower):
            continue
        comps = []
        for comp in split_compound_word(lower):
            if is_stop_word(comp):
                continue
            comps.append((comp, stem(comp), is_exception_term(comp)))
        out.append((lower, tuple(comps)))
    return tuple(out)


@lru_cache(maxsize=1 << 16)
def _word_candidates_special(token: str, special_terms: frozenset[str]):
    """_word_candidates for a non-empty special-term set.

    Same Zipf argument: the repair join retokenizes every affected doc with
    the SAME per-query special set, so (word, set) keys repeat massively.
    Kept separate from _word_candidates so the hot build path's cache never
    churns on query-scoped sets."""
    out = []
    for part in split_camel_case(token, special_terms):
        lower = part.lower()
        if is_stop_word(lower):
            continue
        comps = []
        for comp in split_compound_word(lower, special_terms):
            if is_stop_word(comp):
                continue
            comps.append((comp, stem(comp), is_exception_term(comp)))
        out.append((lower, tuple(comps)))
    return tuple(out)


def tokenize(text: str, special_terms: frozenset[str] = frozenset()) -> list[str]:
    """Order-preserving, deduplicated probe-compatible tokens for ``text``.

    ``special_terms``: per-query dynamic special terms (quoted / excluded
    query terms); replaces the reference's global mutable set.  With special
    terms registered the uncached reference-exact path runs; without (the
    index-build hot path) a per-word memo serves the emission candidates —
    both paths emit identical tokens (pinned by the parity tests).
    """
    raw_tokens, negated = _split_raw_tokens(text)

    seen: set[str] = set()
    result: list[str] = []
    if not special_terms:
        if not negated:
            # build hot path: no negated words -> drop the three
            # membership checks per candidate
            add = seen.add
            append = result.append
            for token in raw_tokens:
                for _lower, comps in _word_candidates(token):
                    for comp, stemmed, is_exc in comps:
                        if is_exc and comp not in seen:
                            add(comp)
                            append(comp)
                        if stemmed not in seen:
                            add(stemmed)
                            append(stemmed)
            return result
        for token in raw_tokens:
            for lower, comps in _word_candidates(token):
                if lower in negated:
                    continue
                for comp, stemmed, is_exc in comps:
                    if comp in negated:
                        continue
                    if is_exc and comp not in seen:
                        seen.add(comp)
                        result.append(comp)
                    if stemmed in negated:
                        continue
                    if stemmed not in seen:
                        seen.add(stemmed)
                        result.append(stemmed)
        return result

    for token in raw_tokens:
        for lower, comps in _word_candidates_special(token, special_terms):
            if lower in negated:
                continue
            for comp, stemmed, is_exc in comps:
                if comp in negated:
                    continue
                if is_exc and comp not in seen:
                    seen.add(comp)
                    result.append(comp)
                if stemmed in negated:
                    continue
                if stemmed not in seen:
                    seen.add(stemmed)
                    result.append(stemmed)
    return result


def raw_words(text: str) -> list[str]:
    """Lowercased alphanumeric runs (whitespace + punctuation split), deduped
    order-preserving.  This is the raw-word layer used for exact/excluded
    query terms (reference: quoted terms bypass tokenization,
    elastic_query.rs:768-773)."""
    seen: set[str] = set()
    out: list[str] = []
    for word in text.split():
        current: list[str] = []
        for c in word:
            if c.isalnum():
                current.append(c)
            elif current:
                w = "".join(current).lower()
                if w not in seen:
                    seen.add(w)
                    out.append(w)
                current = []
        if current:
            w = "".join(current).lower()
            if w not in seen:
                seen.add(w)
                out.append(w)
    return out


# ---------------------------------------------------------------------------
# Arrow-batched wrappers (the only entry points Spark jobs use)
# ---------------------------------------------------------------------------


def tokenize_batch(texts, special_terms: frozenset[str] = frozenset()):
    """pandas.Series[str] -> pandas.Series[list[str]] — used inside a
    pandas UDF so tokenization is Arrow-batched, never per-row Python
    round-trips (BASELINE.json input_hint)."""
    return texts.map(lambda t: tokenize(t, special_terms) if t else [])


def raw_words_batch(texts):
    return texts.map(lambda t: raw_words(t) if t else [])


@lru_cache(maxsize=1 << 18)
def is_potential_special(w: str) -> bool:
    """True iff ``w`` could ever be fetched from the raw-word index.

    The query engine consults raw postings only for exact/excluded keywords
    that are *matchable* (probe_spark.query.plan.special_plan): lowercase
    alphanumeric, not a stop word, and stable under their own emission
    (w == stem(w) or an exception term).  Indexing any other raw word is
    wasted space/shuffle — in chat text this filter drops most words (every
    stem-unstable English word).
    """
    if not w or not all(c.isalnum() for c in w):
        return False
    if is_stop_word(w):
        return False
    return stem(w) == w or is_exception_term(w)


@lru_cache(maxsize=1 << 18)
def is_raw_indexable(w: str) -> bool:
    """True iff ``w`` must be stored in the raw-word index.

    Two reasons a query needs the raw postings of ``w``:
      * exact/excluded MATCHING: ``w`` is a matchable special lookup
        (is_potential_special); or
      * REPAIR sourcing: registering ``w`` as a special term changes its
        own tokenization (tokenize(w, {w}) != tokenize(w)) — e.g. a
        compound like 'hashtable' that base-splits to hash+tabl but stays
        whole when special.  The engine finds repair-affected docs through
        the raw index; without this clause those docs are silently never
        retokenized and keep stale tokens/dl.
    """
    if not w or not all(c.isalnum() for c in w):
        return False
    if is_stop_word(w):
        return False
    if stem(w) == w or is_exception_term(w):
        return True
    return tokenize(w, frozenset((w,))) != tokenize(w)


@lru_cache(maxsize=1 << 18)
def _word_special_runs(word: str) -> tuple[str, ...]:
    """Raw-index lookup keys of one whitespace word, memoized (same Zipf
    argument as _word_candidates).

    A per-query special term K changes this word's tokenization only where
    the tokenizer consults the special set, and every such consultation
    argument is one of:

      * the full lowercase alnum run (``is_special_case`` on the whole word
        in _full_split_camel_case / split_compound_word on an unsplit word);
      * a base camel part (``is_special_case`` per part, and
        split_compound_word's special check whose argument is the part) —
        this is the camelCase-fragment case: K = 'hashmap' must credit a doc
        containing 'myHashmapImpl' because G-tokenization keeps the Hashmap
        part whole (tokenization.rs:1167-1187 via 2651-2764);
      * a suffix left after stripping known special-case prefixes
        (oauth2 / _SPECIAL_SORTED recursion in _full_split_camel_case,
        which re-checks the remaining string against the special set).

    Emitting every such candidate (filtered to is_raw_indexable, the same
    predicate the query side applies to its lookup keys) makes the raw
    index a complete affected-doc source: any doc whose tokenization a
    registered special could change has that special among its raw terms.
    """
    out: list[str] = []
    seen: set[str] = set()

    def emit(w: str) -> None:
        if w not in seen and is_raw_indexable(w):
            seen.add(w)
            out.append(w)

    runs = (
        _ASCII_ALNUM_RUN.findall(word)
        if word.isascii()
        else _alnum_runs(word)
    )
    for run in runs:
        lower = run.lower()
        emit(lower)
        parts = split_camel_case(run)
        if len(parts) != 1 or parts[0] != lower:
            for p in parts:
                emit(p)
        rem = lower
        stripped = True
        while stripped:
            stripped = False
            if rem.startswith("oauth2") and len(rem) > 6:
                rem = rem[6:]
                emit(rem)
                stripped = True
                continue
            for sc in _SPECIAL_SORTED:
                if rem.startswith(sc) and len(rem) > len(sc):
                    rem = rem[len(sc):]
                    emit(rem)
                    stripped = True
                    break
    return tuple(out)


def raw_special_words(text: str) -> list[str]:
    """raw_words filtered to potential special-term lookups (build side of
    the raw index).  Dedup is order-preserving first-seen, matching
    raw_words."""
    seen: set[str] = set()
    out: list[str] = []
    for word in text.split():
        for w in _word_special_runs(word):
            if w not in seen:
                seen.add(w)
                out.append(w)
    return out


def raw_special_words_batch(texts):
    return texts.map(lambda t: raw_special_words(t) if t else [])


# ---------------------------------------------------------------------------
# the index build's batch tokenizer
# ---------------------------------------------------------------------------

# Separators of Python's str.split() that Arrow's ascii_split_whitespace
# does not split on (it splits on exactly space, \t, \n, \v, \f and \r;
# pinned against unicodedata by the tokenizer tests).  A row holding one is
# re-joined with single spaces in Python before the Arrow split.
PY_ONLY_WHITESPACE = (
    "\x1c\x1d\x1e\x1f\x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)
_PY_ONLY_WHITESPACE_RE = "[" + PY_ONLY_WHITESPACE + "]"
# words per table before tokenize_arrow starts a new one (real vocabulary
# is Zipf-distributed: the cap bounds a long-lived worker on adversarial
# input and is not reached in practice)
_WORD_TABLE_MAX = 1 << 20


def replace_rows(texts: "pa.Array", mask: "pa.Array", fn) -> "pa.Array":
    """``texts`` with every row where ``mask`` is true replaced by
    ``fn(row)`` (null mask entries count as false)."""
    mask = pc.fill_null(mask, False)
    if not pc.any(mask).as_py():
        return texts
    rows = texts.filter(mask).to_pylist()
    return pc.replace_with_mask(
        texts, mask, pa.array([fn(t) for t in rows], texts.type)
    )


class _WordTable:
    """Per-worker memo of the build tokenizer: word -> recipe.

    A word's recipe is its token sequence (per compound part of each alnum
    run: ``comp`` when it is an exception term, then ``stemmed`` — what
    ``tokenize`` emits for the word before first-seen dedup), its raw runs
    (``_word_special_runs``) and a flag for a leading ``-`` (a possible
    negation, which the token side leaves to ``tokenize``).  Recipes are
    flat arrays: word w's token ids are ``tok_flat[tok_off[w]:tok_off[w +
    1]]``, its raw ids ``raw_flat[raw_off[w]:raw_off[w + 1]]``.  Both kinds
    share one id space over ``strings``.

    A table only grows; when it is full ``tokenize_arrow`` starts a new one,
    so ids a caller still holds keep the meaning this table gave them."""

    def __init__(self) -> None:
        self.word_ids: dict[str, int] = {}
        self.token_ids: dict[str, int] = {}
        self.strings: list[str] = []
        self.tok_off = np.zeros(1, np.int64)
        self.tok_flat = np.zeros(0, np.int32)
        self.raw_off = np.zeros(1, np.int64)
        self.raw_flat = np.zeros(0, np.int32)
        self.neg = np.zeros(0, bool)

    def intern(self, tokens) -> list[int]:
        ids = self.token_ids
        strings = self.strings
        out = []
        for t in tokens:
            i = ids.get(t)
            if i is None:
                i = ids[t] = len(strings)
                strings.append(t)
            out.append(i)
        return out

    def lookup(self, words) -> "np.ndarray":
        """Word ids of the distinct ``words``, adding each new word's
        recipe."""
        wids = np.fromiter(
            map(self.word_ids.get, words, repeat(-1)), np.int64, len(words)
        )
        missing = np.flatnonzero(wids < 0)
        if len(missing):
            new = [words[j] for j in missing.tolist()]
            wids[missing] = self._add(new)
        return wids

    def _add(self, words: list[str]) -> "np.ndarray":
        tok_lens, tok_vals, raw_lens, raw_vals, negs = [], [], [], [], []
        for w in words:
            neg = w[0] == "-"
            seq = []
            if not neg:
                if w.isalnum():
                    runs = (w,)
                elif w.isascii():
                    runs = _ASCII_ALNUM_RUN.findall(w)
                else:
                    runs = _alnum_runs(w)
                for run in runs:
                    for _lower, comps in _word_candidates(run):
                        for comp, stemmed, is_exc in comps:
                            if is_exc:
                                seq.append(comp)
                            seq.append(stemmed)
            t = self.intern(seq)
            r = self.intern(_word_special_runs(w))
            tok_lens.append(len(t))
            tok_vals += t
            raw_lens.append(len(r))
            raw_vals += r
            negs.append(neg)
        base = len(self.word_ids)
        for k, w in enumerate(words):
            self.word_ids[w] = base + k

        def grow(off, flat, lens, vals):
            ends = off[-1] + np.cumsum(np.asarray(lens, np.int64))
            return (
                np.concatenate((off, ends)),
                np.concatenate((flat, np.asarray(vals, np.int32))),
            )

        self.tok_off, self.tok_flat = grow(
            self.tok_off, self.tok_flat, tok_lens, tok_vals
        )
        self.raw_off, self.raw_flat = grow(
            self.raw_off, self.raw_flat, raw_lens, raw_vals
        )
        self.neg = np.concatenate((self.neg, np.asarray(negs, bool)))
        return np.arange(base, base + len(words), dtype=np.int64)

    def take(self, ids: "np.ndarray") -> "pa.Array":
        """The token strings of ``ids`` as an Arrow string array."""
        if not len(ids):
            return pa.array([], pa.string())
        uniq, inv = np.unique(ids, return_inverse=True)
        strings = self.strings
        return pa.array(
            [strings[i] for i in uniq.tolist()], pa.string()
        ).take(pa.array(inv.astype(np.int32)))


# one table per process: Spark reuses a Python worker across tasks and
# builds, so the memo outlives a task, as the lru_caches above do
_TABLE = _WordTable()


class BatchTokens(NamedTuple):
    """Postings of one text batch, as ids into ``table.strings``: each
    row's tokens (``tok_ids[tok_doc == r]``) and raw special words
    (``raw_ids[raw_doc == r]``) in first-seen order, so per row they equal
    ``tokenize(t)`` and ``raw_special_words(t)``; ``dls`` is each row's
    token count."""

    tok_ids: "np.ndarray"
    tok_doc: "np.ndarray"
    raw_ids: "np.ndarray"
    raw_doc: "np.ndarray"
    dls: "np.ndarray"
    table: _WordTable

    def lists(self) -> "tuple[pa.Array, pa.Array]":
        """The ``tokens`` and ``raws`` list<string> columns (an empty list
        for a null or empty text)."""
        n = len(self.dls)
        out = []
        for ids, doc in (
            (self.tok_ids, self.tok_doc),
            (self.raw_ids, self.raw_doc),
        ):
            offs = np.zeros(n + 1, np.int32)
            np.cumsum(np.bincount(doc, minlength=n), out=offs[1:])
            out.append(pa.ListArray.from_arrays(offs, self.table.take(ids)))
        return out[0], out[1]


def _expand(off, flat, occ_wid, occ_doc):
    """Each word occurrence's recipe ids, in occurrence order, with the
    row of the occurrence."""
    starts = off[occ_wid]
    lens = off[occ_wid + 1] - starts
    ends = np.cumsum(lens)
    idx = np.arange(int(ends[-1]) if len(ends) else 0, dtype=np.int64)
    idx += np.repeat(starts - (ends - lens), lens)
    return flat[idx], np.repeat(occ_doc, lens)


def _first_seen(ids, doc, n_ids: int):
    """Drop repeated (doc, id) pairs, keeping each first occurrence in
    place (``pandas.unique`` is hash-based and keeps first-appearance
    order)."""
    import pandas as pd

    key = pd.unique(doc * n_ids + ids)
    return (key % n_ids).astype(np.int32), key // n_ids


def tokenize_arrow(texts: "pa.Array") -> BatchTokens:
    """The index build's tokenizer: postings of a batch of texts.

    Per row equal to ``(tokenize(t), raw_special_words(t))``, order
    included (pinned by the parity tests), but a batch at a time: the texts
    are split into words and dictionary-encoded by Arrow, each distinct
    word's recipe is looked up once in this worker's word table, and the
    word occurrences are expanded to (row, token) pairs and de-duplicated
    per row in numpy.  A row with a ``-``-prefixed word takes ``tokenize``
    for its token side, because a negation also removes tokens of earlier
    words; its raw side ignores negation and stays batched."""
    global _TABLE
    table = _TABLE
    if max(len(table.word_ids), len(table.strings)) >= _WORD_TABLE_MAX:
        table = _TABLE = _WordTable()
    n = len(texts)
    split_texts = replace_rows(
        texts,
        pc.match_substring_regex(texts, _PY_ONLY_WHITESPACE_RE),
        lambda t: " ".join(t.split()),
    )
    per_row = pc.ascii_split_whitespace(split_texts)
    words = pc.list_flatten(per_row)
    occ_doc = pc.list_parent_indices(per_row)
    nonempty = pc.not_equal(pc.binary_length(words), 0)
    words = words.filter(nonempty)
    occ_doc = occ_doc.filter(nonempty).to_numpy().astype(np.int64)
    enc = words.dictionary_encode()
    wids = table.lookup(enc.dictionary.to_numpy(zero_copy_only=False))
    occ_wid = wids[enc.indices.to_numpy(zero_copy_only=False)]

    n_ids = len(table.strings)
    raw_ids, raw_doc = _first_seen(
        *_expand(table.raw_off, table.raw_flat, occ_wid, occ_doc), n_ids
    )
    neg_occ = table.neg[occ_wid]
    if neg_occ.any():
        neg_rows = np.unique(occ_doc[neg_occ])
        keep = ~np.isin(occ_doc, neg_rows)
        occ_wid, occ_doc = occ_wid[keep], occ_doc[keep]
    tok_ids, tok_doc = _first_seen(
        *_expand(table.tok_off, table.tok_flat, occ_wid, occ_doc), n_ids
    )
    if neg_occ.any():
        scalar = [tokenize(t) for t in texts.take(neg_rows).to_pylist()]
        s_ids = np.asarray(
            table.intern(tk for toks in scalar for tk in toks), np.int32
        )
        s_doc = np.repeat(neg_rows, [len(toks) for toks in scalar])
        tok_ids = np.concatenate((tok_ids, s_ids))
        tok_doc = np.concatenate((tok_doc, s_doc))
        order = np.argsort(tok_doc, kind="stable")
        tok_ids, tok_doc = tok_ids[order], tok_doc[order]
    dls = np.bincount(tok_doc, minlength=n).astype(np.int32)
    return BatchTokens(tok_ids, tok_doc, raw_ids, raw_doc, dls, table)
