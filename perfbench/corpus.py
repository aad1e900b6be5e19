"""Seeded transcript corpus for the benchmark (north-rule schema).

The fixture corpus (``probe_spark.fixtures``) has ~150 index terms, every
one of them hot, so its whole vocabulary fits the local postings cache and
no cache or rare-term effect can show.  This generator keeps the fixture
word pools (so the 23 reference queries still match) and adds:

* a fixed Zipf vocabulary of ``VOCAB_SIZE`` pseudo-words, each kept by the
  tokenizer as exactly one distinct term;
* skewed turn lengths: short chat turns mixed with long tool outputs.

The vocabulary and the multiset of turn lengths are the same for every
seed, so seeds differ in content and order but not in size; the seed
drives every draw.
The number of turns is fixed by the caller, never by the seed, so Spark's
partitioning (and with it the job, stage and task counts) does not move
between seeds.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa

from probe_spark import fixtures
from probe_spark.functions import tokenizer

VOCAB_SIZE = 30_000
ZIPF_S = 1.05
# share of words drawn from the fixture pools instead of the Zipf vocabulary
FIXTURE_SHARE = 0.3
# a "tool output" turn: long, lognormal length; the rest are chat turns
TOOL_TURN_SHARE = 0.15
CHAT_WORDS = (4, 40)
TOOL_WORDS_MEDIAN = 120
TOOL_WORDS_MAX = 1500
TURNS_PER_CONV = (3, 31)
SAMPLE_TURNS = 2000

_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aou"


@functools.lru_cache(maxsize=1)
def vocabulary() -> tuple[str, ...]:
    """``VOCAB_SIZE`` pseudo-words in Zipf rank order, seed-independent.

    Each word is three consonant-vowel syllables; a word is kept only when
    the tokenizer maps it to exactly one token that no earlier word and no
    fixture word produced, so every rank is its own index term."""
    syl = [c + v for c in _CONSONANTS for v in _VOWELS]
    rng = np.random.default_rng(20260101)
    combos = rng.permutation(len(syl) ** 3)
    taken = {
        t
        for pool in fixtures.VOCAB_POOLS
        for w in pool
        for t in tokenizer.tokenize(w)
    }
    out: list[str] = []
    for c in combos:
        w = syl[c // len(syl) ** 2] + syl[(c // len(syl)) % len(syl)] + syl[c % len(syl)]
        toks = tokenizer.tokenize(w)
        if len(toks) != 1 or toks[0] in taken:
            continue
        taken.add(toks[0])
        out.append(w)
        if len(out) == VOCAB_SIZE:
            break
    return tuple(out)


@functools.lru_cache(maxsize=1)
def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S
    return np.cumsum(w / w.sum())


def zipf_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` vocabulary ranks drawn from the Zipf distribution."""
    return np.minimum(
        np.searchsorted(_zipf_cdf(), rng.random(n)), VOCAB_SIZE - 1
    )


@functools.lru_cache(maxsize=1)
def _vocab_array() -> np.ndarray:
    return np.array(vocabulary(), dtype=object)


@functools.lru_cache(maxsize=1)
def _fixture_words() -> tuple[np.ndarray, np.ndarray]:
    words = [w for pool in fixtures.VOCAB_POOLS for w in pool]
    weights = np.concatenate(
        [np.full(len(p), 1.0 / len(p)) for p in fixtures.VOCAB_POOLS]
    )
    return np.array(words, dtype=object), np.cumsum(weights / weights.sum())


def draw_words(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` words drawn as the text draws them: Zipf vocabulary ranks,
    with a ``FIXTURE_SHARE`` of them replaced by fixture-pool words."""
    words = _vocab_array()[zipf_ranks(rng, n)]
    fx_words, fx_cdf = _fixture_words()
    from_fixture = rng.random(n) < FIXTURE_SHARE
    fx_pick = np.minimum(
        np.searchsorted(fx_cdf, rng.random(int(from_fixture.sum()))),
        len(fx_words) - 1,
    )
    words[from_fixture] = fx_words[fx_pick]
    return words


def turn_shapes(n_turns: int) -> tuple[np.ndarray, np.ndarray]:
    """Seed-independent (is_tool, words) per turn: chat lengths cycle
    evenly through ``CHAT_WORDS`` and tool outputs take lognormal
    quantiles, so every seed has the same length multiset and the same
    total text size up to word choice."""
    n_tool = round(TOOL_TURN_SHARE * n_turns)
    q = (np.arange(n_tool) + 0.5) / max(1, n_tool)
    from statistics import NormalDist

    z = np.array([NormalDist().inv_cdf(x) for x in q])
    tool = np.clip(np.exp(np.log(TOOL_WORDS_MEDIAN) + 0.8 * z).astype(np.int64), 40, TOOL_WORDS_MAX)
    span = CHAT_WORDS[1] - CHAT_WORDS[0] + 1
    chat = CHAT_WORDS[0] + np.arange(n_turns - n_tool) % span
    return np.arange(n_turns) < n_tool, np.concatenate([tool, chat])


def generate(n_turns: int, seed: int) -> pa.Table:
    """Exactly ``n_turns`` turns, a pure function of ``(n_turns, seed)``.
    The seed permutes the fixed turn shapes and draws every word."""
    rng = np.random.default_rng(seed)

    is_tool, lengths = turn_shapes(n_turns)
    perm = rng.permutation(n_turns)
    is_tool, lengths = is_tool[perm], lengths[perm]

    words = draw_words(rng, int(lengths.sum()))
    ends = np.cumsum(lengths)
    starts = ends - lengths
    texts = [" ".join(words[s:e]) for s, e in zip(starts, ends)]

    conv_len = rng.integers(TURNS_PER_CONV[0], TURNS_PER_CONV[1] + 1, n_turns)
    conv_ids: list[str] = []
    turn_idxs: list[int] = []
    c = 0
    while len(conv_ids) < n_turns:
        m = min(int(conv_len[c]), n_turns - len(conv_ids))
        conv_ids.extend([f"conv{c:08d}"] * m)
        turn_idxs.extend(range(m))
        c += 1
    turn_arr = np.array(turn_idxs, dtype=np.int32)
    roles = np.array(fixtures.ROLES, dtype=object)[turn_arr % 3]
    roles[is_tool] = "tool"
    tools = np.array(fixtures.TOOLS, dtype=object)[
        rng.integers(1, len(fixtures.TOOLS), n_turns)
    ]
    tools[~is_tool] = ""
    conv_no = np.array([int(x[4:]) for x in conv_ids], dtype=np.int64)
    base = np.datetime64("2026-01-01T00:00:00", "us").astype("int64")
    ts = base + conv_no * 3_600_000_000 + turn_arr.astype(np.int64) * 60_000_000

    return pa.Table.from_pydict(
        {
            "conv_id": pa.array(conv_ids, pa.string()),
            "turn_idx": pa.array(turn_arr, pa.int32()),
            "role": pa.array(roles.tolist(), pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(tools.tolist(), pa.string()),
            "ts": pa.array(ts.view("datetime64[us]"), pa.timestamp("us")),
        },
        schema=fixtures.TRANSCRIPT_SCHEMA,
    )


def write_table(path: str, table: pa.Table, files: int = 4) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )


def write(path: str, n_turns: int, seed: int):
    """Write the corpus of ``(n_turns, seed)`` under directory ``path``.
    Returns the summed UTF-8 bytes of ``text`` and the first
    ``SAMPLE_TURNS`` texts (the tokenizer probe's fixed sample)."""
    import pyarrow.compute as pc

    table = generate(n_turns, seed)
    write_table(path, table)
    text_bytes = int(pc.sum(pc.binary_length(table["text"])).as_py())
    return text_bytes, table["text"].slice(0, SAMPLE_TURNS).to_pylist()
