"""The fused build core against a per-row reference.

``_FusedCore.process`` tokenizes a batch at a time (``tokenize_arrow``)
and feeds the accumulator through its id-based front end
(``_PartialAcc.add_tokens``).  The reference here tokenizes every row with
the scalar ``tokenize`` + ``raw_special_words`` and feeds the same
accumulator through the Arrow-list front end (``_PartialAcc.add``).  The
flushed partial batches (and their term buckets) and the docs shard must
be equal, so the index bytes do not depend on which front end built them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from probe_spark.fixtures import generate_transcripts
from probe_spark.functions.tokenizer import raw_special_words, tokenize
from probe_spark.index.build import (
    _blank_long_lines,
    _FusedCore,
    _PartialAcc,
)

N_BUCKETS = 8
CHUNK = 512


def _reference(table, flush, blank):
    out = []
    acc = _PartialAcc(
        flush, lambda b, k=None: out.append((b, k)), N_BUCKETS, 128
    )
    docs = []
    next_id = 0
    for rb in table.to_batches(max_chunksize=CHUNK):
        texts = rb.column("text").to_pylist()
        if blank is not None:
            texts = [_blank_long_lines(t, blank) if t else t for t in texts]
        toks = [tokenize(t) if t else [] for t in texts]
        raws = [raw_special_words(t) if t else [] for t in texts]
        ids = np.arange(next_id, next_id + len(texts), dtype=np.int64)
        dls = np.array([len(t) for t in toks], np.int32)
        acc.add(
            ids,
            dls,
            [
                ("tok", pa.array(toks, pa.list_(pa.string()))),
                ("raw", pa.array(raws, pa.list_(pa.string()))),
            ],
        )
        docs.append((ids.tolist(), dls.tolist(), toks, raws))
        next_id += len(texts)
    acc.finish()
    return out, docs


@pytest.mark.parametrize(
    "flush,blank,store_tokens,restart",
    [
        (1 << 20, None, False, False),
        (3000, None, True, False),
        (5000, 400, True, False),
        # a new word table every batch: the accumulator's id maps go stale
        (3000, None, False, True),
    ],
)
def test_fused_core_matches_list_add(
    tmp_path, monkeypatch, flush, blank, store_tokens, restart
):
    from probe_spark.functions import tokenizer

    if restart:
        monkeypatch.setattr(tokenizer, "_WORD_TABLE_MAX", 1)
    table = generate_transcripts(120, 5)
    # nulls, empties, negations and python-only separators ride along
    extra = pa.table(
        {
            name: pa.array(vals, table.schema.field(name).type)
            for name, vals in {
                "conv_id": ["zz1", "zz2", "zz3", "zz4"],
                "turn_idx": [0, 0, 0, 0],
                "role": ["user"] * 4,
                "text": [None, "", "a b -a error", "cache\x85miss　hit"],
                "tool": [None] * 4,
                "ts": [None] * 4,
            }.items()
        },
        schema=table.schema,
    )
    table = pa.concat_tables([table, extra]).combine_chunks()

    core = _FusedCore(
        0, str(tmp_path / "docs"), str(tmp_path / "partials"), flush,
        store_tokens, N_BUCKETS, blank, 128,
    )
    got = []
    core.acc.sink = lambda b, k=None: got.append((b, k))
    core.start_bucket(0, 0)
    for rb in table.to_batches(max_chunksize=CHUNK):
        core.process(rb)
    core.finish()

    want, want_docs = _reference(table, flush, blank)
    # the partial flushes, then the @stats row
    assert len(got) == len(want) >= (2 if flush > 10**5 else 10)
    for (gb, gk), (wb, wk) in zip(got, want):
        assert gb.equals(wb)
        assert (gk is None and wk is None) or np.array_equal(gk, wk)

    docs = pq.read_table(str(tmp_path / "docs"))
    assert docs.column("doc_id").to_pylist() == [
        i for ids, _, _, _ in want_docs for i in ids
    ]
    assert docs.column("dl").to_pylist() == [
        d for _, dls, _, _ in want_docs for d in dls
    ]
    assert docs.column("text").equals(table.column("text"))
    if store_tokens:
        assert docs.column("tokens").to_pylist() == [
            t for _, _, toks, _ in want_docs for t in toks
        ]
        assert docs.column("raws").to_pylist() == [
            r for _, _, _, raws in want_docs for r in raws
        ]
    else:
        assert "tokens" not in docs.column_names
