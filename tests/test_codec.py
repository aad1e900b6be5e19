"""Property tests for the varint/delta posting codec (hypothesis).

Guards in particular the run-grouped decode_blocks (consecutive kept blocks
decode as one varint pass): any keep subset must equal the block-by-block
reference decode, and keep=all must equal decode_postings."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from probe_spark.index.codec import (
    decode_blocks,
    decode_postings,
    decode_postings_rows,
    encode_postings,
    varint_decode,
    varint_encode,
)


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**62 - 1), min_size=1, max_size=300
    )
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.asarray(values, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == values


@st.composite
def _postings(draw):
    n = draw(st.integers(min_value=1, max_value=600))
    gaps = draw(
        st.lists(
            st.integers(min_value=0, max_value=10_000), min_size=n, max_size=n
        )
    )
    ids = np.cumsum(np.asarray(gaps, dtype=np.int64) + 1)  # strictly sorted
    dls = np.asarray(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=5_000),
                min_size=n,
                max_size=n,
            )
        ),
        dtype=np.int64,
    )
    block = draw(st.sampled_from([4, 16, 128]))
    return ids, dls, block


@given(_postings())
@settings(max_examples=100, deadline=None)
def test_encode_decode_postings_roundtrip(p):
    ids, dls, block = p
    docs_bin, dl_bin, *_ = encode_postings(ids, dls, block=block)
    got_ids, got_dls = decode_postings(docs_bin, dl_bin)
    assert got_ids.tolist() == ids.tolist()
    assert got_dls.tolist() == dls.tolist()


@given(
    st.lists(
        st.tuples(_postings(), st.sampled_from(["ok", "open", "extra_dl"])),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=50, deadline=None)
def test_decode_postings_rows_equals_per_row_decode(segs):
    # the batch decoder of verify's dl check: well-formed rows decode as
    # decode_postings does; a varint left open at a row's end or a count
    # mismatch flags that row alone, its neighbours still decode
    import pyarrow as pa

    docs, dls, want = [], [], []
    for (ids, dl, block), fault in segs:
        d, l, *_ = encode_postings(ids, dl, block=block)
        if fault == "open":
            d = d[:-1] + bytes([d[-1] | 0x80])
        elif fault == "extra_dl":
            l += b"\x05"
        docs.append(d)
        dls.append(l)
        want.append(fault == "ok")
    rows, ids, got_dls, bad = decode_postings_rows(
        pa.array(docs, pa.binary()), pa.array(dls, pa.binary())
    )
    assert (~bad).tolist() == want
    for r in range(len(segs)):
        exp = decode_postings(docs[r], dls[r]) if want[r] else ([], [])
        assert ids[rows == r].tolist() == list(exp[0])
        assert got_dls[rows == r].tolist() == list(exp[1])


@given(_postings(), st.data())
@settings(max_examples=100, deadline=None)
def test_decode_blocks_any_subset_matches_reference(p, data):
    ids, dls, block = p
    docs_bin, dl_bin, last, _min_dl, doff, loff = encode_postings(
        ids, dls, block=block
    )
    n_blocks = len(last)
    keep = data.draw(
        st.sets(
            st.integers(min_value=0, max_value=n_blocks - 1),
            min_size=1,
            max_size=n_blocks,
        )
    )
    got_ids, got_dls = decode_blocks(docs_bin, dl_bin, last, doff, loff, keep)
    exp_ids, exp_dls = [], []
    for i in sorted(keep):
        s, e = i * block, min((i + 1) * block, len(ids))
        exp_ids.extend(ids[s:e].tolist())
        exp_dls.extend(dls[s:e].tolist())
    assert got_ids.tolist() == exp_ids
    assert got_dls.tolist() == exp_dls


@given(_postings())
@settings(max_examples=50, deadline=None)
def test_decode_blocks_keep_all_equals_decode_postings(p):
    ids, dls, block = p
    docs_bin, dl_bin, last, _min_dl, doff, loff = encode_postings(
        ids, dls, block=block
    )
    got_ids, got_dls = decode_blocks(
        docs_bin, dl_bin, last, doff, loff, list(range(len(last)))
    )
    assert got_ids.tolist() == ids.tolist()
    assert got_dls.tolist() == dls.tolist()


class TestCodecBlocks:
    """decode_blocks is the doc-range route's range index: a block subset
    must decode exactly those blocks' postings."""

    def test_block_decode_matches_full(self):
        rng = np.random.default_rng(7)
        ids = np.sort(rng.choice(100_000, size=1000, replace=False))
        dls = rng.integers(1, 300, size=1000)
        docs_bin, dl_bin, last, min_dl, doff, loff = encode_postings(
            ids, dls, block=64
        )
        full_ids, full_dls = decode_postings(docs_bin, dl_bin)
        assert np.array_equal(full_ids, ids)
        assert np.array_equal(full_dls, dls)
        n_blocks = len(last)
        all_ids, all_dls = decode_blocks(
            docs_bin, dl_bin, last, doff, loff, list(range(n_blocks))
        )
        assert np.array_equal(all_ids, ids)
        assert np.array_equal(all_dls, dls)
        # arbitrary subset decodes exactly its blocks
        keep = [0, 3, n_blocks - 1]
        sub_ids, sub_dls = decode_blocks(docs_bin, dl_bin, last, doff, loff, keep)
        expect = np.concatenate([ids[i * 64 : (i + 1) * 64] for i in keep])
        expect_dl = np.concatenate([dls[i * 64 : (i + 1) * 64] for i in keep])
        assert np.array_equal(sub_ids, expect)
        assert np.array_equal(sub_dls, expect_dl)

    def test_block_metadata(self):
        ids = np.arange(0, 300, dtype=np.int64)
        dls = np.concatenate(
            [np.full(128, 50), np.full(128, 10), np.full(44, 99)]
        )
        _, _, last, min_dl, doff, loff = encode_postings(ids, dls, block=128)
        assert last.tolist() == [127, 255, 299]
        assert min_dl.tolist() == [50, 10, 99]
        assert doff[0] == 0 and loff[0] == 0


class TestXXH64Vec:
    def test_vec_matches_scalar_all_lengths(self):
        import random

        import numpy as np

        from probe_spark.index.xxhash import xxh64_signed, xxh64_vec

        rng = random.Random(11)
        vals = [
            bytes(rng.randrange(256) for _ in range(n))
            for n in list(range(0, 40)) + [63, 64, 100]
            for _ in range(5)
        ]
        vec = xxh64_vec(vals)
        assert vec.dtype == np.int64
        for i, v in enumerate(vals):
            assert int(vec[i]) == xxh64_signed(v)

    def test_bucket_vec_matches_scalar(self):
        from probe_spark.index.xxhash import spark_bucket, spark_buckets_vec

        terms = ["error", "handl", "", "ветка", "a" * 40, "hash", "15"]
        got = spark_buckets_vec(terms, 32)
        for t, b in zip(terms, got):
            assert spark_bucket(t, 32) == int(b)


# -- splice merge (byte-level chunk concatenation) ---------------------------


@st.composite
def _chunked_postings(draw):
    """Global sorted postings split into disjoint ascending chunks at
    arbitrary boundaries — the level-0 partials shape the splice merge
    consumes."""
    n = draw(st.integers(min_value=2, max_value=800))
    gaps = draw(
        st.lists(
            st.integers(min_value=0, max_value=50_000), min_size=n, max_size=n
        )
    )
    ids = np.cumsum(np.asarray(gaps, dtype=np.int64) + 1)
    dls = np.asarray(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=5_000),
                min_size=n,
                max_size=n,
            )
        ),
        dtype=np.int64,
    )
    n_cuts = draw(st.integers(min_value=0, max_value=min(6, n - 1)))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=n - 1),
                min_size=n_cuts,
                max_size=n_cuts,
                unique=True,
            )
        )
    )
    block = draw(st.sampled_from([4, 16, 128]))
    return ids, dls, cuts, block


def _encode_chunk(ids, dls, block):
    from probe_spark.index.codec import EncodedChunk

    docs_bin, dl_bin, bl, bm, bdo, blo = encode_postings(
        ids, dls, block=block
    )
    return EncodedChunk(
        len(ids), int(ids[0]), int(ids[-1]), docs_bin, dl_bin, bl, bm,
        bdo, blo,
    )


@given(_chunked_postings())
@settings(max_examples=150, deadline=None)
def test_splice_chunks_equals_full_encode_decode(p):
    from probe_spark.index.codec import splice_chunks

    ids, dls, cuts, block = p
    bounds = [0] + cuts + [len(ids)]
    chunks = [
        _encode_chunk(ids[s:e], dls[s:e], block)
        for s, e in zip(bounds, bounds[1:])
    ]
    m = splice_chunks(chunks)
    got_ids, got_dls = decode_postings(m.docs, m.dls)
    assert got_ids.tolist() == ids.tolist()
    assert got_dls.tolist() == dls.tolist()
    assert m.df == len(ids)
    assert m.min_doc == ids[0] and m.max_doc == ids[-1]
    # block metadata stays decode-consistent: every keep subset of the
    # spliced segment matches slicing the plain decode
    n_blocks = len(m.block_last)
    keep = list(range(0, n_blocks, 2))
    kids, kdls = decode_blocks(
        m.docs, m.dls, m.block_last, m.block_doc_off, m.block_dl_off, keep
    )
    # reference: per-block extents from offsets
    starts = np.searchsorted(got_ids, np.concatenate(([ids[0]], m.block_last[:-1] + 1)))
    ends = np.searchsorted(got_ids, m.block_last, side="right")
    want_ids = np.concatenate([got_ids[starts[i]:ends[i]] for i in keep])
    want_dls = np.concatenate([got_dls[starts[i]:ends[i]] for i in keep])
    assert kids.tolist() == want_ids.tolist()
    assert kdls.tolist() == want_dls.tolist()
    # per-block min_dl is exact
    for i in range(n_blocks):
        assert m.block_min_dl[i] == got_dls[starts[i]:ends[i]].min()


@given(_chunked_postings(), st.integers(min_value=1, max_value=12))
@settings(max_examples=150, deadline=None)
def test_split_then_splice_roundtrip(p, blocks_per_piece):
    from probe_spark.index.codec import split_encoded_chunk, splice_chunks

    ids, dls, _cuts, block = p
    c = _encode_chunk(ids, dls, block)
    max_seg = blocks_per_piece * block
    pieces = split_encoded_chunk(c, max_seg, block)
    assert sum(x.df for x in pieces) == len(ids)
    for x in pieces:
        assert x.df <= max(max_seg, block)
        got_ids, got_dls = decode_postings(bytes(x.docs), bytes(x.dls))
        assert got_ids[0] == x.min_doc and got_ids[-1] == x.max_doc
        assert len(got_ids) == x.df
    m = splice_chunks(pieces)
    got_ids, got_dls = decode_postings(m.docs, m.dls)
    assert got_ids.tolist() == ids.tolist()
    assert got_dls.tolist() == dls.tolist()


@given(_postings(), st.integers(min_value=1, max_value=10**11))
@settings(max_examples=150, deadline=None)
def test_leading_varint_shift_offsets_whole_segment(p, off):
    """The shard merge's core byte operation (maintenance.merge_many):
    rewriting ONLY the leading varint of an encoded segment by +off must
    shift every decoded doc id by exactly off, with block doc offsets
    adjusted by the varint length delta and all later blocks decoding
    unchanged."""
    from probe_spark.index.codec import (
        decode_blocks,
        decode_postings,
        varint_encode_one,
        varint_read_first,
    )

    ids, dls, block = p
    docs_bin, dl_bin, bl, bm, bdo, blo = encode_postings(
        ids, dls, block=block
    )
    mv = memoryview(docs_bin)
    first, flen = varint_read_first(mv)
    assert first == ids[0]
    enc = varint_encode_one(first + off)
    shifted = bytes(enc) + bytes(mv[flen:])
    delta = len(enc) - flen
    new_bdo = np.asarray([o + delta if o else 0 for o in bdo], np.int64)

    got_ids, got_dls = decode_postings(shifted, dl_bin)
    np.testing.assert_array_equal(got_ids, ids + off)
    np.testing.assert_array_equal(got_dls, dls)

    # per-block decode (the doc-range path) over the shifted stream: every
    # block subset must reproduce its shifted ids
    nb = len(bl)
    keep = list(range(nb))
    out_ids, out_dls = decode_blocks(
        shifted, dl_bin, np.asarray(bl, np.int64) + off, new_bdo, blo, keep
    )
    np.testing.assert_array_equal(out_ids, ids + off)
    np.testing.assert_array_equal(out_dls, dls)
