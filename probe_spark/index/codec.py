"""Delta + varint posting-list codec, numpy-vectorized.

Postings are stored as LEB128-style varints over doc-id deltas (sorted doc
ids -> first id + gaps) plus a parallel varint stream of per-doc lengths
(dl).  Runs inside Arrow-batched UDFs — no per-row Python.

On disk the two streams are the postings/ columns ``docs_bin`` and
``dl_bin``, written zstd without statistics or a dictionary (the write
policy in build.py, ``parquet_write_options``): varints are byte-aligned
but repetitive, which zstd compresses and snappy barely does, and no
reader prunes on a blob.  The only statistics read here are the row-group
``term`` min/max (``PostingsDirectory``); the codec is read per column
chunk, so files of any writer policy decode the same.

The reference has no persistent index (its postings are per-query in-memory
maps, search_runner.rs:1581); the layout here follows the standard
inverted-index literature (north_rule: "posting-list construction, merge,
compression").
"""

from __future__ import annotations

import bisect
import os
import sys
import threading
from collections import OrderedDict
from typing import NamedTuple

import numpy as np

from probe_spark.index.xxhash import spark_bucket

_MASK = np.uint64(0x7F)
_CONT = np.uint64(0x80)

# byte count per value = searchsorted(_VARINT_THRESH, v, 'right') + 1:
# v < 2^7 -> 1 byte, < 2^14 -> 2, ... (ceil(bit_length/7), min 1)
_VARINT_THRESH = (np.uint64(1) << (np.uint64(7) * np.arange(1, 10, dtype=np.uint64)))


def _varint_encode_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode a uint64 array as concatenated LEB128 varints (vectorized).
    Returns (bytes, per-value byte start offsets, length len(values)+1 with
    the total at the end).

    Two structural fast paths (the build's flush is dominated by this
    function, and posting gaps / doc lengths are overwhelmingly 1-byte):
    byte counts come from ONE searchsorted pass instead of a shift loop,
    and the continuation-byte loop runs only over the (typically small)
    subset of multi-byte values instead of masking the full array."""
    n = len(values)
    if n == 0:
        return b"", np.zeros(1, dtype=np.int64)
    v = values if values.dtype == np.uint64 else values.astype(np.uint64)
    nbytes = np.searchsorted(_VARINT_THRESH, v, side="right")
    nbytes += 1
    offsets = np.empty(n + 1, dtype=np.int64)
    offsets[0] = 0
    np.cumsum(nbytes, out=offsets[1:])
    total = int(offsets[-1])
    if total == n:  # every value < 128: the byte stream IS the values
        return v.astype(np.uint8).tobytes(), offsets
    out = np.empty(total, dtype=np.uint8)
    # first byte of every value, continuation bit where more bytes follow
    more = nbytes > 1
    first = v.astype(np.uint8)
    np.bitwise_and(first, 0x7F, out=first)
    first |= more.astype(np.uint8) << 7
    out[offsets[:-1]] = first
    # remaining bytes: iterate byte positions over the multi-byte subset only
    multi = np.flatnonzero(more)
    sv = v[multi] >> np.uint64(7)
    off = offsets[multi] + 1
    nb = nbytes[multi] - 1  # continuation bytes still to write
    for b in range(int(nb.max())):
        if b:
            live = nb > b
            sv = sv[live] >> np.uint64(7)
            off = off[live] + 1
            nb = nb[live]
        byte = sv.astype(np.uint8)
        np.bitwise_and(byte, 0x7F, out=byte)
        byte |= (nb > (b + 1)).astype(np.uint8) << 7
        out[off] = byte
    return out.tobytes(), offsets


def varint_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array as concatenated LEB128 varints (vectorized)."""
    return _varint_encode_offsets(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode concatenated LEB128 varints into a uint64 array (vectorized)."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    if not (raw & 0x80).any():
        # hot-term fast path: dense postings have tiny doc gaps and small
        # dls, so whole segments are often ALL single-byte varints — the
        # values are the bytes themselves (one pass instead of six memory
        # sweeps; the decode is memory-bandwidth-bound at query time)
        return raw.astype(np.uint64)
    is_end = (raw & 0x80) == 0
    # value id of each byte: 0-based index of the varint it belongs to
    ends = np.flatnonzero(is_end)
    n = len(ends)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    pos_in_value = np.arange(len(raw), dtype=np.int64) - np.repeat(
        starts, ends - starts + 1
    )
    contrib = (raw & 0x7F).astype(np.uint64) << (
        pos_in_value.astype(np.uint64) * np.uint64(7)
    )
    return np.add.reduceat(contrib, starts)


def encode_postings(doc_ids: np.ndarray, dls: np.ndarray, block: int = 128):
    """Pack sorted doc ids + doc lengths into
    (docs_bin, dl_bin, block_last, block_min_dl, block_doc_off, block_dl_off).

    Block metadata is a range index: block_last plus the byte offsets let a
    query decode ONLY the blocks overlapping a doc range (each block's delta
    stream is self-contained given the previous block's last doc id — the
    first gap of block 0 is the absolute id, so base 0 works uniformly).
    block_min_dl has no reader; it stays in the layout until the next
    FORMAT_VERSION change.
    """
    order = np.argsort(doc_ids, kind="stable")
    d = doc_ids[order].astype(np.int64)
    l = dls[order].astype(np.int64)
    gaps = np.empty(len(d), dtype=np.uint64)
    gaps[0] = d[0]
    np.subtract(d[1:], d[:-1], out=gaps[1:], casting="unsafe")
    docs_bin, doc_offs = _varint_encode_offsets(gaps)
    dl_bin, dl_offs = _varint_encode_offsets(l.astype(np.uint64))
    n = len(d)
    n_blocks = (n + block - 1) // block
    starts = np.arange(n_blocks, dtype=np.int64) * block
    ends = np.minimum(starts + block, n)
    block_last = d[ends - 1]
    block_min_dl = np.minimum.reduceat(l, starts).astype(np.int32)
    block_doc_off = doc_offs[starts]
    block_dl_off = dl_offs[starts]
    return docs_bin, dl_bin, block_last, block_min_dl, block_doc_off, block_dl_off


def decode_blocks(
    docs_bin: bytes,
    dl_bin: bytes,
    block_last: "list[int] | np.ndarray",
    block_doc_off: "list[int] | np.ndarray",
    block_dl_off: "list[int] | np.ndarray",
    keep: "list[int] | np.ndarray",
):
    """Decode only the selected block indices of a segment.

    Deltas within block i resolve against base = block_last[i-1] (block 0's
    first gap is the absolute doc id, base 0).  Returns (doc_ids, dls)
    concatenated over ``keep`` in ascending block order.
    """
    keep = np.asarray(sorted(keep), dtype=np.int64)
    if len(keep) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    doc_off = np.asarray(block_doc_off, dtype=np.int64)
    dl_off = np.asarray(block_dl_off, dtype=np.int64)
    last = np.asarray(block_last, dtype=np.int64)
    n_blocks = len(last)
    # Consecutive kept blocks share one continuous delta stream (gaps never
    # reset at block boundaries), so a run [s, e) decodes with ONE
    # varint_decode over the whole byte range — when pruning keeps most
    # blocks (single-term queries with narrow dl spread), this turns
    # thousands of tiny decode calls into a handful of big vectorized ones.
    runs: list[tuple[int, int]] = []
    s = int(keep[0])
    prev = s
    for i in keep[1:]:
        i = int(i)
        if i == prev + 1:
            prev = i
            continue
        runs.append((s, prev + 1))
        s = prev = i
    runs.append((s, prev + 1))
    ids_parts = []
    dl_parts = []
    for s, e in runs:
        d_end = doc_off[e] if e < n_blocks else len(docs_bin)
        l_end = dl_off[e] if e < n_blocks else len(dl_bin)
        buf = docs_bin[doc_off[s] : d_end]
        if s == 0 and len(buf):
            # block 0's leading varint is the ABSOLUTE first doc id
            # (multi-byte for any non-tiny corpus) — peel it off so the
            # remaining gaps, which are tiny for dense terms, can take
            # varint_decode's all-single-byte fast path
            first, nb = varint_read_first(buf)
            rest = varint_decode(buf[nb:])
            gaps = np.empty(len(rest) + 1, dtype=np.uint64)
            gaps[0] = first
            gaps[1:] = rest
        else:
            gaps = varint_decode(buf)
        base = last[s - 1] if s > 0 else 0
        ids_parts.append(np.cumsum(gaps.astype(np.int64)) + base)
        dl_parts.append(
            varint_decode(dl_bin[dl_off[s] : l_end]).astype(np.int64)
        )
    return np.concatenate(ids_parts), np.concatenate(dl_parts)


def varint_read_first(buf) -> tuple[int, int]:
    """Parse the leading LEB128 varint of ``buf`` -> (value, byte length)."""
    v = 0
    shift = 0
    i = 0
    while True:
        b = buf[i]
        v |= (b & 0x7F) << shift
        i += 1
        if not (b & 0x80):
            return v, i
        shift += 7


def varint_encode_one(v: int) -> bytes:
    """Encode one non-negative int as a LEB128 varint."""
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            return bytes(out)


class EncodedChunk:
    """One already-encoded posting run of a single term: varint gap stream
    whose FIRST varint is the ABSOLUTE first doc id, a parallel raw-varint
    dl stream, and per-block metadata (exactly what ``encode_postings``
    emits).  The merge composes these by byte splicing — see
    ``split_encoded_chunk`` / ``splice_chunks``."""

    __slots__ = (
        "df", "min_doc", "max_doc", "docs", "dls",
        "block_last", "block_min_dl", "block_doc_off", "block_dl_off",
    )

    def __init__(
        self, df, min_doc, max_doc, docs, dls,
        block_last, block_min_dl, block_doc_off, block_dl_off,
    ):
        self.df = int(df)
        self.min_doc = int(min_doc)
        self.max_doc = int(max_doc)
        self.docs = docs  # bytes-like (memoryview ok)
        self.dls = dls
        self.block_last = np.asarray(block_last, dtype=np.int64)
        self.block_min_dl = np.asarray(block_min_dl, dtype=np.int32)
        self.block_doc_off = np.asarray(block_doc_off, dtype=np.int64)
        self.block_dl_off = np.asarray(block_dl_off, dtype=np.int64)


def split_encoded_chunk(
    c: EncodedChunk, max_seg: int, block: int
) -> list[EncodedChunk]:
    """Split an oversized chunk into <= max_seg pieces at BLOCK boundaries
    without decoding postings: a block's delta stream is self-contained
    given the previous block's last doc (encode_postings invariant), so a
    piece starting at block s only needs its first varint rewritten from
    gap-relative-to-block_last[s-1] to the absolute doc id.  Chunks carry
    uniform ``block``-sized blocks except the tail (the _flush layout), so
    piece sizes are exact from arithmetic.

    A piece holds ``max(1, max_seg // block)`` whole blocks, so the cap has
    a floor of one block: with ``max_seg < block`` a piece holds up to
    ``block`` postings, i.e. at most ``max(max_seg, block)``."""
    if c.df <= max_seg:
        return [c]
    nb = len(c.block_last)
    per = max(1, max_seg // block)  # whole blocks per piece
    docs = memoryview(c.docs)
    dls = memoryview(c.dls)
    out: list[EncodedChunk] = []
    for s in range(0, nb, per):
        e = min(s + per, nb)
        d_lo = int(c.block_doc_off[s])
        d_hi = int(c.block_doc_off[e]) if e < nb else len(docs)
        l_lo = int(c.block_dl_off[s])
        l_hi = int(c.block_dl_off[e]) if e < nb else len(dls)
        piece_docs = docs[d_lo:d_hi]
        doc_off = c.block_doc_off[s:e] - d_lo
        if s == 0:
            first_doc = c.min_doc
            body = piece_docs
        else:
            gap, flen = varint_read_first(piece_docs)
            first_doc = int(c.block_last[s - 1]) + gap
            enc = varint_encode_one(first_doc)
            body = bytes(enc) + bytes(piece_docs[flen:])
            delta = len(enc) - flen
            doc_off = doc_off.copy()
            doc_off[1:] += delta
        df = (e - s - 1) * block + (
            c.df - (nb - 1) * block if e == nb else block
        )
        out.append(
            EncodedChunk(
                df, first_doc, int(c.block_last[e - 1]), body,
                dls[l_lo:l_hi], c.block_last[s:e], c.block_min_dl[s:e],
                doc_off, c.block_dl_off[s:e] - l_lo,
            )
        )
    return out


def splice_chunks(chunks: list[EncodedChunk]) -> EncodedChunk:
    """Merge doc-range-DISJOINT, min_doc-ascending chunks of one term into
    a single segment by byte concatenation: only each non-first chunk's
    leading varint is rewritten (absolute doc id -> gap from the previous
    chunk's last doc).  Postings move once as encoded bytes — no decode,
    no sort, no int64 inflation (the merge phase's former memory-bandwidth
    wall).  The result satisfies every ``encode_postings`` invariant
    except uniform block sizes, which no consumer assumes (decode_blocks
    resolves offsets from per-block last_doc)."""
    if len(chunks) == 1:
        c = chunks[0]
        return EncodedChunk(
            c.df, c.min_doc, c.max_doc, bytes(c.docs), bytes(c.dls),
            c.block_last, c.block_min_dl, c.block_doc_off, c.block_dl_off,
        )
    docs = bytearray()
    dls = bytearray()
    bl: list[np.ndarray] = []
    bm: list[np.ndarray] = []
    bdo: list[np.ndarray] = []
    blo: list[np.ndarray] = []
    df = 0
    prev_last = None
    for c in chunks:
        if prev_last is None:
            doc_base = 0
            docs += c.docs
        else:
            mv = memoryview(c.docs)
            old, flen = varint_read_first(mv)
            enc = varint_encode_one(c.min_doc - prev_last)
            doc_base = len(docs)
            docs += enc
            docs += mv[flen:]
            delta = len(enc) - flen
        off = c.block_doc_off.copy() if prev_last is not None else c.block_doc_off
        if prev_last is not None:
            off[1:] += delta
        bdo.append(off + doc_base)
        blo.append(c.block_dl_off + len(dls))
        dls += c.dls
        bl.append(c.block_last)
        bm.append(c.block_min_dl)
        df += c.df
        prev_last = c.max_doc
    return EncodedChunk(
        df, chunks[0].min_doc, chunks[-1].max_doc, bytes(docs), bytes(dls),
        np.concatenate(bl), np.concatenate(bm),
        np.concatenate(bdo), np.concatenate(blo),
    )


def merge_term_chunks(
    chunks: list[EncodedChunk], max_seg: int, block: int, decode: bool = False
) -> list[EncodedChunk]:
    """One term's chunks (min_doc-ascending) -> its final segments, in
    seg_seq order, each hard-capped at ``max_seg`` postings.

    Doc-range-disjoint chunks are split at block boundaries where one
    exceeds ``max_seg`` and greedily spliced into segments.  Overlapping
    chunk ranges, or ``decode=True`` (partials without block metadata),
    take the decode + sort + re-encode path instead."""
    if decode or any(
        b.min_doc <= a.max_doc for a, b in zip(chunks, chunks[1:])
    ):
        parts = [decode_postings(bytes(c.docs), bytes(c.dls)) for c in chunks]
        d_all = np.concatenate([p[0] for p in parts])
        o = np.argsort(d_all, kind="stable")
        d_all = d_all[o]
        l_all = np.concatenate([p[1] for p in parts])[o]
        out = []
        for s in range(0, len(d_all), max_seg):
            d = d_all[s : s + max_seg]
            l = l_all[s : s + max_seg]
            out.append(
                EncodedChunk(
                    len(d), d[0], d[-1], *encode_postings(d, l, block=block)
                )
            )
        return out
    pieces: list[EncodedChunk] = []
    for c in chunks:
        pieces.extend(split_encoded_chunk(c, max_seg, block))
    out = []
    group: list[EncodedChunk] = []
    gdf = 0
    for c in pieces:
        if group and gdf + c.df > max_seg:
            out.append(splice_chunks(group))
            group, gdf = [], 0
        group.append(c)
        gdf += c.df
    if group:
        out.append(splice_chunks(group))
    return out


class SegmentColumns(NamedTuple):
    """Final segments as columns, one entry per segment (what
    :func:`splice_runs` and :func:`stack_segments` return).  ``docs``/
    ``dls`` are binary arrays and the ``block_*`` fields list arrays (the
    EncodedChunk fields); ``df``/``min_doc``/``max_doc``/``seg_bytes``/
    ``seg_crc`` are int64 numpy arrays (``seg_crc`` is zlib.crc32 of
    ``docs``)."""

    df: np.ndarray
    min_doc: np.ndarray
    max_doc: np.ndarray
    docs: "object"
    dls: "object"
    block_last: "object"
    block_min_dl: "object"
    block_doc_off: "object"
    block_dl_off: "object"
    seg_bytes: np.ndarray
    seg_crc: np.ndarray


def _list_parts(arr) -> tuple[np.ndarray, np.ndarray]:
    """(offsets int64 relative to the first row, values) of a list array."""
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = arr.values.to_numpy(zero_copy_only=False)[offs[0] : offs[-1]]
    return offs - offs[0], vals


def _binary_parts(arr) -> tuple[np.ndarray, np.ndarray]:
    """(offsets int64 relative to the first row, data uint8) of a binary
    array — both zero-copy views of its buffers."""
    o = arr.offset
    offs = np.frombuffer(arr.buffers()[1], np.int32)[o : o + len(arr) + 1]
    offs = offs.astype(np.int64)
    raw = np.frombuffer(arr.buffers()[2], np.uint8)
    return offs - offs[0], raw[offs[0] : offs[-1]]


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + n)`` over (starts, lens) pairs."""
    total = int(lens.sum())
    run0 = np.cumsum(lens) - lens
    return np.repeat(starts - run0, lens) + np.arange(total, dtype=np.int64)


def row_chunks(
    df: np.ndarray,
    min_doc: np.ndarray,
    max_doc: np.ndarray,
    docs,
    dls,
    block_last=None,
    block_min_dl=None,
    block_doc_off=None,
    block_dl_off=None,
) -> list[EncodedChunk]:
    """Rows of chunk columns (numpy scalars, pyarrow binary / list arrays)
    as EncodedChunks over zero-copy slices.  Without block columns
    (legacy partials) the block fields are empty."""
    d_offs, d = _binary_parts(docs)
    l_offs, l = _binary_parts(dls)
    d, l = memoryview(d), memoryview(l)
    cols = (block_last, block_min_dl, block_doc_off, block_dl_off)
    lists = [] if block_last is None else [_list_parts(c) for c in cols]
    none = [np.empty(0, np.int64)] * 4
    return [
        EncodedChunk(
            df[i], min_doc[i], max_doc[i],
            d[d_offs[i] : d_offs[i + 1]], l[l_offs[i] : l_offs[i + 1]],
            *([v[o[i] : o[i + 1]] for o, v in lists] or none),
        )
        for i in range(len(df))
    ]


def stack_segments(segs: list[EncodedChunk]) -> SegmentColumns:
    """Segments built one at a time, as the columns :func:`splice_runs`
    returns."""
    import zlib

    import pyarrow as pa

    docs = [bytes(c.docs) for c in segs]
    dls = [bytes(c.dls) for c in segs]
    return SegmentColumns(
        df=np.array([c.df for c in segs], np.int64),
        min_doc=np.array([c.min_doc for c in segs], np.int64),
        max_doc=np.array([c.max_doc for c in segs], np.int64),
        docs=pa.array(docs, pa.binary()),
        dls=pa.array(dls, pa.binary()),
        block_last=pa.array([c.block_last for c in segs], pa.list_(pa.int64())),
        block_min_dl=pa.array(
            [c.block_min_dl for c in segs], pa.list_(pa.int32())
        ),
        block_doc_off=pa.array(
            [c.block_doc_off for c in segs], pa.list_(pa.int64())
        ),
        block_dl_off=pa.array(
            [c.block_dl_off for c in segs], pa.list_(pa.int64())
        ),
        seg_bytes=np.array([len(a) + len(b) for a, b in zip(docs, dls)], np.int64),
        seg_crc=np.array([zlib.crc32(a) for a in docs], np.int64),
    )


def splice_runs(
    df: np.ndarray,
    min_doc: np.ndarray,
    max_doc: np.ndarray,
    docs,
    dls,
    block_last,
    block_min_dl,
    block_doc_off,
    block_dl_off,
    starts: np.ndarray,
) -> SegmentColumns:
    """:func:`splice_chunks` over many terms at once, a column at a time.

    Rows are encoded chunks (numpy scalars, pyarrow binary / list arrays,
    all in the same row order); rows ``starts[g]:starts[g + 1]`` are the
    doc-range-disjoint, min_doc-ascending chunks of segment ``g``
    (``starts`` ends with the row count; at least one segment).  Segment
    g equals ``splice_chunks`` of its rows, field for field:

      * every non-first chunk's leading varint (its absolute min_doc,
        ``varint_len(min_doc)`` bytes) becomes the gap from the previous
        chunk's max_doc — one vectorized encode for all of them.  The gap
        is never larger than min_doc, so each edit removes 0+ bytes: the
        docs stream is the input stream minus a per-byte keep mask, with
        the new varints written in place;
      * the dl streams and ``block_last``/``block_min_dl`` concatenate
        unchanged, so the segments reuse the input buffers;
      * ``block_doc_off``/``block_dl_off`` shift by each chunk's byte base
        inside its segment, the doc offsets of a chunk's second and later
        blocks also by its leading varint's size change.

    No per-byte index array is built (the mask is one byte per input
    byte); memory stays a small multiple of the input's encoded bytes."""
    import zlib

    import pyarrow as pa

    n = len(df)
    seg_rows = np.diff(starts)
    n_seg = len(seg_rows)
    firsts = starts[:-1]
    d_offs, d_src = _binary_parts(docs)
    l_offs, l_src = _binary_parts(dls)

    # new leading varints of the non-first chunks
    is_first = np.zeros(n, dtype=bool)
    is_first[firsts] = True
    nf = np.flatnonzero(~is_first)
    gaps = min_doc[nf] - max_doc[nf - 1]
    if len(nf) and int(gaps.min()) <= 0:
        raise ValueError("splice_runs: chunk doc ranges overlap")
    enc, enc_offs = _varint_encode_offsets(gaps.astype(np.uint64))
    new_len = np.diff(enc_offs)
    old_len = np.searchsorted(
        _VARINT_THRESH, min_doc[nf].astype(np.uint64), side="right"
    ) + 1
    cut = np.zeros(n, dtype=np.int64)
    cut[nf] = old_len - new_len

    # docs: drop the first cut[k] bytes of every chunk, then overwrite the
    # (now new_len-byte) leading varints
    if cut.any():
        keep = np.ones(len(d_src), dtype=bool)
        keep[_ranges(d_offs[:-1], cut)] = False
        out = d_src[keep]
    else:
        out = d_src.copy()
    out_offs = np.concatenate([[0], np.cumsum(np.diff(d_offs) - cut)])
    out[_ranges(out_offs[nf], new_len)] = np.frombuffer(enc, np.uint8)

    seg_of = np.repeat(np.arange(n_seg), seg_rows)
    doc_base = out_offs[:-1] - out_offs[firsts][seg_of]
    dl_base = l_offs[:-1] - l_offs[firsts][seg_of]

    bo_offs, bdo = _list_parts(block_doc_off)
    lo_offs, bdl = _list_parts(block_dl_off)
    shift = np.repeat(doc_base - cut, np.diff(bo_offs))
    shift[bo_offs[:-1]] += cut  # a chunk's block 0 starts at its base
    new_bdo = bdo.astype(np.int64) + shift
    new_bdl = bdl.astype(np.int64) + np.repeat(dl_base, np.diff(lo_offs))

    seg_doffs = out_offs[starts]
    seg_loffs = l_offs[starts]
    mv = memoryview(out)
    bounds = seg_doffs.tolist()
    seg_crc = np.fromiter(
        (zlib.crc32(mv[a:b]) for a, b in zip(bounds, bounds[1:])),
        dtype=np.int64,
        count=n_seg,
    )

    def _binary(offs, data):
        return pa.BinaryArray.from_buffers(
            pa.binary(), n_seg,
            [None, pa.py_buffer(offs.astype(np.int32)), pa.py_buffer(data)],
        )

    def _lists(offs, values):
        return pa.ListArray.from_arrays(
            pa.array(offs[starts].astype(np.int32)), pa.array(values)
        )

    bl_offs, bl = _list_parts(block_last)
    bm_offs, bm = _list_parts(block_min_dl)
    return SegmentColumns(
        df=np.add.reduceat(df, firsts),
        min_doc=min_doc[firsts],
        max_doc=max_doc[starts[1:] - 1],
        docs=_binary(seg_doffs, out),
        dls=_binary(seg_loffs, l_src),
        block_last=_lists(bl_offs, bl),
        block_min_dl=_lists(bm_offs, bm),
        block_doc_off=_lists(bo_offs, new_bdo),
        block_dl_off=_lists(lo_offs, new_bdl),
        seg_bytes=np.diff(seg_doffs) + np.diff(seg_loffs),
        seg_crc=seg_crc,
    )


def decode_postings(docs_bin: bytes, dl_bin: bytes):
    """Inverse of encode_postings: (doc_ids int64, dls int64)."""
    gaps = varint_decode(docs_bin)
    doc_ids = np.cumsum(gaps.astype(np.int64))
    dls = varint_decode(dl_bin).astype(np.int64)
    return doc_ids, dls


def _row_varints(arr) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every varint of a binary array of blobs in one pass: (values uint64,
    row of each value, rows whose last byte leaves a varint open).  Each
    row's last byte is read as the end of its last value, so no value
    spans two rows, even in a corrupt blob."""
    offs, raw = _binary_parts(arr)
    rows = np.flatnonzero(offs[1:] > offs[:-1])
    last = offs[rows + 1] - 1
    open_rows = np.zeros(len(arr), bool)
    open_rows[rows] = raw[last] >= 0x80
    raw = raw.copy()
    raw[last] &= 0x7F
    ends = np.flatnonzero(raw < 0x80)
    return (
        varint_decode(raw.tobytes()),
        np.searchsorted(offs, ends, "right") - 1,
        open_rows,
    )


def decode_postings_rows(docs_bin, dl_bin):
    """decode_postings over every row of two binary arrays at once, without
    a Python loop per row: (row, doc_ids int64, dls int64) per posting, and
    ``bad``, the rows whose blobs are not a well-formed pair (a varint left
    open, or fewer ids than dls); bad rows contribute no postings."""
    gaps, id_rows, id_open = _row_varints(docs_bin)
    dls, dl_rows, dl_open = _row_varints(dl_bin)
    n_ids = np.bincount(id_rows, minlength=len(docs_bin))
    bad = (
        id_open | dl_open | (n_ids != np.bincount(dl_rows, minlength=len(dl_bin)))
    )
    # per-row cumsum as one cumsum less each row's starting prefix
    at = np.cumsum(gaps.astype(np.int64))
    ids = at - np.repeat(np.r_[0, at][np.cumsum(n_ids) - n_ids], n_ids)
    keep = ~bad[id_rows]
    return id_rows[keep], ids[keep], dls[~bad[dl_rows]].astype(np.int64), bad


class IndexChangedError(RuntimeError):
    """A postings file was rewritten, replaced or removed after a
    :class:`PostingsDirectory` cached its footer (``vacuum``, ``merge``,
    ``compact`` or a rebuild ran under a live searcher)."""


def _identity(st: os.stat_result) -> tuple[int, int, int]:
    return (st.st_size, st.st_mtime_ns, st.st_ino)


# Bound on the bytes of varint-encoded row-group chunks one
# PostingsDirectory keeps resident.  A searcher's decoded cache is
# documented at ~512 MB (512 terms x ~1 MB of int32 ids + dls, 8 B per
# posting); varint-encoded, a posting takes ~2 B, so a quarter of that
# ceiling holds the encoded form of about as many postings.
RESIDENT_BYTES = 128 << 20


class _ResidentChunks:
    """Byte-bounded LRU of row-group column chunks, keyed
    ``(path, row group, column)``.  Threads sharing a directory (the
    engine's query threads) share it, so every access holds the lock."""

    def __init__(self):
        self._lock = threading.Lock()
        self._lru: OrderedDict = OrderedDict()
        self.nbytes = 0

    def get(self, key):
        with self._lock:
            hit = self._lru.get(key)
            if hit is None:
                return None
            self._lru.move_to_end(key)
            return hit[0]

    def put(self, key, value, nbytes: int) -> None:
        """Keep ``value``, evicting least recently used chunks until the
        total fits ``RESIDENT_BYTES``; a chunk larger than the whole
        bound is not kept (its caller still serves it)."""
        budget = RESIDENT_BYTES
        if nbytes > budget:
            return
        with self._lock:
            old = self._lru.pop(key, None)
            if old is not None:
                self.nbytes -= old[1]
            while self._lru and self.nbytes + nbytes > budget:
                self.nbytes -= self._lru.popitem(last=False)[1][1]
            self._lru[key] = (value, nbytes)
            self.nbytes += nbytes


class _TermRows(NamedTuple):
    """One row group's ``term`` chunk and its ``term -> row indices`` map.
    Writers emit a group's rows in term order, so the map is usually the
    sorted term list itself, searched by bisection; a group whose terms
    are out of order keeps an explicit ``term -> rows`` dict instead."""

    chunk: object
    names: list
    scattered: "dict | None"

    @classmethod
    def build(cls, chunk) -> "tuple[_TermRows, int]":
        """The map of ``chunk`` and its size in bytes."""
        # to_numpy().tolist() makes the str objects ~10x faster than
        # to_pylist; sorted() of a sorted list is one linear pass
        names = chunk.to_numpy(zero_copy_only=False).tolist()
        scattered = None
        if names != sorted(names):
            scattered = {}
            for i, t in enumerate(names):
                scattered.setdefault(t, []).append(i)
        # each str object is a header plus about the chunk's data bytes
        # again
        size = (
            2 * chunk.get_total_buffer_size() + sys.getsizeof(names)
            + sys.getsizeof("") * len(names)
        )
        if scattered is not None:
            size += sys.getsizeof(scattered) + sum(
                map(sys.getsizeof, scattered.values())
            ) + sys.getsizeof(2**30) * len(names)
        return cls(chunk, names, scattered), size

    def find(self, terms: set) -> "np.ndarray | None":
        """Ascending row indices of ``terms`` (None when none is here)."""
        if self.scattered is None:
            parts = []
            for t in terms:
                lo = bisect.bisect_left(self.names, t)
                hi = bisect.bisect_right(self.names, t, lo)
                if hi > lo:
                    parts.append(np.arange(lo, hi))
        else:
            parts = [np.array(self.scattered[t]) for t in terms if t in self.scattered]
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else np.sort(np.concatenate(parts))


def _take(chunk, idx: np.ndarray):
    if idx[-1] - idx[0] + 1 == len(idx):  # one run: a zero-copy slice
        return chunk.slice(int(idx[0]), len(idx))
    return chunk.take(idx)


class _PostingsFile:
    """One postings parquet file: its identity when the footer was parsed,
    the footer, and each row group's ``term`` (min, max) — None when the
    row group carries no usable statistics, so it is always read."""

    __slots__ = ("path", "identity", "metadata", "ranges")

    def __init__(self, path: str):
        import pyarrow.parquet as pq

        self.path = path
        with open(path, "rb", buffering=0) as fh:
            self.identity = _identity(os.fstat(fh.fileno()))
            md = pq.ParquetFile(fh).metadata
        self.metadata = md
        ci = next(
            i for i in range(md.num_columns)
            if md.schema.column(i).path == "term"
        )
        self.ranges: list[tuple[str, str] | None] = []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ci).statistics
            ok = (
                st is not None
                and st.has_min_max
                and isinstance(st.min, str)
                and isinstance(st.max, str)
            )
            self.ranges.append((st.min, st.max) if ok else None)

    def read(self, terms: list[str], columns: list[str], resident: _ResidentChunks):
        """``columns`` of the rows whose term is in ``terms``, in row order
        (None when no row matches), consulting only the row groups whose
        statistics admit one of them.  A group's ``term -> rows`` map and
        column chunks come from ``resident``; those not resident are read
        from the file and offered to it.  The file's identity is checked
        against the cached footer's on every call, with ``os.stat`` before
        anything is served and with ``os.fstat`` on the handle before any
        byte is read."""
        try:
            st = os.stat(self.path)
        except FileNotFoundError:
            raise self._changed() from None
        if _identity(st) != self.identity:
            raise self._changed()
        groups = [
            g for g, r in enumerate(self.ranges)
            if r is None or any(r[0] <= t <= r[1] for t in terms)
        ]
        if not groups:
            return None
        import pyarrow as pa
        import pyarrow.parquet as pq

        want = ["term", *(c for c in columns if c != "term")]
        uniq = set(terms)
        picked: dict[str, list] = {c: [] for c in columns}
        fh = pf = None
        try:
            for g in groups:
                got = dict(zip(want, [resident.get((self.path, g, c)) for c in want]))
                if got["term"] is not None and got["term"].find(uniq) is None:
                    continue
                missing = [c for c in want if got[c] is None]
                if missing:
                    if pf is None:
                        fh = self._handle()
                        pf = pq.ParquetFile(fh, metadata=self.metadata)
                    table = pf.read_row_group(g, columns=missing, use_threads=False)
                    for c, col in zip(missing, table.columns):
                        chunk = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
                        if c == "term":
                            got[c], size = _TermRows.build(chunk)
                        else:
                            got[c], size = chunk, chunk.get_total_buffer_size()
                        resident.put((self.path, g, c), got[c], size)
                term = got["term"]
                idx = term.find(uniq)
                if idx is None:
                    continue
                for c in columns:
                    picked[c].append(_take(term.chunk if c == "term" else got[c], idx))
        finally:
            if fh is not None:
                fh.close()
        if not picked[columns[0]]:
            return None
        return pa.Table.from_arrays(
            [pa.chunked_array(picked[c]) for c in columns], names=columns
        )

    def _handle(self):
        """An open handle on the file, checked against the cached
        identity."""
        try:
            fh = open(self.path, "rb", buffering=0)
        except FileNotFoundError:
            raise self._changed() from None
        if _identity(os.fstat(fh.fileno())) != self.identity:
            fh.close()
            raise self._changed()
        return fh

    def _changed(self) -> IndexChangedError:
        return IndexChangedError(
            f"postings file {self.path} changed under the searcher; "
            "open a new searcher (or refresh the engine) on the index"
        )


class PostingsDirectory:
    """Term directory over an index's ``postings/kind=*/bucket=*`` files —
    the one driver-side reader of segment rows (``LocalSearcher``'s
    postings fetch, the engine's raw-word repair ids and its token-segment
    metadata plane).

    Each bucket directory is listed once, on first use, and each file's
    footer is parsed once with its row-group ``term`` statistics.  A term
    lookup then touches only the files of the term's hash bucket and only
    the row groups whose min/max admit the term (the pruning the Spark
    plan gets from the bucket + term filter).  A row group, once read,
    stays resident: its ``term -> row indices`` map and the column chunks
    callers asked for, still varint-encoded, in a byte-bounded LRU
    (``RESIDENT_BYTES``, 128 MB) shared by every thread using the
    directory.  A lookup picks the term's rows from those by index and
    reads from the file only the chunks not resident.

    This is the encoded cache level under ``LocalSearcher``'s decoded one
    (512 terms, ~512 MB at ~1 MB per term): a serving replica's postings
    caches hold ~640 MB at most at that term size.

    The listing is a snapshot: files added later are not seen, and a
    cached file rewritten or removed since raises
    :class:`IndexChangedError` instead of yielding rows, even when its row
    groups are resident.
    """

    def __init__(self, index_path: str, n_buckets: int):
        self.root = os.path.join(index_path.removeprefix("file://"), "postings")
        self.n_buckets = n_buckets
        self._buckets: dict[tuple[str, int], list[_PostingsFile]] = {}
        self._resident = _ResidentChunks()

    def has_kind(self, kind: str) -> bool:
        """True iff ``kind``'s postings are POSIX-visible here."""
        return os.path.isdir(os.path.join(self.root, f"kind={kind}"))

    def _files(self, kind: str, bucket: int) -> list[_PostingsFile]:
        # threads sharing an engine may race a bucket's first listing:
        # each stores a complete list, so the race costs a re-listing only
        files = self._buckets.get((kind, bucket))
        if files is None:
            d = os.path.join(self.root, f"kind={kind}", f"bucket={bucket}")
            names = sorted(os.listdir(d)) if os.path.isdir(d) else []
            files = [
                _PostingsFile(os.path.join(d, fn))
                for fn in names
                if fn.endswith(".parquet")
            ]
            self._buckets[(kind, bucket)] = files
        return files

    def segments(self, kind: str, terms: list[str], columns: list[str]) -> list:
        """Segment rows of ``terms`` as one pyarrow table per file holding
        any: buckets ascending, then file name, then row order."""
        by_bucket: dict[int, list[str]] = {}
        for t in terms:
            by_bucket.setdefault(spark_bucket(t, self.n_buckets), []).append(t)
        out = []
        for bucket, bterms in sorted(by_bucket.items()):
            for f in self._files(kind, bucket):
                table = f.read(bterms, columns, self._resident)
                if table is not None:
                    out.append(table)
        return out

    def postings(self, kind: str, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, dls) of one term, its segments decoded and
        concatenated in ``min_doc`` order."""
        parts: list[tuple[int, np.ndarray, np.ndarray]] = []
        for t in self.segments(kind, [term], ["min_doc", "docs_bin", "dl_bin"]):
            for lo, db, lb in zip(
                t.column("min_doc").to_pylist(),
                t.column("docs_bin").to_pylist(),
                t.column("dl_bin").to_pylist(),
            ):
                parts.append((lo, *decode_postings(db, lb)))
        if not parts:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        parts.sort(key=lambda p: p[0])
        ids = np.concatenate([p[1] for p in parts])
        dls = np.concatenate([p[2] for p in parts])
        # narrow to int32 when every id fits (ids are doc-sorted, so the
        # last element is the max): the per-query concat + unique +
        # searchsorted over these arrays is memory-bandwidth-bound at
        # multi-M-doc corpora — half-width ids move half the bytes.
        # Values are unchanged (exact int conversion; scores stay
        # float64), so rank-identity is unaffected.
        if ids.size and ids[-1] < 2**31 and ids[0] >= -(2**31):
            ids = ids.astype(np.int32)
            dls = dls.astype(np.int32)
        return ids, dls

    def raw_doc_ids(
        self, terms: list[str], max_df: int = 5_000_000
    ) -> "np.ndarray | None":
        """Driver-side decode of the raw-word posting lists for ``terms``:
        sorted unique doc_ids, or None when the caller must use the
        distributed path instead (index not POSIX-visible, or the lists
        exceed ``max_df`` — at 10^12-doc scale an excluded hot word's raw
        postings don't fit on the driver).

        A term's raw postings are a few KB-MB of varint bytes in one
        bucket directory; reading them here costs milliseconds, versus
        ~1.5s of job scheduling + Python-worker overhead for the
        equivalent two-task Spark job."""
        if not self.has_kind("raw"):
            return None
        # cheap cardinality gate before reading any posting bytes
        df = sum(
            sum(t.column("df_seg").to_pylist())
            for t in self.segments("raw", terms, ["df_seg"])
        )
        if df > max_df:
            return None
        parts = [
            decode_postings(buf, b"")[0]
            for t in self.segments("raw", terms, ["docs_bin"])
            for buf in t.column("docs_bin").to_pylist()
        ]
        if not parts:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(parts))

    def tok_segments(self, terms: list[str], columns: list[str]):
        """Token-postings segment rows for ``terms`` — the metadata plane
        of a POSIX-visible index.

        A query's per-term metadata (df_seg, block maxima, segment
        addresses) is KB-MB of columnar data inside the term's single
        hash-bucket directory; reading it here costs milliseconds where
        the equivalent two-task Spark collect pays ~0.3s of job
        scheduling — per COLD query.  The engine falls back to the Spark
        collect when this returns None (index not POSIX-visible), so the
        distributed path remains the at-scale shape for object stores.

        Returns a list of dict rows (name-indexable like Spark Rows), or
        None."""
        if not self.has_kind("tok"):
            return None
        return [
            r for t in self.segments("tok", terms, columns) for r in t.to_pylist()
        ]
