"""Differential test of the fused merge's column splice.

``build._merge_group`` merges one plan row's level-0 partial shards with
``codec.splice_runs`` (all terms of the group at once) and sends hot,
overlapping and legacy terms through the per-term path.  The reference
here composes ``codec.split_encoded_chunk`` + ``codec.splice_chunks`` per
term (decode + re-encode for overlapping chunk ranges), and the two
segment tables must be equal row for row, bytes and block lists included.
The partial shards come from the real level-0 accumulator (``_PartialAcc``)
with a small flush threshold, so terms have many chunks per shard."""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from probe_spark.index.build import (
    _MERGED_SEG_SCHEMA,
    _PartialAcc,
    _merge_group,
)
from probe_spark.index.codec import (
    EncodedChunk,
    decode_postings,
    encode_postings,
    splice_chunks,
    split_encoded_chunk,
)

BLOCK = 8
VOCAB = [f"w{i:03d}" for i in range(120)] + ["naïve", "z"]
_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.1
_P /= _P.sum()


def _shard(path, ids, seed, flush=150, block=BLOCK):
    """Level-0 partial shard of one pass-B task over ``ids`` (ascending),
    written like the fused build writes one: @stats row dropped."""
    rng = np.random.default_rng(seed)
    batches: list[pa.RecordBatch] = []
    acc = _PartialAcc(flush, batches.append, block_size=block)
    for s in range(0, len(ids), 64):
        b = ids[s : s + 64]
        toks = [
            sorted(set(rng.choice(VOCAB, size=int(rng.integers(1, 14)), p=_P)))
            for _ in b
        ]
        dls = np.asarray([len(t) + int(rng.integers(0, 300)) for t in toks])
        acc.add(b, dls, [("tok", pa.array(toks, pa.list_(pa.string())))])
    acc.finish()
    t = pa.Table.from_batches(batches)
    t = t.filter(pc.not_equal(t.column("kind"), "@stats"))
    pq.write_table(t, path)
    return path


def _tasks(tmp_path, ids, n_tasks, seed=0, **kw):
    """Shards of ``n_tasks`` tasks owning contiguous slices of ``ids``."""
    cuts = np.linspace(0, len(ids), n_tasks + 1).astype(int)
    return [
        _shard(str(tmp_path / f"part-{seed}-{i}.parquet"), ids[a:b], seed + i, **kw)
        for i, (a, b) in enumerate(zip(cuts, cuts[1:]))
    ]


def _chunk(r) -> EncodedChunk:
    return EncodedChunk(
        r["df_part"], r["min_doc"], r["max_doc"], r["docs_bin"], r["dl_bin"],
        r.get("block_last", []), r.get("block_min_dl", []),
        r.get("block_doc_off", []), r.get("block_dl_off", []),
    )


def _reference(files, salt, n_salts, block, max_seg) -> pa.Table:
    """Per-term composition of the codec's chunk primitives."""
    rows = pa.concat_tables([pq.read_table(f) for f in files]).to_pylist()
    by_term: dict[tuple[str, str], list] = {}
    for r in rows:
        by_term.setdefault((r["kind"], r["term"]), []).append(r)
    out = []
    for kind, term in sorted(by_term):
        chunks = [
            _chunk(r)
            for r in sorted(by_term[(kind, term)], key=lambda r: r["min_doc"])
        ]
        legacy = "block_last" not in rows[0]
        if legacy or any(
            b.min_doc <= a.max_doc for a, b in zip(chunks, chunks[1:])
        ):
            parts = [decode_postings(c.docs, c.dls) for c in chunks]
            ids = np.concatenate([p[0] for p in parts])
            dls = np.concatenate([p[1] for p in parts])
            o = np.argsort(ids, kind="stable")
            ids, dls = ids[o], dls[o]
            segs = [
                EncodedChunk(
                    len(ids[s : s + max_seg]), ids[s], ids[s : s + max_seg][-1],
                    *encode_postings(
                        ids[s : s + max_seg], dls[s : s + max_seg], block=block
                    ),
                )
                for s in range(0, len(ids), max_seg)
            ]
        else:
            pieces = [
                p for c in chunks for p in split_encoded_chunk(c, max_seg, block)
            ]
            segs, group = [], []
            for p in pieces:
                if group and sum(g.df for g in group) + p.df > max_seg:
                    segs.append(splice_chunks(group))
                    group = []
                group.append(p)
            segs.append(splice_chunks(group))
        for seq, c in enumerate(segs):
            docs, dls = bytes(c.docs), bytes(c.dls)
            out.append(
                {
                    "kind": kind, "term": term, "salt": salt, "seg_seq": seq,
                    "n_salts": n_salts, "df_seg": c.df, "min_doc": c.min_doc,
                    "max_doc": c.max_doc, "docs_bin": docs, "dl_bin": dls,
                    "block_last_doc": c.block_last.tolist(),
                    "block_min_dl": c.block_min_dl.tolist(),
                    "block_doc_off": c.block_doc_off.tolist(),
                    "block_dl_off": c.block_dl_off.tolist(),
                    "seg_bytes": len(docs) + len(dls),
                    "seg_crc": zlib.crc32(docs),
                }
            )
    return pa.Table.from_pylist(out, schema=_MERGED_SEG_SCHEMA)


def _postings_by_term(files):
    """(kind, term) -> (sorted doc ids, dls) straight from the partials."""
    acc: dict[tuple[str, str], list] = {}
    for r in pa.concat_tables([pq.read_table(f) for f in files]).to_pylist():
        acc.setdefault((r["kind"], r["term"]), []).append(
            decode_postings(r["docs_bin"], r["dl_bin"])
        )
    out = {}
    for key, parts in acc.items():
        ids = np.concatenate([p[0] for p in parts])
        dls = np.concatenate([p[1] for p in parts])
        o = np.argsort(ids, kind="stable")
        out[key] = (ids[o], dls[o])
    return out


def _check(files, max_seg, salt=3, n_salts=5, block=BLOCK):
    got = _merge_group(files, salt, n_salts, block, max_seg)
    want = _reference(files, salt, n_salts, block, max_seg)
    assert got is not None
    assert got.schema.equals(_MERGED_SEG_SCHEMA)
    assert got.num_rows == want.num_rows
    for name in _MERGED_SEG_SCHEMA.names:
        assert got.column(name).to_pylist() == want.column(name).to_pylist(), name
    # and both decode to the partials' postings, segments capped
    decoded: dict[tuple[str, str], list] = {}
    for r in got.to_pylist():
        assert r["df_seg"] <= max_seg
        decoded.setdefault((r["kind"], r["term"]), []).append(
            decode_postings(r["docs_bin"], r["dl_bin"])
        )
    truth = _postings_by_term(files)
    assert decoded.keys() == truth.keys()
    for key, parts in decoded.items():
        assert np.concatenate([p[0] for p in parts]).tolist() == truth[key][0].tolist()
        assert np.concatenate([p[1] for p in parts]).tolist() == truth[key][1].tolist()
    return got


def _ids(n, seed=0, base=0):
    """Ascending doc ids with gaps of 1..~300: multi-byte leading varints
    (and chunk boundaries whose new gap is shorter than the old id)."""
    rng = np.random.default_rng(seed)
    return base + np.cumsum(rng.integers(1, 300, size=n))


def test_many_chunks_per_term(tmp_path):
    files = _tasks(tmp_path, _ids(1500, base=2**21), n_tasks=4)
    got = _check(files, max_seg=1 << 17)
    assert (got.column("seg_seq").to_numpy() == 0).all()
    # the fixture really exercises multi-chunk, multi-block terms
    rows = pa.concat_tables([pq.read_table(f) for f in files])
    assert rows.num_rows > 3 * got.num_rows
    assert max(len(b) for b in got.column("block_last_doc").to_pylist()) > 8


def test_hot_terms_split_at_max_seg_64(tmp_path):
    files = _tasks(tmp_path, _ids(1500, seed=1), n_tasks=3, seed=10)
    got = _check(files, max_seg=64)
    seq = got.column("seg_seq").to_numpy()
    assert seq.max() > 0  # hot terms split ...
    assert (got.column("df_seg").to_numpy() < 64).any()  # ... next to fast ones


def test_overlapping_chunk_ranges(tmp_path):
    ids = _ids(1200, seed=2)
    # two tasks over interleaved ids: every shared term's chunks overlap
    files = [
        _shard(str(tmp_path / "even.parquet"), ids[0::2], 20),
        _shard(str(tmp_path / "odd.parquet"), ids[1::2], 21),
        _shard(str(tmp_path / "tail.parquet"), ids[-1] + _ids(300, seed=3), 22),
    ]
    _check(files, max_seg=1 << 17)
    _check(files, max_seg=64)


def test_one_row_bucket(tmp_path):
    (f,) = _tasks(tmp_path, _ids(400, seed=4), n_tasks=1, seed=30)
    one = str(tmp_path / "one.parquet")
    pq.write_table(pq.read_table(f).slice(0, 1), one)
    got = _check([one], max_seg=1 << 17)
    assert got.num_rows == 1


def test_empty_buckets(tmp_path):
    (f,) = _tasks(tmp_path, _ids(300, seed=5), n_tasks=1, seed=40)
    empty = str(tmp_path / "empty.parquet")
    pq.write_table(pq.read_table(f).slice(0, 0), empty)
    assert _merge_group([empty], 0, 1, BLOCK, 64) is None
    assert _merge_group([empty, empty], 0, 1, BLOCK, 64) is None
    with_empty = _merge_group([empty, f], 0, 1, BLOCK, 64)
    assert with_empty.equals(_merge_group([f], 0, 1, BLOCK, 64))
    _check([empty, f], max_seg=64)


def test_legacy_partials_without_block_columns(tmp_path):
    files = _tasks(tmp_path, _ids(600, seed=6), n_tasks=2, seed=50)
    legacy = []
    for i, f in enumerate(files):
        t = pq.read_table(f)
        p = str(tmp_path / f"legacy-{i}.parquet")
        pq.write_table(
            t.drop(["block_last", "block_min_dl", "block_doc_off", "block_dl_off"]),
            p,
        )
        legacy.append(p)
    _check(legacy, max_seg=64)


def test_max_seg_64_build_verifies(spark, tmp_index_root):
    """A real build with many chunks per term (small level-0 flushes),
    hot terms and multi-group buckets passes ``verify_index``."""
    from probe_spark.fixtures import transcripts_df
    from probe_spark.index.build import BuildConfig, IndexBuilder
    from probe_spark.index.verify import verify_index

    path = f"{tmp_index_root}/idx_merge_splice"
    cfg = BuildConfig(
        n_buckets=8,
        max_postings_per_segment=64,
        merge_group_bytes=4096,
        partial_flush_postings=256,
    )
    IndexBuilder(spark, cfg).build(transcripts_df(spark, 60, 42), path)
    rep = verify_index(spark, path)
    assert rep["ok"], rep
    post = pq.read_table(f"{path}/postings")
    assert pc.max(post.column("seg_seq")).as_py() > 0
    # hot terms split at whole blocks, so the segment cap has a floor of
    # one block: max_seg=64 under 128-posting blocks gives 128-posting
    # segments (BuildConfig.max_postings_per_segment)
    cap = max(cfg.max_postings_per_segment, cfg.block_size)
    assert cfg.block_size > cfg.max_postings_per_segment
    assert pc.max(post.column("df_seg")).as_py() == cap
