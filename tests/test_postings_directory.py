"""The postings term directory (index/codec.PostingsDirectory) against a
``pyarrow.dataset`` term-filter read of the same bucket files — the read
every driver-side caller used before the directory existed.  Segment
rows must match column for column and in order, on the fixture index, a
multi-file (streamed) bucket, footers with small row groups, footers
written without statistics, absent terms and row-group boundary terms.
A postings file rewritten under a live searcher must raise, never yield
rows.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from probe_spark.fixtures import transcripts_df, transcripts_rows
from probe_spark.index.codec import (
    IndexChangedError,
    PostingsDirectory,
    decode_postings,
)
from probe_spark.index.xxhash import spark_bucket

N_BUCKETS = 8
ABSENT = ["zzznothing", "qqqabsent", "a"]


def _bucket_files(index: str, kind: str, bucket: int) -> list[str]:
    d = os.path.join(index, "postings", f"kind={kind}", f"bucket={bucket}")
    if not os.path.isdir(d):
        return []
    return [
        os.path.join(d, fn) for fn in sorted(os.listdir(d))
        if fn.endswith(".parquet")
    ]


def _all_files(index: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(os.path.join(index, "postings")):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def _dataset_rows(index, n_buckets, kind, terms, columns) -> list[dict]:
    """Reference: one filtered ``pyarrow.dataset`` scan per bucket."""
    import pyarrow.dataset as ds

    by_bucket: dict[int, list[str]] = {}
    for t in terms:
        by_bucket.setdefault(spark_bucket(t, n_buckets), []).append(t)
    rows: list[dict] = []
    for bucket, bterms in sorted(by_bucket.items()):
        files = _bucket_files(index, kind, bucket)
        if files:
            rows += ds.dataset(files, format="parquet").to_table(
                columns=columns, filter=ds.field("term").isin(bterms)
            ).to_pylist()
    return rows


def _dir_rows(pdir, kind, terms, columns) -> list[dict]:
    return [r for t in pdir.segments(kind, terms, columns) for r in t.to_pylist()]


def _reference_postings(index, n_buckets, kind, term):
    """The decoded-postings read as the local searcher did it: dataset
    filter, decode, sort segments by min_doc, int32 narrowing."""
    rows = _dataset_rows(
        index, n_buckets, kind, [term], ["min_doc", "docs_bin", "dl_bin"]
    )
    parts = sorted(
        ((r["min_doc"], *decode_postings(r["docs_bin"], r["dl_bin"])) for r in rows),
        key=lambda p: p[0],
    )
    if not parts:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    ids = np.concatenate([p[1] for p in parts])
    dls = np.concatenate([p[2] for p in parts])
    if ids[-1] < 2**31 and ids[0] >= -(2**31):
        ids, dls = ids.astype(np.int32), dls.astype(np.int32)
    return ids, dls


def _columns(index: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_schema(_all_files(index)[0]).names


def _terms(index: str, kind: str) -> list[str]:
    import pyarrow.parquet as pq

    terms: set[str] = set()
    for f in _all_files(index):
        if f"kind={kind}" in f:
            terms.update(pq.read_table(f, columns=["term"])["term"].to_pylist())
    return sorted(terms)


def _rewrite(index: str, **write_opts) -> None:
    """Rewrite every postings file of ``index`` in place with
    ``pq.write_table(**write_opts)`` (same rows, new footer)."""
    import pyarrow.parquet as pq

    for f in _all_files(index):
        t = pq.read_table(f)
        tmp = f + ".tmp"
        pq.write_table(t, tmp, **write_opts)
        os.replace(tmp, f)


@pytest.fixture(scope="module")
def variants(spark, tmp_path_factory):
    """name -> (index path, n_buckets)."""
    from probe_spark.index.build import BuildConfig, IndexBuilder
    from probe_spark.streaming.ingest import StreamingIndexer

    base = tmp_path_factory.mktemp("postings_dir")
    fixture = str(base / "fixture")
    cfg = BuildConfig(n_buckets=N_BUCKETS, max_postings_per_segment=64)
    IndexBuilder(spark, cfg).build(transcripts_df(spark, 30, 5), fixture)
    out = {"fixture": (fixture, N_BUCKETS)}
    for name, opts in (
        ("small_row_groups", {"row_group_size": 5}),
        ("no_statistics", {"row_group_size": 5, "write_statistics": False}),
    ):
        p = str(base / name)
        shutil.copytree(fixture, p)
        _rewrite(p, **opts)
        out[name] = (p, N_BUCKETS)

    streamed = str(base / "streamed")
    rows = transcripts_rows(24, 8)
    third = len(rows) // 3
    idxer = StreamingIndexer(spark, streamed, BuildConfig(n_buckets=4))
    for i in range(3):
        part = rows[i * third : (i + 1) * third if i < 2 else len(rows)]
        idxer.process_batch(
            spark.createDataFrame(
                [tuple(r.values()) for r in part],
                "conv_id string, turn_idx int, role string, text string, "
                "tool string, ts timestamp_ntz",
            ),
            i,
        )
    out["streamed"] = (streamed, 4)
    return out


VARIANTS = ["fixture", "small_row_groups", "no_statistics", "streamed"]


def test_variants_have_the_layouts_they_claim(variants):
    import pyarrow.parquet as pq

    streamed, nb = variants["streamed"]
    assert any(
        len(_bucket_files(streamed, "tok", b)) > 1 for b in range(nb)
    ), "streamed index has no multi-file bucket"
    small, _ = variants["small_row_groups"]
    assert any(pq.ParquetFile(f).metadata.num_row_groups > 1 for f in _all_files(small))
    nostats, _ = variants["no_statistics"]
    for f in _all_files(nostats):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                st = md.row_group(g).column(c).statistics
                assert st is None or not st.has_min_max


@pytest.mark.parametrize("name", VARIANTS)
@pytest.mark.parametrize("kind", ["tok", "raw"])
def test_segments_match_dataset_read(variants, name, kind):
    index, nb = variants[name]
    cols = _columns(index)
    pdir = PostingsDirectory(index, nb)
    terms = _terms(index, kind)
    assert terms
    for t in terms + ABSENT:
        assert _dir_rows(pdir, kind, [t], cols) == _dataset_rows(
            index, nb, kind, [t], cols
        ), t
    for t in ABSENT:
        assert _dir_rows(pdir, kind, [t], cols) == []
    # several terms per bucket in one call (the isin read)
    assert _dir_rows(pdir, kind, terms + ABSENT, cols) == _dataset_rows(
        index, nb, kind, terms + ABSENT, cols
    )


@pytest.mark.parametrize("name", ["small_row_groups", "streamed"])
def test_row_group_boundary_terms(variants, name):
    import pyarrow.parquet as pq

    index, nb = variants[name]
    cols = _columns(index)
    pdir = PostingsDirectory(index, nb)
    n = 0
    for f in _all_files(index):
        kind = "tok" if "kind=tok" in f else "raw"
        md = pq.ParquetFile(f).metadata
        ci = [md.schema.column(i).path for i in range(md.num_columns)].index("term")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ci).statistics
            for t in (st.min, st.max):
                assert _dir_rows(pdir, kind, [t], cols) == _dataset_rows(
                    index, nb, kind, [t], cols
                ), (f, g, t)
                n += 1
    assert n > 4


@pytest.mark.parametrize("name", VARIANTS)
def test_decoded_postings_match_reference(variants, name):
    index, nb = variants[name]
    pdir = PostingsDirectory(index, nb)
    for kind in ("tok", "raw"):
        for t in _terms(index, kind) + ABSENT:
            got = pdir.postings(kind, t)
            want = _reference_postings(index, nb, kind, t)
            for g, w in zip(got, want):
                assert g.dtype == w.dtype and np.array_equal(g, w), (kind, t)


@pytest.mark.parametrize("name", VARIANTS)
def test_raw_doc_ids_multi_term_and_max_df_gate(variants, name):
    index, nb = variants[name]
    pdir = PostingsDirectory(index, nb)
    raw = _terms(index, "raw")
    terms = raw[:: max(1, len(raw) // 12)] + ABSENT
    rows = _dataset_rows(index, nb, "raw", terms, ["df_seg", "docs_bin"])
    df = sum(r["df_seg"] for r in rows)
    want = np.unique(
        np.concatenate([decode_postings(r["docs_bin"], b"")[0] for r in rows])
    )
    assert len({spark_bucket(t, nb) for t in terms}) > 1
    got = pdir.raw_doc_ids(terms, max_df=df)
    assert got is not None and np.array_equal(got, want)
    assert pdir.raw_doc_ids(terms, max_df=df - 1) is None
    assert pdir.raw_doc_ids(ABSENT).size == 0


@pytest.mark.parametrize("name", VARIANTS)
def test_tok_segments_match_dataset_read(variants, name):
    index, nb = variants[name]
    cols = ["term", "salt", "seg_seq", "df_seg", "min_doc", "max_doc",
            "block_last_doc", "block_min_dl"]
    terms = _terms(index, "tok")[::3] + ABSENT
    got = PostingsDirectory(index, nb).tok_segments(terms, cols)
    assert got == _dataset_rows(index, nb, "tok", terms, cols)


def test_not_posix_visible(tmp_path):
    pdir = PostingsDirectory(str(tmp_path / "missing"), 4)
    assert pdir.raw_doc_ids(["error"]) is None
    assert pdir.tok_segments(["error"], ["term"]) is None
    ids, dls = pdir.postings("tok", "error")
    assert ids.size == 0 and dls.size == 0


def _bucket_with_two_terms(index: str, nb: int) -> tuple[str, str]:
    by_bucket: dict[int, list[str]] = {}
    for t in _terms(index, "tok"):
        by_bucket.setdefault(spark_bucket(t, nb), []).append(t)
    return next(tuple(ts[:2]) for ts in by_bucket.values() if len(ts) >= 2)


@pytest.mark.parametrize("change", ["rewrite", "remove"])
def test_file_changed_under_live_searcher_raises(variants, tmp_path, change):
    import pyarrow.parquet as pq

    from probe_spark.search.local import LocalSearcher

    src, nb = variants["fixture"]
    index = str(tmp_path / "idx")
    shutil.copytree(src, index)
    first, second = _bucket_with_two_terms(index, nb)
    bucket = spark_bucket(second, nb)
    ls = LocalSearcher(index)
    assert ls._postings("tok", first)[0].size  # lists the bucket, caches footers
    if change == "rewrite":
        # same rows, new files: what vacuum / merge / compact leave behind
        for f in _bucket_files(index, "tok", bucket):
            t = pq.read_table(f)
            pq.write_table(t, f + ".tmp", row_group_size=3)
            os.replace(f + ".tmp", f)
    else:
        shutil.rmtree(
            os.path.join(index, "postings", "kind=tok", f"bucket={bucket}")
        )
    with pytest.raises(IndexChangedError, match="changed under the searcher"):
        ls._postings("tok", second)
    if change == "rewrite":  # a fresh searcher reads the new files
        got = LocalSearcher(index)._postings("tok", second)
        want = LocalSearcher(src)._postings("tok", second)
        assert all(np.array_equal(g, w) for g, w in zip(got, want))
