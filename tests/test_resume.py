"""Kill/resume: a build killed between phases must resume from the manifest
and produce segments identical to an uninterrupted build (SURVEY.md §5.6).

The kill is simulated by making the postings merge raise after the docs
phase has committed — the same on-disk state a real mid-build executor or
driver death leaves behind (docs/_SUCCESS + partials/_SUCCESS present,
postings absent)."""

from __future__ import annotations

import os

import pytest

from probe_spark.fixtures import transcripts_df
from probe_spark.index import build as build_mod
from probe_spark.index.build import BuildConfig, IndexBuilder


def _segments(spark, idx):
    rows = spark.read.parquet(f"{idx}/postings").select(
        "kind", "term", "salt", "seg_seq", "df_seg",
        "min_doc", "max_doc", "seg_bytes", "seg_crc",
    ).collect()
    return {
        (r["kind"], r["term"], r["salt"], r["seg_seq"]): (
            r["df_seg"], r["min_doc"], r["max_doc"],
            r["seg_bytes"], r["seg_crc"],
        )
        for r in rows
    }


class TestFormatVersion:
    def test_version_mismatch_refused(self, spark, tmp_path):
        import glob

        import pyarrow.parquet as pq

        from probe_spark.search.engine import SearchEngine
        from probe_spark.search.local import LocalSearcher

        idx = str(tmp_path / "vidx")
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(
            transcripts_df(spark, 10, seed=3), idx
        )
        SearchEngine(spark, idx)  # current version opens fine
        f = glob.glob(f"{idx}/stats/*.parquet")[0]
        t = pq.read_table(f).to_pandas()
        t["format_version"] = 1
        pq.write_table(
            __import__("pyarrow").Table.from_pandas(t, preserve_index=False), f
        )
        with pytest.raises(ValueError, match="format_version"):
            SearchEngine(spark, idx)
        with pytest.raises(ValueError, match="format_version"):
            LocalSearcher(idx)

    def test_previous_version_refused_on_every_lane(self, spark, tmp_path):
        # an index one layout version back: the Spark lane, the local
        # front-end and a replica's Future each refuse it with the same
        # instruction instead of mis-decoding it
        import glob

        import pyarrow as pa
        import pyarrow.parquet as pq

        from probe_spark.search.engine import SearchEngine
        from probe_spark.search.local import LocalSearcher
        from probe_spark.search.replicas import LocalReplicaPool

        idx = str(tmp_path / "v6idx")
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(
            transcripts_df(spark, 10, seed=3), idx
        )
        assert LocalSearcher(idx).search("error", k=3)
        f = glob.glob(f"{idx}/stats/*.parquet")[0]
        t = pq.read_table(f)
        i = t.schema.get_field_index("format_version")
        t = t.set_column(
            i, t.schema.field(i), pa.array([6], t.schema.field(i).type)
        )
        pq.write_table(t, f)
        refusal = "format_version 6, .* rebuild the index"
        with pytest.raises(ValueError, match=refusal):
            SearchEngine(spark, idx)
        with pytest.raises(ValueError, match=refusal):
            LocalSearcher(idx)
        pool = LocalReplicaPool(idx, 1)
        try:
            with pytest.raises(ValueError, match=refusal):
                pool.submit("error", 3).result(timeout=60)
        finally:
            pool.close()


class TestKillResume:
    def test_kill_after_docs_then_resume_identical(
        self, spark, tmp_path, monkeypatch
    ):
        corpus = transcripts_df(spark, n_convs=50, seed=11)
        cfg = BuildConfig(n_buckets=4)

        golden = str(tmp_path / "golden")
        IndexBuilder(spark, cfg).build(corpus, golden)

        # interrupted build: die inside the postings merge
        idx = str(tmp_path / "killed")

        def _boom(*a, **k):
            raise RuntimeError("simulated kill")

        monkeypatch.setattr(build_mod, "_merge_partials_fused", _boom)
        monkeypatch.setattr(build_mod, "_merge_partials", _boom)
        with pytest.raises(RuntimeError, match="simulated kill"):
            IndexBuilder(spark, cfg).build(corpus, idx)
        monkeypatch.undo()

        # the kill left the docs phase committed, postings absent
        assert os.path.exists(f"{idx}/docs/_SUCCESS")
        assert not os.path.exists(f"{idx}/postings/_SUCCESS")

        # resume: only the missing phase runs, docs are not rebuilt
        docs_mtime = os.path.getmtime(f"{idx}/docs/_SUCCESS")
        out = IndexBuilder(spark, cfg).build(corpus, idx)
        assert "docs" not in out["phases_run"]
        assert "postings" in out["phases_run"]
        assert os.path.getmtime(f"{idx}/docs/_SUCCESS") == docs_mtime

        # resumed segments are identical to the uninterrupted build
        assert _segments(spark, idx) == _segments(spark, golden)

        # and a full no-op resume: everything already done
        again = IndexBuilder(spark, cfg).build(corpus, idx)
        assert again["phases_run"] == []

    def test_resumed_index_answers_queries_identically(
        self, spark, tmp_path, monkeypatch
    ):
        from probe_spark.search.engine import SearchEngine

        corpus = transcripts_df(spark, n_convs=50, seed=11)
        cfg = BuildConfig(n_buckets=4)
        golden = str(tmp_path / "g2")
        IndexBuilder(spark, cfg).build(corpus, golden)

        idx = str(tmp_path / "k2")
        monkeypatch.setattr(
            build_mod, "_merge_partials_fused",
            lambda *a, **k: (_ for _ in ()).throw(RuntimeError("kill")),
        )
        with pytest.raises(RuntimeError):
            IndexBuilder(spark, cfg).build(corpus, idx)
        monkeypatch.undo()
        IndexBuilder(spark, cfg).build(corpus, idx)

        for q in ["error AND handling", "database -sqlite", '"whitelist"']:
            a = SearchEngine(spark, golden).search(
                q, k=10, with_metadata=False).collect()
            b = SearchEngine(spark, idx).search(
                q, k=10, with_metadata=False).collect()
            assert [(r["doc_id"], r["score"]) for r in a] == [
                (r["doc_id"], r["score"]) for r in b
            ], q


class TestInputPartitioningInvariance:
    def test_doc_ids_independent_of_input_layout(self, spark, tmp_path):
        """docIDs = rank over (conv_id, turn_idx): rebuilding from a
        differently-partitioned, differently-ordered copy of the same
        corpus must assign identical ids (the exchange's boundaries come
        from data-dependent sampling, and offsets from exact counts)."""
        from probe_spark.fixtures import transcripts_df
        from probe_spark.index.build import BuildConfig, IndexBuilder

        corpus = transcripts_df(spark, 40, seed=3)
        a = str(tmp_path / "idx_a")
        b = str(tmp_path / "idx_b")
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(corpus, a)
        shuffled = corpus.repartition(7, "text").sortWithinPartitions("role")
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(shuffled, b)
        da = {
            (r["conv_id"], r["turn_idx"]): r["doc_id"]
            for r in spark.read.parquet(f"{a}/docs").collect()
        }
        db = {
            (r["conv_id"], r["turn_idx"]): r["doc_id"]
            for r in spark.read.parquet(f"{b}/docs").collect()
        }
        assert da == db


class TestBlankLongLines:
    def test_long_lines_never_enter_postings(self, spark, tmp_path):
        """file_processing.rs:1090-1107 analog: with blank_lines_over set,
        tokens appearing ONLY inside a >limit-char line are not indexed
        (and dl shrinks), while stored text keeps the original line."""
        import datetime

        from probe_spark.index.build import BuildConfig, IndexBuilder
        from probe_spark.search.engine import SearchEngine

        long_line = "zebrafish " * 60  # ~600 chars, unique token inside
        rows = [
            ("c0", 0, "user", f"short line\n{long_line}", "t", 
             datetime.datetime(2026, 1, 1)),
            ("c1", 0, "user", "another zebrafish mention", "t",
             datetime.datetime(2026, 1, 1)),
        ]
        schema = ("conv_id string, turn_idx int, role string, text string,"
                  " tool string, ts timestamp")
        corpus = spark.createDataFrame(rows, schema)
        on = str(tmp_path / "idx_on")
        off = str(tmp_path / "idx_off")
        IndexBuilder(
            spark, BuildConfig(n_buckets=4, blank_lines_over=500)
        ).build(corpus, on)
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(corpus, off)
        eng_on = SearchEngine(spark, on)
        eng_off = SearchEngine(spark, off)
        hits_on = {r["conv_id"] for r in eng_on.search("zebrafish", k=5).collect()}
        hits_off = {r["conv_id"] for r in eng_off.search("zebrafish", k=5).collect()}
        assert hits_on == {"c1"}  # the long line's tokens were blanked
        assert hits_off == {"c0", "c1"}
        # stored text untouched (display keeps the original)
        txt = eng_on.docs.filter("conv_id = 'c0'").collect()[0]["text"]
        assert "zebrafish" in txt


class TestPrefixConvIds:
    def test_doc_ids_with_prefix_conv_ids(self, spark, tmp_path):
        """Regression: 'c1' vs 'c10' (prefix pairs — the natural numbering
        scheme) must produce docIDs in true (conv_id, turn_idx) order; an
        earlier key encoding stripped NUL padding and mis-routed these."""
        import datetime

        from probe_spark.index.build import BuildConfig, IndexBuilder

        ts = datetime.datetime(2026, 1, 1)
        rows = [
            (c, t, "user", f"text {c} {t}", "tool", ts)
            for c in ["c1", "c10", "c2", "c100", "c"]
            for t in range(4)
        ]
        schema = ("conv_id string, turn_idx int, role string, text string,"
                  " tool string, ts timestamp")
        corpus = spark.createDataFrame(rows, schema).repartition(5)
        idx = str(tmp_path / "prefix_idx")
        IndexBuilder(
            spark, BuildConfig(n_buckets=4, exchange_bucket_rows=4)
        ).build(corpus, idx)
        docs = sorted(
            (r["conv_id"], r["turn_idx"], r["doc_id"])
            for r in spark.read.parquet(f"{idx}/docs").collect()
        )
        expected_order = sorted((c, t) for c, t, *_ in rows)
        assert [(c, t) for c, t, _ in docs] == expected_order
        assert [d for *_, d in docs] == list(range(len(rows)))


class TestKeyEncodingParity:
    def test_arrow_encoder_matches_scalar(self):
        """The vectorized Arrow-buffer key encoder (exchange hot path) must
        emit byte-identical keys to the scalar reference encoder for any
        null-free input — prefix pairs, empty strings, unicode, negative
        and extreme turn indexes."""
        import random

        import pyarrow as pa

        from probe_spark.index.build import _encode_keys, _encode_keys_arrow

        rng = random.Random(7)
        pool = ["c1", "c10", "c100", "c2", "c", "", "конв", "日本語x",
                "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"]
        convs = [rng.choice(pool) for _ in range(500)]
        turns = [
            rng.choice([0, 1, -1, 2**31 - 1, -(2**31), rng.randrange(10**6)])
            for _ in range(500)
        ]
        for min_width in (1, 8, 64):
            got, width = _encode_keys_arrow(
                pa.array(convs, pa.string()),
                pa.array(turns, pa.int32()),
                min_width,
            )
            byte_w = max(
                min_width,
                max(len(c.encode("utf-8")) for c in convs),
            )
            assert width == byte_w
            want = _encode_keys(convs, turns, width)
            assert got.tolist() == want.tolist()

    def test_arrow_encoder_large_string_and_slice(self):
        import pyarrow as pa

        from probe_spark.index.build import _encode_keys, _encode_keys_arrow

        convs = ["c1", "c10", "c2"]
        turns = [5, 6, 7]
        arr = pa.array(convs, pa.large_string())
        got, width = _encode_keys_arrow(arr, pa.array(turns, pa.int32()), 1)
        assert got.tolist() == _encode_keys(convs, turns, width).tolist()
        # sliced arrays exercise the offset-aware buffer view
        big = pa.array(["zzz"] + convs, pa.string()).slice(1, 3)
        got2, w2 = _encode_keys_arrow(big, pa.array(turns, pa.int32()), 1)
        assert got2.tolist() == _encode_keys(convs, turns, w2).tolist()


class TestSortedSourceFastPath:
    """A provably range-sorted parquet source takes the exchange-free
    plan (pass B reads its row groups directly); an unsorted source falls
    back to the exchange.  Both must produce identical segments, docIDs,
    and stats — docID = rank over (conv_id, turn_idx) regardless of path."""

    def _write(self, spark, df, path):
        df.write.mode("overwrite").parquet(path)
        return path

    def test_sorted_source_equals_dataframe_build(self, spark, tmp_path):
        from probe_spark.index.build import _sorted_source_plan

        df = transcripts_df(spark, 60, seed=11)
        src = self._write(
            spark, df.orderBy("conv_id", "turn_idx").coalesce(2),
            str(tmp_path / "src_sorted"),
        )
        plan = _sorted_source_plan(spark, src, 256, 4)
        assert plan is not None, "sorted source not detected"
        plan_rows, offsets = plan
        assert offsets[0] == 0
        assert sum(1 for _ in plan_rows) == len(offsets)

        # small bucket target so the build SLICES the sorted row groups
        # (positional slices must still yield identical docIDs/segments)
        idx_a = str(tmp_path / "idx_path")
        IndexBuilder(
            spark, BuildConfig(n_buckets=4, exchange_bucket_rows=256)
        ).build(src, idx_a)
        idx_b = str(tmp_path / "idx_df")
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(df, idx_b)
        assert _segments(spark, idx_a) == _segments(spark, idx_b)
        docs_a = sorted(
            (r["doc_id"], r["conv_id"], r["turn_idx"])
            for r in spark.read.parquet(f"{idx_a}/docs").collect()
        )
        docs_b = sorted(
            (r["doc_id"], r["conv_id"], r["turn_idx"])
            for r in spark.read.parquet(f"{idx_b}/docs").collect()
        )
        assert docs_a == docs_b

    def test_unsorted_source_falls_back_and_matches(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from probe_spark.index.build import _sorted_source_plan

        df = transcripts_df(spark, 60, seed=11)
        # hash-repartitioned: every output file spans the whole key range,
        # so row groups overlap and the sorted plan must refuse
        shuffled = df.repartition(3, F.col("conv_id"))
        src = self._write(spark, shuffled, str(tmp_path / "src_shuf"))
        assert _sorted_source_plan(spark, src, 256, 4) is None

        idx_a = str(tmp_path / "idx_shuf")
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(src, idx_a)
        idx_b = str(tmp_path / "idx_df2")
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(df, idx_b)
        assert _segments(spark, idx_a) == _segments(spark, idx_b)


class TestProberKernelParity:
    """The Arrow-kernel prober (sortedness + lexicographic min/max in C++
    compute, no key encode) must agree with the memcmp key encoding's
    order on adversarial keys: prefix pairs ('c1' < 'c10'), ties broken by
    turn_idx, unsorted groups, and single-row groups."""

    def _probe(self, tmp_path, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from probe_spark.index.build import _make_rg_prober

        t = pa.table(
            {
                "conv_id": pa.array([r[0] for r in rows], pa.string()),
                "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
            }
        )
        path = str(tmp_path / "probe.parquet")
        pq.write_table(t, path, row_group_size=len(rows))
        batch = pa.RecordBatch.from_arrays(
            [pa.array([path], pa.string()), pa.array([0], pa.int32())],
            names=["file", "rg"],
        )
        out = list(_make_rg_prober(cap_threads=False)(iter([batch])))
        return out[0].to_pylist()[0]

    def test_prefix_and_tie_cases(self, tmp_path):
        import numpy as np

        from probe_spark.index.build import _encode_keys

        cases = [
            [("c1", 0), ("c10", 0), ("c2", 0)],          # prefix order
            [("c10", 0), ("c1", 0)],                      # unsorted prefix
            [("a", 5), ("a", 5), ("a", 6)],               # ties + equal rows
            [("a", 6), ("a", 5)],                         # tie broken desc
            [("z", 1)],                                   # single row
            [("b", 2), ("a", 9), ("c", 0), ("a", 1)],     # unsorted
        ]
        for rows in cases:
            got = self._probe(tmp_path, rows)
            keys = _encode_keys(
                [r[0] for r in rows], [r[1] for r in rows],
                max(len(r[0]) for r in rows),
            )
            exp_sorted = bool(np.all(keys[:-1] <= keys[1:]))
            order = np.argsort(keys, kind="stable")
            imin, imax = int(order[0]), int(order[-1])
            assert bool(got["sorted"]) == exp_sorted, rows
            assert (got["min_conv"], got["min_turn"]) == rows[imin], rows
            assert (got["max_conv"], got["max_turn"]) == rows[imax], rows
            assert got["has_null"] == 0 and got["n_rows"] == len(rows)
