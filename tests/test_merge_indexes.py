"""Shard-merge (index/maintenance.merge_indexes): two indexes built over a
conv-ordered split of one corpus, merged WITHOUT re-tokenizing, must be
rank- and score-identical to a fresh build over the whole corpus — the
Lucene-addIndexes-style lifecycle op a 10^12-turn store runs daily.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


QUERY_SHAPES = [
    "error",
    "error AND handling",
    "error OR handler OR timeout",
    "+error -timeout",
    '"whitelist"',
    "database -sqlite",
    "(error OR handler) AND (auth OR timeout)",
]


@pytest.fixture(scope="module")
def merged_setup(spark, tmp_path_factory):
    from probe_spark.fixtures import transcripts_df
    from probe_spark.index.build import BuildConfig, IndexBuilder
    from probe_spark.index.maintenance import merge_indexes

    base = tmp_path_factory.mktemp("shard_merge")
    t = transcripts_df(spark, n_convs=60, seed=3)
    convs = sorted(r[0] for r in t.select("conv_id").distinct().collect())
    cut = convs[30]
    paths = {n: str(base / n) for n in ("a", "b", "full", "merged")}
    cfg = lambda: BuildConfig(n_buckets=4)  # noqa: E731
    IndexBuilder(spark, cfg()).build(t.filter(F.col("conv_id") < cut), paths["a"])
    IndexBuilder(spark, cfg()).build(
        t.filter(F.col("conv_id") >= cut), paths["b"]
    )
    IndexBuilder(spark, cfg()).build(t, paths["full"])
    info = merge_indexes(spark, paths["a"], paths["b"], paths["merged"])
    return paths, info


def _page(engine, q, k=15):
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in engine.search(q, k=k, with_metadata=False).collect()
    ]


class TestMergeParity:
    def test_rank_identical_to_fresh_full_build(self, spark, merged_setup):
        from probe_spark.search.engine import SearchEngine

        paths, _ = merged_setup
        em = SearchEngine(spark, paths["merged"])
        ef = SearchEngine(spark, paths["full"])
        for q in QUERY_SHAPES:
            assert _page(em, q) == _page(ef, q), q

    def test_full_result_set_identical(self, spark, merged_setup):
        from probe_spark.search.engine import SearchEngine

        paths, _ = merged_setup
        em = SearchEngine(spark, paths["merged"])
        ef = SearchEngine(spark, paths["full"])
        assert _page(em, "error OR handler", k=None) == _page(
            ef, "error OR handler", k=None
        )

    def test_local_front_end_reads_merged_index(self, spark, merged_setup):
        from probe_spark.search.engine import SearchEngine
        from probe_spark.search.local import LocalSearcher

        paths, _ = merged_setup
        em = SearchEngine(spark, paths["merged"])
        loc = LocalSearcher(paths["merged"])
        want = _page(em, "error AND handling", k=10)
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in loc.search("error AND handling", k=10)
        ]
        assert got == want

    def test_verify_passes_on_merged(self, spark, merged_setup):
        from probe_spark.index.verify import verify_index

        paths, _ = merged_setup
        v = verify_index(spark, paths["merged"])
        assert v["ok"], v

    def test_stats_merge_exactly(self, spark, merged_setup):
        paths, info = merged_setup
        sa = spark.read.parquet(f"{paths['a']}/stats").collect()[0]
        sb = spark.read.parquet(f"{paths['b']}/stats").collect()[0]
        sf = spark.read.parquet(f"{paths['full']}/stats").collect()[0]
        sm = spark.read.parquet(f"{paths['merged']}/stats").collect()[0]
        assert sm["n_docs"] == sa["n_docs"] + sb["n_docs"] == sf["n_docs"]
        assert sm["total_dl"] == sf["total_dl"]
        assert sm["avgdl"] == pytest.approx(sf["avgdl"], abs=0)
        assert info["offset"] == sa["n_docs"]  # dense input -> offset = N_a


class TestMergeLifecycle:
    def test_tombstones_carry_over(self, spark, tmp_path_factory):
        from probe_spark.fixtures import transcripts_df
        from probe_spark.index.build import BuildConfig, IndexBuilder
        from probe_spark.index.maintenance import delete_where, merge_indexes
        from probe_spark.search.engine import SearchEngine

        base = tmp_path_factory.mktemp("merge_tomb")
        t = transcripts_df(spark, n_convs=24, seed=9)
        convs = sorted(r[0] for r in t.select("conv_id").distinct().collect())
        cut = convs[12]
        pa_, pb, pm = (str(base / n) for n in ("a", "b", "m"))
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(
            t.filter(F.col("conv_id") < cut), pa_
        )
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(
            t.filter(F.col("conv_id") >= cut), pb
        )
        # tombstone one conv on EACH side before the merge
        n_a = delete_where(spark, pa_, f"conv_id = '{convs[0]}'")
        n_b = delete_where(spark, pb, f"conv_id = '{convs[-1]}'")
        assert n_a > 0 and n_b > 0
        merge_indexes(spark, pa_, pb, pm)
        em = SearchEngine(spark, pm)
        hits = em.search("error OR handler OR auth", k=None,
                         with_metadata=True).collect()
        got_convs = {r["conv_id"] for r in hits}
        assert convs[0] not in got_convs
        assert convs[-1] not in got_convs

    def test_incompatible_layout_rejected(self, spark, tmp_path_factory):
        from probe_spark.fixtures import transcripts_df
        from probe_spark.index.build import BuildConfig, IndexBuilder
        from probe_spark.index.maintenance import merge_indexes

        base = tmp_path_factory.mktemp("merge_bad")
        t = transcripts_df(spark, n_convs=6, seed=1)
        p4, p8 = str(base / "p4"), str(base / "p8")
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(t, p4)
        IndexBuilder(spark, BuildConfig(n_buckets=8)).build(t, p8)
        with pytest.raises(ValueError, match="n_buckets"):
            merge_indexes(spark, p4, p8, str(base / "out"))


class TestMergeChainCompaction:
    def test_three_way_chain_compacts_rank_identically(
        self, spark, tmp_path_factory
    ):
        from probe_spark.fixtures import transcripts_df
        from probe_spark.index.build import BuildConfig, IndexBuilder
        from probe_spark.index.maintenance import compact_index, merge_indexes
        from probe_spark.index.verify import verify_index
        from probe_spark.search.engine import SearchEngine

        base = tmp_path_factory.mktemp("merge_chain")
        t = transcripts_df(spark, n_convs=36, seed=5)
        convs = sorted(r[0] for r in t.select("conv_id").distinct().collect())
        thirds = [
            t.filter(
                (F.col("conv_id") >= convs[i * 12])
                & (F.col("conv_id") < convs[(i + 1) * 12])
                if i < 2
                else (F.col("conv_id") >= convs[24])
            )
            for i in range(3)
        ]
        shard = [str(base / f"s{i}") for i in range(3)]
        for df, p in zip(thirds, shard):
            IndexBuilder(spark, BuildConfig(n_buckets=4)).build(df, p)
        from probe_spark.index.maintenance import merge_many

        ab, abc, full, nway = (
            str(base / n) for n in ("ab", "abc", "full", "nway")
        )
        merge_indexes(spark, shard[0], shard[1], ab)
        merge_indexes(spark, ab, shard[2], abc)
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(t, full)
        # one-pass 3-way merge must equal the pairwise chain exactly
        merge_many(spark, shard, nway)
        assert _page(
            SearchEngine(spark, nway), "error OR handler", k=None
        ) == _page(SearchEngine(spark, abc), "error OR handler", k=None)

        def n_segments(p):
            return spark.read.parquet(f"{p}/postings").count()

        frag = n_segments(abc)
        before = _page(SearchEngine(spark, abc), "error OR handler", k=None)
        out = compact_index(spark, abc)
        assert out["n_segments"] < frag
        em = SearchEngine(spark, abc)
        assert _page(em, "error OR handler", k=None) == before
        ef = SearchEngine(spark, full)
        assert _page(em, "error OR handler", k=None) == _page(
            ef, "error OR handler", k=None
        )
        # single-term top-k rides the spliced (non-uniform-block) segments too
        assert _page(em, "error", k=10) == _page(ef, "error", k=10)
        # the chain's fragmentation is gone: compacted layout equals the
        # fresh batch build's segment count
        assert n_segments(abc) == n_segments(full) < frag
        assert verify_index(spark, abc)["ok"]


class TestMergeIdempotence:
    def test_rerun_into_same_output_is_identical(self, spark, merged_setup):
        """Crash recovery = re-run: every merge output (postings docs
        tombstones stats manifest) is overwritten, never appended, so a
        second run over the same inputs leaves an identical index."""
        from probe_spark.index.maintenance import merge_indexes
        from probe_spark.index.verify import verify_index
        from probe_spark.search.engine import SearchEngine

        paths, _ = merged_setup
        before = _page(
            SearchEngine(spark, paths["merged"]), "error OR handler", k=None
        )
        merge_indexes(spark, paths["a"], paths["b"], paths["merged"])
        em = SearchEngine(spark, paths["merged"])
        assert _page(em, "error OR handler", k=None) == before
        n_seg = spark.read.parquet(f"{paths['merged']}/postings").count()
        merge_indexes(spark, paths["a"], paths["b"], paths["merged"])
        assert (
            spark.read.parquet(f"{paths['merged']}/postings").count() == n_seg
        )
        assert verify_index(spark, paths["merged"])["ok"]


class TestMergeEdgeCases:
    def test_empty_shard_merges_cleanly(self, spark, tmp_path_factory):
        from probe_spark.fixtures import transcripts_df
        from probe_spark.index.build import BuildConfig, IndexBuilder
        from probe_spark.index.maintenance import merge_many
        from probe_spark.search.engine import SearchEngine

        base = tmp_path_factory.mktemp("merge_empty")
        t = transcripts_df(spark, n_convs=8, seed=2)
        empty = t.filter("1 = 0")
        pe, pb, pm = (str(base / n) for n in ("e", "b", "m"))
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(empty, pe)
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(t, pb)
        info = merge_many(spark, [pe, pb], pm)
        assert info["offsets"] == [0, 0]  # empty first shard spans 0 docs
        em, eb = SearchEngine(spark, pm), SearchEngine(spark, pb)
        assert _page(em, "error OR handler", k=None) == _page(
            eb, "error OR handler", k=None
        )

    def test_reused_output_dir_drops_stale_artifacts(
        self, spark, tmp_path_factory
    ):
        from probe_spark.fixtures import transcripts_df
        from probe_spark.index.build import BuildConfig, IndexBuilder
        from probe_spark.index.maintenance import delete_where, merge_many
        from probe_spark.index.verify import verify_index
        from probe_spark.search.engine import SearchEngine

        base = tmp_path_factory.mktemp("merge_stale")
        t = transcripts_df(spark, n_convs=18, seed=4)
        convs = sorted(r[0] for r in t.select("conv_id").distinct().collect())
        pa_, pb, pc, pm = (str(base / n) for n in ("a", "b", "c", "m"))
        for lo, hi, p in ((0, 6, pa_), (6, 12, pb), (12, 18, pc)):
            part = t.filter(F.col("conv_id") >= convs[lo])
            if hi < 18:
                part = part.filter(F.col("conv_id") < convs[hi])
            IndexBuilder(spark, BuildConfig(n_buckets=4)).build(part, p)
        delete_where(spark, pa_, f"conv_id = '{convs[0]}'")
        merge_many(spark, [pa_, pb, pc], pm)  # 3 sources, with tombstones
        import os

        assert os.path.isdir(f"{pm}/tombstones")
        # re-merge WITHOUT the tombstoned source into the same output:
        # stale docs shards, tombstones, and manifest rows must be gone
        merge_many(spark, [pb, pc], pm)
        assert not os.path.isdir(f"{pm}/tombstones")
        em = SearchEngine(spark, pm)
        stats = spark.read.parquet(f"{pm}/stats").collect()[0]
        n_docs_on_disk = spark.read.parquet(f"{pm}/docs").count()
        assert n_docs_on_disk == stats["n_docs"]
        hits = em.search("error OR handler OR auth", k=None,
                         with_metadata=True).collect()
        # the b+c docs rank; nothing from the dropped source a remains
        assert {r["conv_id"] for r in hits} <= set(convs[6:])
        assert verify_index(spark, pm)["ok"]

    def test_compact_recovers_from_crash_mid_swap(
        self, spark, tmp_path_factory
    ):
        import os
        import shutil as sh

        from probe_spark.fixtures import transcripts_df
        from probe_spark.index.build import BuildConfig, IndexBuilder
        from probe_spark.index.maintenance import compact_index
        from probe_spark.search.engine import SearchEngine

        base = tmp_path_factory.mktemp("compact_crash")
        t = transcripts_df(spark, n_convs=10, seed=6)
        p = str(base / "idx")
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(t, p)
        before = _page(SearchEngine(spark, p), "error OR handler", k=None)
        # simulate the crash window: postings renamed away, no tmp yet
        os.rename(f"{p}/postings", f"{p}/.cold-postings-123")
        compact_index(spark, p)
        assert _page(SearchEngine(spark, p), "error OR handler", k=None) == before
        # simulate a crash AFTER the rewrite completed but before the swap
        sh.copytree(f"{p}/postings", f"{p}/.ctmp-postings-456")
        os.rename(f"{p}/postings", f"{p}/.cold-postings-455")
        compact_index(spark, p)
        assert _page(SearchEngine(spark, p), "error OR handler", k=None) == before
        assert not [
            d for d in os.listdir(p)
            if d.startswith((".ctmp-postings-", ".cold-postings-"))
        ]


class TestMergeGuards:
    def test_output_must_not_be_a_source(self, spark, merged_setup):
        from probe_spark.index.maintenance import merge_many

        paths, _ = merged_setup
        with pytest.raises(ValueError, match="out_path"):
            merge_many(spark, [paths["a"], paths["b"]], paths["a"])

    def test_reused_built_index_dir_gets_fresh_stats(
        self, spark, tmp_path_factory
    ):
        """A formerly BUILT index dir reused as merge output must not keep
        its old stats file (different file name than the merge's) — two
        stats rows would give nondeterministic n_docs/avgdl."""
        from probe_spark.fixtures import transcripts_df
        from probe_spark.index.build import BuildConfig, IndexBuilder
        from probe_spark.index.maintenance import merge_many

        base = tmp_path_factory.mktemp("merge_over_built")
        t = transcripts_df(spark, n_convs=8, seed=7)
        convs = sorted(r[0] for r in t.select("conv_id").distinct().collect())
        pa_, pb, po = (str(base / n) for n in ("a", "b", "o"))
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(
            t.filter(F.col("conv_id") < convs[4]), pa_
        )
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(
            t.filter(F.col("conv_id") >= convs[4]), pb
        )
        IndexBuilder(spark, BuildConfig(n_buckets=4)).build(t, po)  # stale
        merge_many(spark, [pa_, pb], po)
        stats = spark.read.parquet(f"{po}/stats").collect()
        assert len(stats) == 1
        assert stats[0]["build_id"].startswith("merge(")
