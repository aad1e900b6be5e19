"""Document deletion (tombstones) + vacuum (index/maintenance.py).

Semantics pinned here:
  - delete_where is a metadata write; deleted docs stop surfacing on
    EVERY query path (single terms fall back to ranged, ranged masks,
    full path anti-joins, zero-included scoped, files-only, local
    front-end) while survivor scores stay bit-identical (Lucene
    deleted-docs semantics: stats as built until vacuum).
  - vacuum folds the tombstones: the result is rank- AND score-identical
    to a fresh build over the surviving corpus, the single-term route
    re-enables, the tombstone dir is gone, and `stats --verify` passes
    (per-bucket lineage refreshed, docID density relaxed to distinct).
"""

from __future__ import annotations

import os

import pytest

from probe_spark.fixtures import transcripts_df
from probe_spark.index.maintenance import delete_where, tombstone_ids, vacuum

N_CONVS = 50
SEED = 11
Q = "error OR handling"


@pytest.fixture(scope="module")
def corpus(spark):
    return transcripts_df(spark, n_convs=N_CONVS, seed=SEED)


@pytest.fixture(scope="module")
def idx(spark, corpus, tmp_path_factory):
    from probe_spark.index.build import BuildConfig, IndexBuilder

    path = str(tmp_path_factory.mktemp("deletes") / "idx")
    IndexBuilder(spark, BuildConfig(n_buckets=8)).build(corpus, path)
    return path


@pytest.fixture(scope="module")
def baseline(spark, idx):
    from probe_spark.search.engine import SearchEngine

    eng = SearchEngine(spark, idx)
    rows = eng.search(Q, k=None, with_metadata=True).collect()
    return {r["doc_id"]: r for r in rows}


@pytest.fixture(scope="module")
def deleted(spark, idx, baseline):
    """Delete every 'user' turn; returns the refreshed engine."""
    from probe_spark.search.engine import SearchEngine

    n = delete_where(spark, idx, "role = 'user'")
    assert n > 0
    return SearchEngine(spark, idx)


class TestTombstoneMasking:
    def test_full_path_masked_scores_unchanged(self, deleted, baseline):
        after = deleted.search(Q, k=None, with_metadata=True).collect()
        assert after and all(r["role"] != "user" for r in after)
        assert {r["doc_id"] for r in after} == {
            d for d, r in baseline.items() if r["role"] != "user"
        }
        # stats stay as built: survivor scores are bit-identical
        assert all(
            r["score"] == baseline[r["doc_id"]]["score"] for r in after
        )

    def test_ranged_and_single_term_paths_masked(self, deleted):
        topk = deleted.search(Q, k=10).collect()
        assert len(topk) == 10 and all(r["role"] != "user" for r in topk)
        # a single-term query leaves its shuffle-free route for ranged
        # (which applies the tombstone mask) and is masked too
        w = deleted.search("error", k=10).collect()
        assert len(w) == 10 and all(r["role"] != "user" for r in w)

    def test_zero_included_and_files_only_masked(self, deleted):
        z = deleted.search("-blackmail", k=None, with_metadata=True).collect()
        assert z and all(r["role"] != "user" for r in z)
        assert deleted.search_files("error", max_results=5).collect()

    def test_local_front_end_masked(self, idx, deleted):
        from probe_spark.search.local import LocalSearcher

        live = {
            r["doc_id"]
            for r in deleted.search(Q, k=None, with_metadata=False).collect()
        }
        for d in LocalSearcher(idx).search(Q, k=20):
            assert d["doc_id"] in live

    def test_invalid_predicate_raises(self, spark, idx):
        with pytest.raises(ValueError, match="invalid where predicate"):
            delete_where(spark, idx, "nosuchcol = 1")

    def test_redelete_dedupes(self, spark, idx, deleted):
        before = tombstone_ids(idx)
        n = delete_where(spark, idx, "role = 'user'")
        assert n == before.size  # same rows tombstone again...
        after = tombstone_ids(idx)
        assert (after == before).all()  # ...but readers dedupe


class TestVacuum:
    @pytest.fixture(scope="class")
    def vacuumed(self, spark, idx, deleted):
        from probe_spark.search.engine import SearchEngine

        res = vacuum(spark, idx)
        assert res["vacuumed"] > 0
        return SearchEngine(spark, idx), res

    def test_identical_to_fresh_build(
        self, spark, corpus, vacuumed, tmp_path_factory
    ):
        from probe_spark.index.build import BuildConfig, IndexBuilder
        from probe_spark.search.engine import SearchEngine

        eng, _ = vacuumed
        fresh = str(tmp_path_factory.mktemp("fresh") / "idx")
        IndexBuilder(spark, BuildConfig(n_buckets=8)).build(
            corpus.filter("role <> 'user'"), fresh
        )
        engf = SearchEngine(spark, fresh)
        for q in (Q, "error", "+handler -blackmail", '"whitelist"'):
            got = [
                (r["conv_id"], r["turn_idx"], r["score"])
                for r in eng.search(q, k=15).collect()
            ]
            exp = [
                (r["conv_id"], r["turn_idx"], r["score"])
                for r in engf.search(q, k=15).collect()
            ]
            assert got == exp, q

    def test_tombstones_gone_single_term_reenabled(self, idx, vacuumed):
        eng, _ = vacuumed
        assert not os.path.isdir(os.path.join(idx, "tombstones"))
        assert eng._tombstones() == (None, False)

    def test_verify_passes_post_vacuum(self, spark, idx, vacuumed):
        from probe_spark.index.verify import verify_index

        v = verify_index(spark, idx)
        assert v["ok"], v

    def test_vacuum_without_tombstones_is_noop(self, spark, idx, vacuumed):
        assert "skipped" in vacuum(spark, idx)
