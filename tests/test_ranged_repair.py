"""Special-term repair on the doc-range path (`_repair_overlay`): queries
whose exact/excluded terms change doc tokenization ride the one-exchange
ranged evaluation with a driver-resident repaired overlay instead of the
full groupBy path — and fall back to the full path, with identical
results, when the affected set exceeds the driver caps.

Reference semantics being reproduced: global add_special_term
retokenization (file_processing.rs:1090-1180, ranking.rs:186-208).
"""

from __future__ import annotations

import os

import pytest

from probe_spark import oracle
from probe_spark.fixtures import transcripts_df, transcripts_rows
from probe_spark.search import repair

N_CONVS = 60
SEED = 42

# every shape the overlay must cover: required+excluded, plain+excluded
# (unmatchable special whose registration still shifts df), optional OR
# excluded, and an exact term (repair via camel fragments)
REPAIR_QUERIES = [
    "+handler -blackmail",
    "table -hashtable",
    "hash -hashtable",
    "handler OR -blackmail",
    '"hashtable" OR error',
]


@pytest.fixture(scope="module")
def corpus_rows():
    return transcripts_rows(N_CONVS, SEED)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    from probe_spark.index.build import BuildConfig, IndexBuilder
    from probe_spark.search.engine import SearchEngine

    path = str(tmp_path_factory.mktemp("ranged_repair") / "idx")
    IndexBuilder(spark, BuildConfig(n_buckets=8)).build(
        transcripts_df(spark, N_CONVS, SEED), path
    )
    return SearchEngine(spark, path)


_DRIVER_PID = os.getpid()
_RETOK_CHUNK = repair.retok_chunk


def _retok_dies_in_worker(*args):
    """``retok_chunk`` that kills any forked worker running it."""
    if os.getpid() != _DRIVER_PID:
        os._exit(1)
    return _RETOK_CHUNK(*args)


@pytest.fixture
def retok_pool(monkeypatch):
    """One retokenize worker per affected doc, from a pool forked inside
    the test (so a patched ``retok_chunk`` reaches the workers), shut
    down after it."""
    monkeypatch.setattr(repair, "_DOCS_PER_PROC", 1)
    monkeypatch.setattr(repair, "_POOL", None)
    monkeypatch.setattr(repair, "_POOL_PROCS", 0)
    yield
    if repair._POOL is not None:
        repair._POOL.shutdown()


def _ids_scores(rows):
    return [(r["doc_id"], r["score"]) for r in rows]


class TestOverlayPath:
    @pytest.mark.parametrize("query", REPAIR_QUERIES)
    def test_rank_identity_via_overlay(self, engine, corpus_rows, query):
        got = engine.search(query, k=15, with_metadata=False).collect()
        expected = oracle.search(
            [r["text"] for r in corpus_rows], query, k=15
        )
        assert [r["doc_id"] for r in got] == [e.doc_id for e in expected]
        for g, e in zip(got, expected):
            assert g["score"] == pytest.approx(e.score, abs=1e-9)

    def test_overlay_taken_not_full_path(self, engine):
        engine._overlay_cache.clear()
        engine._repair_cache.clear()
        engine.search("+handler -blackmail", k=10, with_metadata=False).collect()
        # the repair rode the overlay: bundle cached, full-path repair
        # machinery never engaged
        assert len(engine._overlay_cache) == 1
        bundle = next(iter(engine._overlay_cache.values()))
        assert bundle is not None and bundle[0].size > 0
        assert not engine._repair_cache

    def test_overlay_plan_has_no_groupby(self, engine):
        df = engine.search("+handler -blackmail", k=10, with_metadata=False)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" not in plan, plan

    def test_matched_terms_from_overlay(self, engine, corpus_rows):
        got = engine.search("hash -hashtable", k=15).collect()
        texts = {r["doc_id"]: r["text"] for r in got}
        from probe_spark.functions.tokenizer import tokenize

        for r in got:
            toks = set(tokenize(texts[r["doc_id"]], frozenset({"hashtable"})))
            assert set(r["matched_terms"]) == {"hash"} & toks


class TestExcludeOnRanged:
    def test_session_paging_with_repair_overlay(self, engine, spark):
        # repair overlay + session-exclude on the same ranged plan:
        # page 2 = next-k unseen, union == unfiltered top-2k
        q = "+handler -blackmail"
        ids1 = [
            r["doc_id"]
            for r in engine.search(q, k=6, with_metadata=False).collect()
        ]
        p2 = engine.search(
            q,
            k=6,
            with_metadata=False,
            exclude=spark.createDataFrame([(i,) for i in ids1], "doc_id long"),
        ).collect()
        both = engine.search(q, k=12, with_metadata=False).collect()
        assert ids1 + [r["doc_id"] for r in p2] == [
            r["doc_id"] for r in both
        ]

    def test_exclude_identical_to_full_path(self, engine, spark, monkeypatch):
        q = "error OR handling"
        seen = spark.createDataFrame([(3,), (17,), (42,)], "doc_id long")
        via_ranged = engine.search(
            q, k=10, with_metadata=False, exclude=seen
        ).collect()
        import probe_spark.search.engine as eng_mod

        monkeypatch.setattr(eng_mod, "EXCLUDE_COLLECT_CAP", 0)
        via_full = engine.search(
            q, k=10, with_metadata=False, exclude=seen
        ).collect()
        assert _ids_scores(via_ranged) == _ids_scores(via_full)


class TestCapFallback:
    @pytest.mark.parametrize("query", REPAIR_QUERIES[:3])
    def test_full_path_identical_past_cap(
        self, engine, monkeypatch, query
    ):
        via_overlay = engine.search(query, k=15, with_metadata=False).collect()
        import probe_spark.search.engine as eng_mod

        monkeypatch.setattr(eng_mod, "REPAIR_OVERLAY_CAP", 0)
        engine._overlay_cache.clear()
        via_full = engine.search(query, k=15, with_metadata=False).collect()
        # past the cap the bundle is infeasible -> full repair path,
        # bit-identical results
        assert next(iter(engine._overlay_cache.values())) is None
        assert _ids_scores(via_overlay) == _ids_scores(via_full)
        engine._overlay_cache.clear()


class TestDriverRetokParity:
    """Round 5: the overlay is built driver-side (pyarrow read + pooled
    retokenize, search/repair.py) when the affected set fits
    DRIVER_RETOK_CAP; the distributed join remains the at-scale path.
    The two constructions must be array-identical."""

    def test_driver_vs_distributed_arrays(self, engine):
        import numpy as np

        g = frozenset({"hashtable"})
        lookups = ("hash", "hashtabl", "tabl")
        ids = engine.postings_dir.raw_doc_ids(["hashtable"])
        assert ids is not None and ids.size
        a = repair.driver_retok(engine.index_path, ids, g, lookups)
        b = engine._retok_distributed(ids, g, lookups)
        for k in ("ids", "hits", "olds", "dl", "dl_delta"):
            assert np.array_equal(a[k], b[k]), k

    @pytest.mark.parametrize("worker", ["alive", "dies"])
    def test_pooled_vs_distributed_arrays(
        self, engine, retok_pool, monkeypatch, worker
    ):
        """The forked-pool retokenize gives the distributed arrays; a
        worker that dies breaks the pool instead of hanging it, and the
        driver retokenizes the set itself."""
        import numpy as np

        if worker == "dies":
            monkeypatch.setattr(repair, "retok_chunk", _retok_dies_in_worker)
        g = frozenset({"hashtable"})
        lookups = ("hash", "hashtabl", "tabl")
        ids = engine.postings_dir.raw_doc_ids(["hashtable"])
        assert ids is not None and ids.size >= 2
        a = repair.driver_retok(engine.index_path, ids, g, lookups)
        assert repair._POOL_PROCS >= 2  # the pooled branch ran
        assert (repair._POOL is None) == (worker == "dies")
        b = engine._retok_distributed(ids, g, lookups)
        for k in ("ids", "hits", "olds", "dl", "dl_delta"):
            assert np.array_equal(a[k], b[k]), k

    def test_sidecar_roundtrip_and_fresh_engine(self, spark, engine):
        """First special query writes _repairs/; a FRESH engine process
        shape (new SearchEngine) loads it and returns identical results."""
        import os

        from probe_spark.search.engine import SearchEngine

        q = "hash -hashtable"
        want = _ids_scores(
            engine.search(q, k=10, with_metadata=False).collect()
        )
        rep_dir = os.path.join(
            engine.index_path.removeprefix("file://"), "_repairs"
        )
        assert os.path.isdir(rep_dir) and os.listdir(rep_dir)
        cold = SearchEngine(spark, engine.index_path)
        got = _ids_scores(cold.search(q, k=10, with_metadata=False).collect())
        assert got == want

    def test_sidecar_invalidated_by_docs_rewrite(self, engine, tmp_path):
        """A different docs layout must never match a stale sidecar: the
        fingerprint keys the filename, so load_sidecar returns None."""
        g = frozenset({"hashtable"})
        lookups = ("hash", "tabl")
        fp1 = repair.docs_fingerprint(engine.index_path)
        assert fp1 is not None
        # same key, other index path (no sidecar there)
        assert repair.load_sidecar(str(tmp_path), g, lookups) is None

    def test_vacuum_clears_repairs(self, spark, tmp_path):
        import os

        from probe_spark.fixtures import transcripts_df
        from probe_spark.index.build import BuildConfig, IndexBuilder
        from probe_spark.index.maintenance import delete_where, vacuum
        from probe_spark.search.engine import SearchEngine

        idx = str(tmp_path / "idx")
        IndexBuilder(spark, BuildConfig(n_buckets=8)).build(
            transcripts_df(spark, 30, 11), idx
        )
        eng = SearchEngine(spark, idx)
        eng.search("hash -hashtable", k=5).collect()
        assert os.path.isdir(os.path.join(idx, "_repairs"))
        delete_where(spark, idx, "turn_idx = 0")
        vacuum(spark, idx)
        assert not os.path.isdir(os.path.join(idx, "_repairs"))
        # post-vacuum cold query rebuilds the overlay against the new
        # docs layout and stays consistent
        eng2 = SearchEngine(spark, idx)
        rows = eng2.search("hash -hashtable", k=5).collect()
        assert all(r["score"] >= 0 for r in rows)
