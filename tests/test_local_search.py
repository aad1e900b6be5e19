"""Rank-identity of the driver-local query path (search/local.py) against
the distributed engine AND the pure-Python oracle on the reference query
set — the low-latency front-end must answer byte-for-byte the same top-k.
"""

from __future__ import annotations

import pytest

from probe_spark.fixtures import (
    REFERENCE_QUERIES,
    transcripts_df,
    transcripts_rows,
)

N_CONVS = 45
SEED = 77


@pytest.fixture(scope="session")
def local_index(spark, tmp_index_root):
    from probe_spark.index.build import BuildConfig, IndexBuilder

    path = f"{tmp_index_root}/idx_local"
    df = transcripts_df(spark, N_CONVS, SEED)
    cfg = BuildConfig(n_buckets=8, max_postings_per_segment=64)  # multi-segment
    IndexBuilder(spark, cfg).build(df, path)
    return path


@pytest.fixture(scope="session")
def local_searcher(local_index):
    from probe_spark.search.local import LocalSearcher

    return LocalSearcher(local_index)


@pytest.fixture(scope="session")
def dist_engine(spark, local_index):
    from probe_spark.search.engine import SearchEngine

    return SearchEngine(spark, local_index)


@pytest.mark.parametrize("qid,query,k", REFERENCE_QUERIES)
def test_local_matches_distributed(local_searcher, dist_engine, qid, query, k):
    local = local_searcher.search(query, k=k)
    dist = dist_engine.search(query, k=k).collect()
    assert [r["doc_id"] for r in local] == [r["doc_id"] for r in dist], query
    for lr, dr in zip(local, dist):
        assert abs(lr["score"] - dr["score"]) < 1e-9, query
    # metadata parity on the winners
    for lr, dr in zip(local, dist):
        assert lr["conv_id"] == dr["conv_id"]
        assert lr["turn_idx"] == dr["turn_idx"]
        assert lr["text"] == dr["text"]
        assert lr["matched_terms"] == dr["matched_terms"], query


@pytest.mark.parametrize(
    "qid,query,k",
    [q for q in REFERENCE_QUERIES if q[0] in (1, 4, 5, 11, 13, 18)],
)
def test_local_matches_oracle(local_searcher, qid, query, k):
    from probe_spark import oracle

    rows = transcripts_rows(N_CONVS, SEED)
    want = oracle.search([r["text"] for r in rows], query, k=k)
    got = local_searcher.search(query, k=k, with_metadata=False)
    assert [r["doc_id"] for r in got] == [w.doc_id for w in want], query
    for g, w in zip(got, want):
        assert abs(g["score"] - w.score) < 1e-9, query


def test_local_garbage_and_empty(local_searcher):
    assert local_searcher.search("zzzqqq") == []
    assert local_searcher.search("the and of") == []
    assert local_searcher.search("+error -error") == []


def test_local_latency_smoke(local_searcher):
    """Warm point query answers well under a second (no Spark jobs)."""
    import time

    local_searcher.search("error AND handling", k=10)  # warm caches
    t0 = time.time()
    local_searcher.search("error AND handling", k=10)
    assert time.time() - t0 < 1.0


@pytest.mark.parametrize(
    "qid,query,k", [q for q in REFERENCE_QUERIES if q[0] in (1, 5, 13, 23)]
)
def test_local_matched_terms_parity(local_searcher, dist_engine, qid, query, k):
    """matched_terms (round 5: required for QueryService replica routing)
    must equal the engine's column construction per winner."""
    local = local_searcher.search(query, k=k)
    dist = dist_engine.search(query, k=k).collect()
    for lr, dr in zip(local, dist):
        assert lr["matched_terms"] == list(dr["matched_terms"]), query


@pytest.mark.parametrize(
    "query", ["error OR handler", "error OR handler OR timeout", "error"]
)
def test_local_k_zero_returns_nothing(local_searcher, dist_engine, query):
    """k=0 answers no rows on every route, the dense disjunction included
    (it used to index np.partition out of bounds), as the engine does."""
    assert local_searcher.search(query, k=10)  # the terms do occur
    assert local_searcher.search(query, k=0) == []
    assert dist_engine.search(query, k=0).collect() == []
