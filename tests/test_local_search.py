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


# doc 1 holds the raw word 'backend' (so the exact term's repair join
# retokenizes it) but negates it, so its retokenization holds no query
# keyword; 'backend' is repair-affecting: special, it stays whole
GATE_TEXTS = [
    "use a backend here",
    "skip -backend now",
    "error in the handler",
    "plain words only",
    "backend error mix",
]


@pytest.fixture(scope="module")
def gate_index(spark, tmp_index_root):
    import datetime

    from probe_spark.index.build import BuildConfig, IndexBuilder

    rows = [
        {
            "conv_id": f"c{i}",
            "turn_idx": 0,
            "role": "user",
            "text": t,
            "tool": "",
            "ts": datetime.datetime(2026, 1, 1),
        }
        for i, t in enumerate(GATE_TEXTS)
    ]
    path = f"{tmp_index_root}/idx_gate"
    IndexBuilder(spark, BuildConfig(n_buckets=2)).build(
        spark.createDataFrame(rows), path
    )
    return path


@pytest.mark.parametrize(
    "query", ['"backend" OR -error', '-error OR "backend"']
)
def test_zero_included_any_keyword_gate(spark, gate_index, query):
    """A doc holding none of the query's keywords qualifies only for an
    only-excluded query.  On the engine's full path (prune=False) the
    repair join adds every affected doc as a candidate, and without the
    gate in _compile_eval doc 1 qualified at score 0 through the excluded
    branch; the local lane and the oracle apply the gate."""
    from probe_spark import oracle
    from probe_spark.functions.tokenizer import tokenize
    from probe_spark.search.engine import SearchEngine
    from probe_spark.search.local import LocalSearcher

    assert tokenize("backend") != tokenize("backend", frozenset({"backend"}))
    k = len(GATE_TEXTS)
    want = oracle.search(GATE_TEXTS, query, k=k)
    local = LocalSearcher(gate_index).search(query, k=k, with_metadata=False)
    dist = (
        SearchEngine(spark, gate_index)
        .search(query, k=k, prune=False, with_metadata=False)
        .collect()
    )
    ids = [w.doc_id for w in want]
    assert ids == [0, 4] or ids == [4, 0]
    assert [r["doc_id"] for r in local] == ids, query
    assert [r["doc_id"] for r in dist] == ids, query
    for w, lr, dr in zip(want, local, dist):
        assert abs(lr["score"] - w.score) < 1e-9, query
        assert abs(dr["score"] - w.score) < 1e-9, query


@pytest.mark.parametrize("ts_type", ["as-built", "naive"])
def test_fetch_meta_rows_and_types(local_index, tmp_path, ts_type):
    """Winner rows from the fragment cache equal the whole-table
    ``take(...).to_pylist()`` rows, value for value and type for type,
    on a docs fragment with null ``tool`` and ``ts`` values, with ``ts``
    as built (UTC-adjusted) and as a naive microsecond timestamp: from
    the Arrow columns of a just-read fragment and from the lists a
    second query converts them to.  A naive ``ts`` is cached as a list
    of ``datetime`` objects; an as-built one stays Arrow (its
    ``to_pylist()`` is the slow path) and gives a ``datetime`` per row."""
    import datetime
    import glob
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from probe_spark.search.local import LocalSearcher

    index = str(tmp_path / "idx")
    shutil.copytree(local_index, index)
    paths = sorted(glob.glob(f"{index}/docs/**/*.parquet", recursive=True))
    for p in paths[1:] if ts_type == "naive" else []:
        t = pq.read_table(p)
        t = t.set_column(
            t.schema.get_field_index("ts"), "ts",
            t.column("ts").cast(pa.timestamp("us")),
        )
        pq.write_table(t, p)
    t = pq.read_table(paths[0])
    n = t.num_rows
    ts = t.column("ts")
    if ts_type == "naive":
        ts = ts.cast(pa.timestamp("us"))
    for name, col, every in (("tool", t.column("tool"), 3), ("ts", ts, 5)):
        vals = col.to_pylist()
        t = t.set_column(
            t.schema.get_field_index(name), name,
            pa.array([None if i % every == 0 else v for i, v in enumerate(vals)], col.type),
        )
    pq.write_table(t, paths[0])

    ls = LocalSearcher(index)
    assert ls._docs_file_map() is not None  # the fragment-cache path
    cols = ls._META_COLUMNS
    want = {}
    for p in paths:
        frag = pq.read_table(p, columns=cols)
        rows = frag.take(np.arange(frag.num_rows)).to_pylist()
        want.update((r["doc_id"], r) for r in rows)
    ids = sorted(want)
    for listed in (False, True):
        got = ls._fetch_meta(ids[::-1])
        assert [e[2] for e in ls._meta_frag_cache.values()] == [listed] * len(paths)
        assert repr([got[d] for d in ids]) == repr([want[d] for d in ids])
        assert sum(got[d]["tool"] is None for d in ids) == -(-n // 3)
        assert sum(got[d]["ts"] is None for d in ids) == -(-n // 5)
        assert sum(type(got[d]["ts"]) is datetime.datetime for d in ids) == (
            len(ids) - (-(-n // 5))
        )
    cached_ts = [e[1][cols.index("ts")] for e in ls._meta_frag_cache.values()]
    if ts_type == "naive":
        assert [type(c) for c in cached_ts] == [list] * len(paths)
        assert sum(type(v) is datetime.datetime for c in cached_ts for v in c) == (
            len(ids) - (-(-n // 5))
        )
    else:
        assert not any(type(c) is list for c in cached_ts)


def test_meta_fragment_cap_of_zero_still_answers(local_index, monkeypatch):
    """``PROBE_SPARK_LOCAL_META_FRAGS=0`` keeps one fragment cached
    instead of evicting from an empty cache: rows equal the default's."""
    from probe_spark.search.local import LocalSearcher

    want = LocalSearcher(local_index).search("error OR handling", k=10)
    monkeypatch.setenv("PROBE_SPARK_LOCAL_META_FRAGS", "0")
    ls = LocalSearcher(local_index)
    assert repr(ls.search("error OR handling", k=10)) == repr(want)
    assert len(ls._meta_frag_cache) == 1
