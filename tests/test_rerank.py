"""Two-stage retrieve-then-rerank (search/rerank.py — the reference's
cross-encoder reranker shape, result_ranking.rs:368-470, re-expressed as
BM25 top-N + a second scorer over only those N rows)."""

from __future__ import annotations

import pytest

from probe_spark.fixtures import transcripts_df

N_CONVS = 40
SEED = 7


@pytest.fixture(scope="module")
def rr_engine(spark, tmp_index_root):
    from probe_spark.index.build import BuildConfig, IndexBuilder
    from probe_spark.search.engine import SearchEngine

    path = f"{tmp_index_root}/idx_rerank"
    IndexBuilder(spark, BuildConfig(n_buckets=8)).build(
        transcripts_df(spark, N_CONVS, SEED), path
    )
    return SearchEngine(spark, path)


def test_overlap_rerank_orders_by_coverage_then_score(rr_engine):
    from probe_spark.search.rerank import rerank

    q = "error OR handler"
    out = rerank(rr_engine, q, k=20, n_candidates=50).collect()
    assert out, "expected rerank results"
    # coverage scores are multiples of 1/2 for a two-keyword query
    assert all(r["rerank_score"] in (0.0, 0.5, 1.0) for r in out)
    # ordering: rerank desc, then stage-1 score desc, then doc_id asc
    keys = [(-r["rerank_score"], -r["score"], r["doc_id"]) for r in out]
    assert keys == sorted(keys)
    # rerank is a permutation-prefix of the stage-1 candidates
    cand = {
        r["doc_id"]
        for r in rr_engine.search(q, k=50, with_metadata=False).collect()
    }
    assert all(r["doc_id"] in cand for r in out)


def test_overlap_rerank_matches_manual_recompute(rr_engine):
    from probe_spark.search.rerank import rerank, rerank_rows

    q = "error OR handler"
    cands = rr_engine.search(q, k=50, with_metadata=True).collect()
    manual = rerank_rows(cands, q, k=20)
    got = rerank(rr_engine, q, k=20, n_candidates=50).collect()
    assert [r["doc_id"] for r in got] == [d["doc_id"] for d in manual]
    for r, d in zip(got, manual):
        assert abs(r["rerank_score"] - d["rerank_score"]) < 1e-9
        assert abs(r["score"] - round(d["score"], 6)) < 1e-6


def test_overlap_excluded_terms_not_wanted(rr_engine):
    from probe_spark.search.rerank import _wanted_keywords

    # the excluded keyword is not part of the coverage denominator
    assert _wanted_keywords("hash -hashtable") == ["hash"]


def test_cross_encoder_requires_runtime(rr_engine):
    from probe_spark.search.rerank import rerank

    df = rerank(
        rr_engine, "error OR handler", k=5, n_candidates=20,
        scorer="cross-encoder:ms-marco-MiniLM-L-6-v2",
    )
    try:
        import sentence_transformers  # noqa: F401

        pytest.skip("BERT runtime present; stub-gate not exercised")
    except ImportError:
        pass
    with pytest.raises(Exception, match="sentence-transformers"):
        df.collect()


def test_boost_multiplies_and_resorts(rr_engine):
    from probe_spark.search.rerank import boost

    q = "error OR handler"
    table = {"assistant": 2.0, "tool": 0.5}
    out = boost(
        rr_engine, q, k=20, n_candidates=50, role_boosts=table
    ).collect()
    assert out
    # manual recompute over the same candidate cut
    cands = rr_engine.search(q, k=50, with_metadata=True).collect()
    manual = sorted(
        (
            (
                -r["score"] * table.get(r["role"], 1.0),
                r["doc_id"],
                round(r["score"] * table.get(r["role"], 1.0), 6),
                round(r["score"], 6),
            )
            for r in cands
        ),
    )[:20]
    assert [(r["doc_id"], r["score"], r["bm25_score"]) for r in out] == [
        (d, s, b) for _neg, d, s, b in manual
    ]
    # the unboosted BM25 survives alongside the boosted score
    assert any(r["score"] != r["bm25_score"] for r in out)


def test_boost_unknown_roles_default_to_one(rr_engine):
    from probe_spark.search.rerank import boost

    q = "error OR handler"
    out = boost(
        rr_engine, q, k=10, n_candidates=50, role_boosts={"nope": 9.0}
    ).collect()
    plain = rr_engine.search(q, k=10, with_metadata=False).collect()
    assert [(r["doc_id"], r["score"]) for r in out] == [
        (r["doc_id"], round(r["score"], 6)) for r in plain
    ]


def test_cli_overlap_reranker(rr_engine, capsys):
    import json

    from probe_spark.cli import main

    rc = main(
        [
            "search", "error OR handler", "--index",
            rr_engine.index_path, "--max-results", "5",
            "--reranker", "overlap", "--format", "json", "--local",
        ]
    )
    assert rc == 0
    lines = [
        json.loads(x)
        for x in capsys.readouterr().out.strip().splitlines()
        if x.startswith("{")
    ]
    assert len(lines) == 5
    keys = [
        (-r["rerank_score"], -r["score"], r["doc_id"]) for r in lines
    ]
    assert keys == sorted(keys)


def test_rerank_rows_honors_exact():
    from probe_spark.search.rerank import rerank_rows

    # an exact query matches the unstemmed keyword, so coverage must be
    # counted against it, not against the stem
    rows = [{"doc_id": 1, "score": 1.0, "matched_terms": ["errors"]}]
    out = rerank_rows(rows, "errors", exact=True)
    assert out[0]["rerank_score"] == 1.0
    assert rerank_rows(rows, "errors")[0]["rerank_score"] == 0.0


def test_rerank_rows_unparsable_query_returns_no_rows():
    from probe_spark.search.rerank import _wanted_keywords, rerank_rows

    # every search lane answers an unparsable query with no rows
    assert rerank_rows([], ")") == []
    assert _wanted_keywords(")") == []


def test_overlap_rerank_exact_matches_manual_recompute(rr_engine):
    from probe_spark.search.rerank import rerank, rerank_rows

    q = "error"
    cands = rr_engine.search(q, k=50, exact=True).collect()
    assert cands, "expected exact-match candidates"
    manual = rerank_rows(cands, q, k=20, exact=True)
    assert all(d["rerank_score"] == 1.0 for d in manual)
    got = rerank(rr_engine, q, k=20, n_candidates=50, exact=True).collect()
    assert [r["doc_id"] for r in got] == [d["doc_id"] for d in manual]
    assert all(r["rerank_score"] == 1.0 for r in got)
