"""Property tests for the driver-local path's candidate narrowing.

Round-5 rework: `LocalSearcher.search` narrows the candidate set from
the AST (intersections for conjunctive/required/negated shapes, a
constant-score walk for only-excluded queries) instead of always scoring
the union of every term's postings.  The reference-suite parity tests
pin the 23 fixed shapes; this pins hypothesis-generated boolean queries
(nested AND/OR/parens, +required, -excluded, quoted exact) two ways:

  1. against `probe_spark.oracle.search` — the faithful single-node
     ranking.rs / elastic_query.rs mirror — on a real multi-segment
     index;
  2. narrowing ON vs OFF (the compiled plan's `narrowable` flag forced
     off; a spy shows the OFF side never builds a narrowed candidate set)
     through the real `search()` — byte-identical rows either way.
"""

from __future__ import annotations

import dataclasses
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from probe_spark.fixtures import transcripts_df, transcripts_rows
from probe_spark.query.parser import ParseError, parse_query

N_CONVS = 40
SEED = 11

# words that actually occur in the synthetic transcripts plus absent ones
VOCAB = [
    "error", "handler", "database", "whitelist", "api", "process",
    "cache", "token", "load", "zzznothing",
]


@st.composite
def query_strings(draw, depth: int = 2) -> str:
    if draw(st.integers(0, 5)) == 0:
        # parenthesised right-nested OR: "a OR (b OR c)" parses as
        # Or(a, Or(b, c)), not the left spine of an unparenthesised chain
        a, b, c = (draw(st.sampled_from(VOCAB)) for _ in range(3))
        return f"{a} OR ({b} OR {c})"
    if depth == 0 or draw(st.booleans()):
        word = draw(st.sampled_from(VOCAB))
        prefix = draw(st.sampled_from(["", "", "", "+", "-"]))
        if draw(st.integers(0, 4)) == 0:
            return f'{prefix}"{word}"'
        return prefix + word
    left = draw(query_strings(depth=depth - 1))
    right = draw(query_strings(depth=depth - 1))
    op = draw(st.sampled_from([" AND ", " OR ", " "]))
    if draw(st.booleans()):
        return f"({left}){op}({right})"
    return f"{left}{op}{right}"


@pytest.fixture(scope="session")
def prop_index(spark, tmp_index_root):
    from probe_spark.index.build import BuildConfig, IndexBuilder

    path = f"{tmp_index_root}/idx_local_prop"
    cfg = BuildConfig(n_buckets=8, max_postings_per_segment=64)
    IndexBuilder(spark, cfg).build(
        transcripts_df(spark, N_CONVS, SEED), path
    )
    return path


@pytest.fixture(scope="session")
def prop_searcher(prop_index):
    from probe_spark.search.local import LocalSearcher

    return LocalSearcher(prop_index)


@pytest.fixture(scope="session")
def prop_texts():
    return [r["text"] for r in transcripts_rows(N_CONVS, SEED)]


@settings(
    max_examples=100,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(query=query_strings())
def test_local_random_queries_match_oracle(prop_searcher, prop_texts, query):
    from probe_spark import oracle

    try:
        parse_query(query)
    except ParseError:
        return
    want = oracle.search(prop_texts, query, k=10)
    got = prop_searcher.search(query, k=10, with_metadata=False)
    assert [r["doc_id"] for r in got] == [w.doc_id for w in want], query
    for g, w in zip(got, want):
        assert math.isclose(g["score"], w.score, rel_tol=0, abs_tol=1e-9)


@settings(
    max_examples=100,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(query=query_strings())
def test_dense_disjunction_on_off_identical(prop_searcher, query, monkeypatch):
    from probe_spark.search.local import LocalSearcher

    try:
        parse_query(query)
    except ParseError:
        return
    on = prop_searcher.search(query, k=10)
    monkeypatch.setattr(
        LocalSearcher,
        "_search_disjunctive_dense",
        lambda self, *a, **kw: None,
    )
    off = prop_searcher.search(query, k=10)
    monkeypatch.undo()
    assert [
        (r["doc_id"], r["score"], r.get("matched_terms")) for r in on
    ] == [(r["doc_id"], r["score"], r.get("matched_terms")) for r in off], (
        query
    )


@settings(
    max_examples=100,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(query=query_strings())
def test_narrowing_on_off_identical(prop_searcher, query, monkeypatch):
    from probe_spark.query.plan import QueryPlan
    from probe_spark.search.local import LocalSearcher

    plan = QueryPlan.compile(query)
    if plan.expr is None:
        return
    calls: list[int] = []
    cand_set = LocalSearcher._cand_set

    def spy(self, *args):
        calls.append(1)
        return cand_set(self, *args)

    monkeypatch.setattr(LocalSearcher, "_cand_set", spy)
    on = prop_searcher.search(query, k=10)
    narrows = not plan.empty and plan.narrowable and not plan.zero_included
    if plan.zero_included:
        # the local lane's constant-score route relies on this
        assert plan.wanted_keywords == [], query
    assert len(calls) == int(narrows), query
    # narrowing OFF: every plan the searcher compiles says not narrowable
    compile_plan = QueryPlan.compile
    monkeypatch.setattr(
        QueryPlan,
        "compile",
        classmethod(
            lambda cls, q, exact=False: dataclasses.replace(
                compile_plan(q, exact), narrowable=False
            )
        ),
    )
    calls.clear()
    off = prop_searcher.search(query, k=10)
    monkeypatch.undo()
    assert not calls, query
    assert [
        (r["doc_id"], r["score"], r.get("matched_terms")) for r in on
    ] == [(r["doc_id"], r["score"], r.get("matched_terms")) for r in off], (
        query
    )
