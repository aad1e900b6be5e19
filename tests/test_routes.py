"""Route dispatch of ``SearchEngine.search``: which route each reference
query takes, and that every fast route returns the full path's rows.

The routes (PLANS.md, route table):
  * ``single``  — one optional keyword: scan -> decode-top-k ->
    TakeOrderedAndProject (``_search_single_term``);
  * ``kill``    — a pure conjunction with an absent keyword, answered
    from term-df metadata with no Spark job;
  * ``ranged``  — the doc-range route (``_search_ranged``), which every
    multi-term pure OR takes directly;
  * ``overlay`` — the doc-range route plus the driver-side repair overlay
    of special terms whose registration changes tokenization;
  * ``full``    — the Column-compiled groupBy path (zero-included shapes,
    ``prune=False``, caps exceeded).
"""

from __future__ import annotations

import pytest

from probe_spark.fixtures import REFERENCE_QUERIES


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    from probe_spark.fixtures import transcripts_df
    from probe_spark.index.build import BuildConfig, IndexBuilder
    from probe_spark.search.engine import SearchEngine

    path = str(tmp_path_factory.mktemp("routes") / "idx")
    # small blocks + small segments force multi-block, multi-segment terms
    cfg = BuildConfig(
        n_buckets=4, max_postings_per_segment=256, block_size=32
    )
    IndexBuilder(spark, cfg).build(transcripts_df(spark, 300, 7), path)
    return SearchEngine(spark, path)


def _trace(engine, monkeypatch, query: str, k: int, **kw) -> list[tuple]:
    """Plan ``query`` without collecting its result and return the calls
    it made to the route methods and the metadata reads that plan them, in
    call order."""
    events: list[tuple] = []

    def spy(obj, name: str) -> None:
        orig = getattr(obj, name)

        def wrapped(*args, **kwargs):
            events.append((name, kwargs))
            return orig(*args, **kwargs)

        monkeypatch.setattr(obj, name, wrapped)

    for name in ("_search_single_term", "_search_ranged", "_term_stats",
                 "_fetch"):
        spy(engine, name)
    spy(engine.postings_dir, "tok_segments")
    engine.search(query, k=k, with_metadata=False, **kw)
    return events


def _route(events: list[tuple]) -> str:
    names = [n for n, _ in events]
    if "_search_single_term" in names:
        return "single"
    if "_search_ranged" in names:
        kwargs = events[names.index("_search_ranged")][1]
        return "overlay" if kwargs.get("overlay") is not None else "ranged"
    # the full path fetches token postings; the zero-df kill reads only
    # term-df metadata
    return "full" if "_fetch" in names else "kill"


# route per reference query on this index (fixtures.REFERENCE_QUERIES ids)
EXPECTED_ROUTES = {
    1: "ranged",  # error AND handling
    2: "ranged",  # login OR authentication OR auth
    3: "ranged",  # (error OR exception) AND (handle OR process)
    4: "kill",  # +api +process +load: 'load' never survives tokenization
    5: "ranged",  # database -sqlite
    6: "ranged",  # ip whitelist
    7: "ranged",  # "exact phrase match"
    8: "ranged",  # JWTMiddleware
    9: "ranged",  # parseJSONToHTML5
    10: "ranged",  # api process load data
    11: "full",  # -onlyexcluded: zero-included, every doc qualifies
    12: "ranged",  # oauth2 provider
    13: "single",  # error
    14: "single",  # running
    15: "ranged",  # enableFirewallWhitelist
    16: "ranged",  # whitelist AND firewall
    17: "overlay",  # +handler -blackmail: 'blackmail' splits unregistered
    18: "ranged",  # "whitelist"
    19: "ranged",  # cache OR queue OR worker
    20: "ranged",  # authentication AND (token OR login)
    21: "overlay",  # table -hashtable
    22: "overlay",  # hash -hashtable
    23: "overlay",  # handler OR -blackmail: a hit needs 'handler'
}


class TestRoutePinning:
    @pytest.mark.parametrize(
        "qid,q,k",
        REFERENCE_QUERIES,
        ids=[str(qid) for qid, _q, _k in REFERENCE_QUERIES],
    )
    def test_reference_query_route(self, engine, monkeypatch, qid, q, k):
        route = _route(_trace(engine, monkeypatch, q, k))
        assert route == EXPECTED_ROUTES[qid]

    @pytest.mark.parametrize(
        "q", ["login OR authentication OR auth", "cache OR queue OR worker"]
    )
    def test_pure_or_goes_straight_to_ranged(self, engine, monkeypatch, q):
        # no metadata read or postings fetch plans the query before the
        # doc-range route is entered
        events = _trace(engine, monkeypatch, q, 10)
        assert events[0][0] == "_search_ranged", events

    @pytest.mark.parametrize(
        "q", ["error", "login OR authentication OR auth"]
    )
    def test_no_prune_forces_full_path(self, engine, monkeypatch, q):
        events = _trace(engine, monkeypatch, q, 10, prune=False)
        assert _route(events) == "full"


class TestRankIdentity:
    """Every fast route returns the full path's rows, scores bit-identical."""

    @pytest.mark.parametrize(
        "q,k",
        [
            ("error", 10),
            ("error", 25),
            ("data", 5),
            ("login OR authentication OR auth", 10),
            ("cache OR queue OR worker", 15),
            ("running", 10),
            ("nonexistentzzz", 10),
            ("error AND handling", 10),
        ],
    )
    def test_rank_identical_to_full(self, engine, q, k):
        def rows(meta: bool, prune: bool) -> list:
            res = engine.search(q, k=k, with_metadata=meta, prune=prune)
            cols = ["doc_id", "score"]
            if meta:
                cols += ["matched_terms", "text"]
            return [tuple(r[c] for c in cols) for r in res.collect()]

        for meta in (False, True):
            assert rows(meta, True) == rows(meta, False), meta
