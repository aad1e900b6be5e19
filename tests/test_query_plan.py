"""The compiled query plan (probe_spark/query/plan.py) every lane reads.

Pins, without Spark:
  * every shape flag and the ``SearchEngine.batchable`` verdict for the 23
    reference queries (values as computed by the per-lane predicates the
    plan replaced);
  * the three no-rows verdicts: ParseError, no keyword, over the cap;
  * that a plan is frozen and survives a pickle round-trip (it rides
    Spark task closures);
  * that the parse and the moved predicates exist once: in
    ``probe_spark/``, ``parse_query(`` is called only by ``query/plan.py``
    and by the independent oracle, and no plan predicate is defined
    outside ``query/plan.py``.
"""

from __future__ import annotations

import dataclasses
import itertools
import pickle
import re
from pathlib import Path
from types import SimpleNamespace

import pytest

from probe_spark.fixtures import REFERENCE_QUERIES
from probe_spark.query.plan import MAX_QUERY_TERMS, QueryPlan

# qid -> (single_keyword_or, pure_conjunction, zero_included, narrowable,
#         batchable)
EXPECTED_FLAGS = {
    1: (False, True, False, True, True),  # error AND handling
    2: (True, False, False, False, True),  # login OR authentication OR auth
    3: (False, False, False, True, True),  # (error OR exception) AND (...)
    4: (False, True, False, True, True),  # +api +process +load
    5: (False, False, False, True, True),  # database -sqlite
    6: (True, False, False, False, True),  # ip whitelist
    7: (False, False, False, False, True),  # "exact phrase match"
    8: (False, True, False, True, True),  # JWTMiddleware
    9: (False, True, False, True, True),  # parseJSONToHTML5
    10: (True, False, False, False, True),  # api process load data
    11: (False, False, True, False, False),  # -onlyexcluded
    12: (False, False, False, True, True),  # oauth2 provider
    13: (True, True, False, False, True),  # error
    14: (True, True, False, False, True),  # running
    15: (False, True, False, True, True),  # enableFirewallWhitelist
    16: (False, True, False, True, True),  # whitelist AND firewall
    17: (False, False, False, True, False),  # +handler -blackmail
    18: (False, False, False, False, True),  # "whitelist"
    19: (False, False, False, True, True),  # cache OR queue OR worker
    20: (False, False, False, True, True),  # authentication AND (...)
    21: (False, False, False, True, False),  # table -hashtable
    22: (False, False, False, True, False),  # hash -hashtable
    23: (False, False, False, False, False),  # handler OR -blackmail
}


def _batchable(query: str) -> bool:
    """``SearchEngine.batchable`` on an index without tombstones, run on
    a stand-in engine: the verdict needs no Spark until a ``where`` scope
    is given."""
    from probe_spark.search.engine import SearchEngine

    stub = SimpleNamespace(_tombstones=lambda: (None, False))
    return SearchEngine.batchable(stub, query)


@pytest.mark.parametrize(
    "qid,query,k",
    REFERENCE_QUERIES,
    ids=[str(qid) for qid, _q, _k in REFERENCE_QUERIES],
)
def test_reference_query_flags(qid, query, k):
    plan = QueryPlan.compile(query)
    assert not plan.empty
    got = (
        plan.single_keyword_or,
        plan.pure_conjunction,
        plan.zero_included,
        plan.narrowable,
        _batchable(query),
    )
    assert got == EXPECTED_FLAGS[qid]
    assert plan.batchable_shape == EXPECTED_FLAGS[qid][4]
    if plan.zero_included:
        # the local lane answers these on its constant-score route
        assert plan.wanted_keywords == []


def test_special_resolution():
    plan = QueryPlan.compile("hash -hashtable")
    assert plan.keywords == ("hash", "hashtable")
    assert plan.lookups == ("hash",)  # 'hashtable' is stem-unstable
    assert not plan.specials["hashtable"].matchable
    assert plan.g_set == frozenset({"hashtable"})
    assert plan.affecting == ("hashtable",)
    assert plan.wanted_keywords == ["hash"]
    whitelist = QueryPlan.compile('"whitelist"')
    assert whitelist.kw_to_match == {"whitelist": "whitelist"}
    assert whitelist.affecting == ()


def test_exact_compiles_one_exact_term():
    plan = QueryPlan.compile("errors", exact=True)
    assert plan.keywords == ("errors",)
    assert QueryPlan.compile("errors").keywords == ("error",)


def test_idfs_skip_zero_df_and_unmatchable():
    from probe_spark.search.ranged import bm25_idf

    plan = QueryPlan.compile("hash OR cache -hashtable")
    idfs = plan.idfs({"hash": 3, "cach": 0}, 100)
    assert idfs == {"hash": bm25_idf(100, 3)}


class TestNoRowsVerdicts:
    def test_parse_error(self):
        plan = QueryPlan.compile(")")
        assert plan.empty
        assert plan.expr is None and plan.error
        assert plan.wanted_keywords == []
        assert plan.idfs({}, 10) == {}
        assert _batchable(")")  # an empty contribution never falls back

    def test_no_keyword(self):
        plan = QueryPlan.compile("the")  # a stop word leaves no keyword
        assert plan.expr is not None and plan.error is None
        assert not plan.keywords
        assert plan.empty

    def test_over_cap(self):
        words = [
            "zq" + "".join(p)
            for p in itertools.islice(
                itertools.product("bcdfghjklm", repeat=3),
                MAX_QUERY_TERMS + 1,
            )
        ]
        over = QueryPlan.compile(" OR ".join(words))
        assert len(over.keywords) == MAX_QUERY_TERMS + 1
        assert over.empty
        at_cap = QueryPlan.compile(" OR ".join(words[:MAX_QUERY_TERMS]))
        assert len(at_cap.keywords) == MAX_QUERY_TERMS
        assert not at_cap.empty


def test_pickle_round_trip_and_frozen():
    for _qid, query, _k in REFERENCE_QUERIES:
        plan = QueryPlan.compile(query)
        back = pickle.loads(pickle.dumps(plan))
        assert back == plan
        assert back.kw_to_match == plan.kw_to_match
    plan = QueryPlan.compile("error AND handling")
    with pytest.raises(dataclasses.FrozenInstanceError):
        plan.narrowable = False  # type: ignore[misc]
    with pytest.raises(dataclasses.FrozenInstanceError):
        QueryPlan.compile("-x").specials["x"].matchable = False


PACKAGE = Path(__file__).resolve().parent.parent / "probe_spark"
MOVED = (
    "SpecialPlan",
    "special_plan",
    "special_keywords",
    "affecting_specials",
    "zero_included",
    "_single_keyword_or",
    "_pure_conjunction",
    "_narrowable",
    "MAX_QUERY_TERMS",
)


def _sources():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE).as_posix(), path.read_text()


def test_parse_query_called_only_by_plan_and_oracle():
    call = re.compile(r"(?<!def )\bparse_query\(")
    callers = {rel for rel, src in _sources() if call.search(src)}
    assert callers == {"query/plan.py", "oracle.py"}


def test_moved_predicates_defined_only_in_plan():
    names = "|".join(MOVED)
    definition = re.compile(
        rf"^\s*(?:def|class)\s+(?:{names})\b|^(?:{names})\s*=", re.M
    )
    definers = {
        rel for rel, src in _sources() if definition.search(src)
    }
    # the oracle keeps its own term cap as the independent reference
    assert definers == {"query/plan.py", "oracle.py"}
    oracle = (PACKAGE / "oracle.py").read_text()
    assert [m.group(0).strip() for m in definition.finditer(oracle)] == [
        "MAX_QUERY_TERMS ="
    ]
