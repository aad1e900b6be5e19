"""One compiled query plan, shared by every lane.

``QueryPlan.compile(query, exact)`` parses a query once and derives every
fact a lane decides from the AST alone: whether the query yields rows at
all, how each keyword resolves to a doc-token lookup (plain terms by
themselves, exact/excluded terms by the special-term rules below), the
G set of registered special words and which of them change tokenization,
and the shape flags the routes read (PLANS.md, route table).  The
distributed engine, its doc-range workers and batch path, the driver-
local searcher, the percolator and the reranker all read these facts
from the plan instead of re-deriving them.  The record is frozen and
picklable, so it can ride a Spark task closure as it is.

Mirrors the reference's ``QueryPlan`` (src/search/query.rs:32-51, built
at :81-201): the AST plus its term set, the excluded/required structure
and precomputed flags.  The scalar oracle (probe_spark/oracle.py) keeps
its own parse, as the independent reference.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from probe_spark.functions import tokenizer as tok
from probe_spark.functions.porter2 import stem
from probe_spark.query import ast
from probe_spark.query.parser import ParseError, parse_query
from probe_spark.search.ranged import bm25_idf

# ranking.rs:162-182: the reference's query-token map is u8-indexed, so a
# query with more keywords than this returns no rows
MAX_QUERY_TERMS = 256


@dataclass(frozen=True)
class SpecialPlan:
    keyword: str  # the query-map lookup key (original case)
    matchable: bool  # False => present nowhere
    lookup: str  # term string to fetch


def special_plan(keyword: str) -> SpecialPlan:
    """Resolve how an exact/excluded keyword matches docs.

    Reference semantics under the default SIMD dispatch
    (simd_tokenization.rs:120-133): a special keyword K matches a doc iff
    the G-tokenization emits K.  matchable therefore requires: all-
    lowercase alphanumeric, not a stop word, and the keyword survives its
    own emission (kw == stem(kw) or kw is an exception term) — otherwise
    the reference's query-token-map lookup never matches a doc token
    (ranking.rs:186-201 with lowercase doc tokens).  When the base
    tokenizer keeps kw whole, base tokenization equals the per-query-
    special tokenization and the token index alone is exact; when base
    would split kw, whole-word occurrences come from the raw index (the
    repair, see ``affecting_specials``) and stem-collisions from other
    words still come from the token index.
    """
    w = keyword.lower()
    if keyword != w or not w or not all(c.isalnum() for c in w):
        return SpecialPlan(keyword, False, w)
    if tok.is_stop_word(w):
        return SpecialPlan(keyword, False, w)
    emitted = {stem(w)} | ({w} if tok.is_exception_term(w) else set())
    if w not in emitted:
        return SpecialPlan(keyword, False, w)
    return SpecialPlan(keyword, True, w)


def special_keywords(expr: ast.Expr) -> set[str]:
    """Keywords of exact/excluded terms — they use special resolution
    (raw-token lookup / G-set registration) instead of plain stemming."""
    out: set[str] = set()
    for t in ast.walk_terms(expr):
        if t.exact or t.excluded:
            out.update(t.keywords)
    return out


def affecting_specials(
    plans: "dict[str, SpecialPlan]",
) -> "tuple[frozenset, list[str]]":
    """(G set, registration-affecting words): special lookups whose G-set
    registration CHANGES how their own raw word tokenizes — those docs
    need the retokenization repair before scoring."""
    g_set = frozenset(
        p.lookup
        for p in plans.values()
        if p.lookup and all(c.isalnum() for c in p.lookup)
    )
    affecting = sorted(
        w for w in g_set if tok.tokenize(w) != tok.tokenize(w, g_set)
    )
    return g_set, affecting


def zero_included(expr: ast.Expr) -> bool:
    """True when a doc holding NO query keyword still qualifies — such
    queries must score the whole corpus and can never ride a postings-
    driven candidate path.  Only a query whose terms are all excluded
    qualifies (the any-keyword gate, ``ast.gate_keywords``, rejects a doc
    holding no keyword otherwise), so every such doc scores 0.0."""
    return ast.evaluate(expr, lambda kw: False) and (
        ast.score(expr, lambda kw: 0.0) is not None
    )


def _single_keyword_or(expr: ast.Expr) -> bool:
    """True iff the query is a flat disjunction of single-keyword optional
    terms (one such term included).  Then every doc holding a keyword
    qualifies and its score is the plain sum of its keywords' BM25 —
    multi-keyword terms have all-of semantics, and AND/required/excluded/
    exact shapes change which docs qualify."""
    if isinstance(expr, ast.Term):
        return (
            not expr.required
            and not expr.excluded
            and not expr.exact
            and len(expr.keywords) == 1
        )
    if isinstance(expr, ast.Or):
        return _single_keyword_or(expr.left) and _single_keyword_or(
            expr.right
        )
    return False


def _pure_conjunction(expr: ast.Expr) -> bool:
    """True when expr is an And-tree of simple Terms (no Or, no excluded/
    exact/field terms, non-empty keywords) whose required flags are
    all-or-none.  Then the boolean evaluation reduces to "EVERY keyword
    present" (Term = all-of its keywords; And = both sides; the required-
    anywhere check adds nothing new when all terms are required, and an
    optional term among required ones would weaken the gate — hence
    all-or-none) and the score to the plain sum of keyword BM25, so one
    keyword with df == 0 makes the query unsatisfiable."""
    terms: list[ast.Term] = []

    def rec(e: ast.Expr) -> bool:
        if isinstance(e, ast.Term):
            if e.excluded or e.exact or e.field is not None or not e.keywords:
                return False
            terms.append(e)
            return True
        if isinstance(e, ast.And):
            return rec(e.left) and rec(e.right)
        return False

    if not rec(expr):
        return False
    req = [t.required for t in terms]
    return all(req) or not any(req)


def _narrowable(expr: ast.Expr) -> bool:
    """True iff AST-driven candidate narrowing can shrink the candidate
    set below the all-postings union: an And node, a required term, or a
    multi-keyword (all-of) term introduces an intersection somewhere.
    Pure disjunctions of single-keyword optional terms return False —
    their candidate set IS the union."""
    if isinstance(expr, ast.Term):
        return expr.required or len(expr.keywords) > 1
    if isinstance(expr, ast.And):
        return True
    return _narrowable(expr.left) or _narrowable(expr.right)


@dataclass(frozen=True)
class QueryPlan:
    """A parsed query and every fact the lanes derive from its AST.

    ``expr`` is None when the query does not parse (``error`` then holds
    the ParseError message).  ``kw_to_match`` maps each keyword to the
    doc-token string it looks up; an unmatchable special keyword is absent
    (present nowhere).  ``lookups`` is its sorted distinct values,
    ``keywords`` the sorted distinct keywords of every term (the query-
    term set, in the order of ``matched_terms``).  ``g_set`` holds the registered special words and
    ``affecting`` the ones whose registration changes how their own raw
    word tokenizes — docs holding those need the retokenization repair.

    Shape flags: ``single_keyword_or`` (a flat OR of single-keyword
    optional terms), ``pure_conjunction`` (an And-tree of simple terms,
    all required or none), ``zero_included`` (a doc holding no keyword
    qualifies) and ``narrowable`` (the candidate set can be cut below the
    postings union)."""

    expr: "ast.Expr | None" = None
    error: "str | None" = None
    keywords: tuple = ()
    specials: dict = field(default_factory=dict)  # keyword -> SpecialPlan
    kw_to_match: dict = field(default_factory=dict)
    lookups: tuple = ()
    g_set: frozenset = frozenset()
    affecting: tuple = ()
    single_keyword_or: bool = False
    pure_conjunction: bool = False
    zero_included: bool = False
    narrowable: bool = False

    @classmethod
    def compile(cls, query: str, exact: bool = False) -> "QueryPlan":
        try:
            expr, _special = parse_query(query, exact=exact)
        except ParseError as e:
            return cls(error=str(e))
        terms = ast.extract_query_terms(expr)
        special_kws = special_keywords(expr)
        specials = {kw: special_plan(kw) for kw in sorted(special_kws)}
        kw_to_match = {kw: kw for kw in terms - special_kws}
        for kw, p in specials.items():
            if p.matchable:
                kw_to_match[kw] = p.lookup
        g_set, affecting = affecting_specials(specials)
        return cls(
            expr=expr,
            keywords=tuple(sorted(terms)),
            specials=specials,
            kw_to_match=kw_to_match,
            lookups=tuple(sorted(set(kw_to_match.values()))),
            g_set=g_set,
            affecting=tuple(affecting),
            single_keyword_or=_single_keyword_or(expr),
            pure_conjunction=_pure_conjunction(expr),
            zero_included=zero_included(expr),
            narrowable=_narrowable(expr),
        )

    @property
    def empty(self) -> bool:
        """True when every lane answers no rows: the query does not parse,
        has no keyword, or has more than MAX_QUERY_TERMS."""
        return (
            self.expr is None
            or not self.keywords
            or len(self.keywords) > MAX_QUERY_TERMS
        )

    @property
    def batchable_shape(self) -> bool:
        """The query's half of ``SearchEngine.batchable``: the shared batch
        job cannot take a zero-included shape (every doc qualifies) or a
        repair-affecting one (per-query tokenizer state)."""
        return not (self.zero_included or self.affecting)

    @property
    def wanted_keywords(self) -> list[str]:
        """Sorted distinct keywords of the non-excluded terms."""
        if self.expr is None:
            return []
        return sorted(
            {
                kw
                for t in ast.walk_terms(self.expr)
                if not t.excluded
                for kw in t.keywords
            }
        )

    def idfs(self, df_of: "dict[str, int]", n_docs: int) -> dict[str, float]:
        """BM25 idf per keyword whose lookup has df > 0 in ``df_of``
        (lookup -> df; a missing lookup counts as 0)."""
        out: dict[str, float] = {}
        for kw in self.keywords:
            match = self.kw_to_match.get(kw)
            df = df_of.get(match, 0) if match else 0
            if df > 0:
                out[kw] = bm25_idf(n_docs, df)
        return out
