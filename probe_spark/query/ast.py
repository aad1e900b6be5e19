"""Query AST mirroring the reference's ``Expr``
(/root/reference/src/search/elastic_query.rs:19-39) plus the evaluation and
scoring semantics (elastic_query.rs:148-292, src/ranking.rs:226-274).

Everything here is driver-side, pure Python: queries are tiny.  The Spark
engine compiles this AST to Column expressions (probe_spark/search/engine.py);
the oracle interprets it directly (probe_spark/oracle.py).  Both paths share
this single source of truth for the boolean/scoring recursion.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Term:
    keywords: tuple[str, ...]
    field: str | None = None
    required: bool = False
    excluded: bool = False
    exact: bool = False


@dataclass(frozen=True)
class And:
    left: "Expr"
    right: "Expr"


@dataclass(frozen=True)
class Or:
    left: "Expr"
    right: "Expr"


Expr = Term | And | Or


def walk_terms(expr: Expr):
    """Yield every Term node (left-to-right)."""
    if isinstance(expr, Term):
        yield expr
    else:
        yield from walk_terms(expr.left)
        yield from walk_terms(expr.right)


def extract_query_terms(expr: Expr) -> set[str]:
    """ranking.rs:97-112 — all keywords of all nodes (incl. excluded)."""
    out: set[str] = set()
    for t in walk_terms(expr):
        out.update(t.keywords)
    return out


def has_required_term(expr: Expr) -> bool:
    """elastic_query.rs:82-89."""
    return any(t.required for t in walk_terms(expr))


def is_only_excluded_terms(expr: Expr) -> bool:
    """elastic_query.rs:93-103."""
    return all(t.excluded for t in walk_terms(expr))


def gate_keywords(expr: Expr) -> list[str] | None:
    """Early termination (elastic_query.rs:372-374): the keywords a doc
    must hold at least one of to qualify, or None for an only-excluded
    query (then a doc holding none qualifies) — otherwise 'foo OR -bar'
    would accept every unrelated doc at score 0.  Every lane applies this
    gate; ``evaluate`` is its scalar form."""
    if is_only_excluded_terms(expr):
        return None
    return sorted(extract_query_terms(expr))


def special_terms(expr: Expr) -> frozenset[str]:
    """Keywords registered via add_special_term in the reference parser
    (elastic_query.rs:768-773): exact or excluded terms, lowercased."""
    out: set[str] = set()
    for t in walk_terms(expr):
        if t.exact or t.excluded:
            out.update(k.lower() for k in t.keywords)
    return frozenset(out)


def mandatory_keywords(expr: Expr) -> set[str]:
    """Keywords that MUST be present in every doc that satisfies the query
    (negations on) — the candidate-driving set for conjunctive pruning.

    With a required (+) term anywhere, the required-anywhere rule
    (elastic_query.rs:107-144) makes exactly the required terms' keywords
    mandatory (optional terms auto-pass evaluation in that case).  Without
    one, a non-excluded Term needs ALL its keywords (all-of semantics,
    _eval above), And needs both sides, Or needs the intersection, and an
    excluded Term imposes no presence requirement."""
    if has_required_term(expr):
        out: set[str] = set()
        for t in walk_terms(expr):
            if t.required and not t.excluded:
                out.update(t.keywords)
        return out

    def rec(e: Expr) -> set[str]:
        if isinstance(e, Term):
            return set() if e.excluded else set(e.keywords)
        if isinstance(e, And):
            return rec(e.left) | rec(e.right)
        return rec(e.left) & rec(e.right)

    return rec(expr)


# ---------------------------------------------------------------------------
# boolean evaluation over a presence predicate
# ---------------------------------------------------------------------------


def _check_all_required_present(expr: Expr, present) -> bool:
    """elastic_query.rs:107-144 — every required (non-excluded) term's
    keywords must all be present, across the whole tree (even under OR)."""
    for t in walk_terms(expr):
        if t.required and not t.excluded:
            if not all(present(kw) for kw in t.keywords):
                return False
    return True


def evaluate(expr: Expr, present, ignore_negatives: bool = False) -> bool:
    """elastic_query.rs:148-292 — ``present`` is ``kw -> bool``.

    A doc is a candidate iff evaluate(...) is True (block-level filter
    semantics, negations enforced).
    """
    gate = gate_keywords(expr)
    if gate is not None and not any(present(kw) for kw in gate):
        return False
    has_req = has_required_term(expr)
    if has_req and not ignore_negatives:
        if not _check_all_required_present(expr, present):
            return False
    return _eval(expr, present, ignore_negatives, has_req)


def _eval(expr: Expr, present, ignore_negatives: bool, has_req: bool) -> bool:
    if isinstance(expr, Term):
        if not expr.keywords:
            return expr.excluded
        all_present = all(present(kw) for kw in expr.keywords)
        if expr.excluded:
            if ignore_negatives:
                return True
            return not any(present(kw) for kw in expr.keywords)
        if expr.required and ignore_negatives:
            return True
        if expr.required:
            return all_present
        if has_req:
            return True
        any_present = any(present(kw) for kw in expr.keywords)
        if not any_present:
            return False
        return all_present
    if isinstance(expr, And):
        return _eval(expr.left, present, ignore_negatives, has_req) and _eval(
            expr.right, present, ignore_negatives, has_req
        )
    return _eval(expr.left, present, ignore_negatives, has_req) or _eval(
        expr.right, present, ignore_negatives, has_req
    )


# ---------------------------------------------------------------------------
# BM25 AST scoring over per-keyword contributions
# ---------------------------------------------------------------------------


def score(expr: Expr, kw_score) -> float | None:
    """ranking.rs:226-274 — ``kw_score`` is ``kw -> float`` (BM25 of a single
    keyword in this doc, 0.0 when absent).  Returns None when the doc is
    excluded by a must/must_not clause."""
    if isinstance(expr, Term):
        s = sum(kw_score(kw) for kw in expr.keywords)
        if expr.excluded:
            return None if s > 0.0 else 0.0
        if expr.required:
            return s if s > 0.0 else None
        return s
    if isinstance(expr, And):
        ls = score(expr.left, kw_score)
        if ls is None:
            return None
        rs = score(expr.right, kw_score)
        if rs is None:
            return None
        return ls + rs
    ls = score(expr.left, kw_score)
    rs = score(expr.right, kw_score)
    if ls is None and rs is None:
        return None
    return (ls or 0.0) + (rs or 0.0)
