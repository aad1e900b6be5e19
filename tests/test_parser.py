"""Query-grammar suite — cases modeled on the reference integration tests
(elastic_query_tests.rs / elastic_query_integration_tests.rs) and
elastic_query.rs:655-726 precedence rules."""

from __future__ import annotations

import pytest

from probe_spark.query import ast
from probe_spark.query.ast import And, Or, Term
from probe_spark.query.parser import ParseError, lex, parse_query


def terms(expr):
    return list(ast.walk_terms(expr))


class TestLexer:
    def test_operators(self):
        kinds = [t.kind for t in lex('+a -b (c OR d) e:"f"')]
        assert kinds == [
            "plus", "ident", "minus", "ident", "lparen", "ident", "or",
            "ident", "rparen", "ident", "colon", "quoted",
        ]

    def test_hyphen_inside_ident(self):
        # '-' lexes as Minus only at operator position; inside an identifier
        # it is part of the ident (elastic_query.rs:611-622)
        toks = lex("foo-bar")
        assert [(t.kind, t.value) for t in toks] == [("ident", "foo-bar")]

    def test_and_or_case_insensitive(self):
        assert [t.kind for t in lex("a AnD b oR c")] == [
            "ident", "and", "ident", "or", "ident",
        ]

    def test_unknown_chars_skipped(self):
        assert [t.kind for t in lex("a @#$ b")] == ["ident", "ident"]

    def test_empty_raises(self):
        with pytest.raises(ParseError):
            lex("@#$%")


class TestParser:
    def test_explicit_and(self):
        expr, _ = parse_query("error AND handling")
        assert isinstance(expr, And)
        kws = [t.keywords for t in terms(expr)]
        assert ("error",) in kws
        assert ("handl",) in kws  # tokenized+stemmed

    def test_explicit_or(self):
        expr, _ = parse_query("login OR authentication OR auth")
        assert isinstance(expr, Or)
        assert len(terms(expr)) == 3

    def test_implicit_adjacency_is_or(self):
        expr, _ = parse_query("api process load")
        assert isinstance(expr, Or)
        assert all(not t.required and not t.excluded for t in terms(expr))

    def test_plus_forces_and(self):
        expr, _ = parse_query("+api +process +load")
        assert isinstance(expr, And)
        assert all(t.required for t in terms(expr))

    def test_minus_excluded_untokenized(self):
        expr, special = parse_query("database -sqlite")
        ts = terms(expr)
        assert isinstance(expr, And)  # minus forces AND combination
        excluded = [t for t in ts if t.excluded]
        assert len(excluded) == 1
        assert excluded[0].keywords == ("sqlite",)  # NOT tokenized/stemmed
        assert "sqlite" in special

    def test_parens_precedence(self):
        expr, _ = parse_query("(error OR exception) AND (handle OR process)")
        assert isinstance(expr, And)
        assert isinstance(expr.left, Or)
        assert isinstance(expr.right, Or)

    def test_quoted_exact(self):
        expr, special = parse_query('"exact phrase match"')
        t = terms(expr)[0]
        assert t.exact
        assert t.keywords == ("exact phrase match",)
        assert "exact phrase match" in special

    def test_camel_case_expansion(self):
        expr, _ = parse_query("JWTMiddleware")
        t = terms(expr)[0]
        assert "jwt" in t.keywords
        assert "middleware" in t.keywords  # exception term raw form
        assert "middlewar" in t.keywords  # stem

    def test_field_term(self):
        expr, _ = parse_query("role:assistant")
        t = terms(expr)[0]
        assert t.field == "role"

    def test_stopword_only_term_empty(self):
        expr, _ = parse_query("the AND handler")
        ts = terms(expr)
        assert ts[0].keywords == ()  # "the" fully filtered

    def test_exact_mode(self):
        expr, special = parse_query("anything AND everything", exact=True)
        t = terms(expr)[0]
        assert t.exact
        assert t.keywords == ("anything AND everything",)

    def test_or_lowest_precedence(self):
        expr, _ = parse_query("a AND b OR c AND d")
        assert isinstance(expr, Or)
        assert isinstance(expr.left, And)
        assert isinstance(expr.right, And)


class TestEvaluate:
    def _present(self, toks):
        return lambda kw: kw in toks

    def test_and_requires_both(self):
        expr, _ = parse_query("error AND handling")
        assert ast.evaluate(expr, self._present({"error", "handl"}))
        assert not ast.evaluate(expr, self._present({"error"}))

    def test_or_requires_one(self):
        expr, _ = parse_query("error OR handling")
        assert ast.evaluate(expr, self._present({"handl"}))
        assert not ast.evaluate(expr, self._present({"other"}))

    def test_excluded_blocks(self):
        # "database" splits to data+base via the reference's precomputed
        # compound table; both parts must be present (single-Term AND rule)
        expr, _ = parse_query("database -sqlite")
        assert ast.evaluate(expr, self._present({"data", "base"}))
        assert not ast.evaluate(expr, self._present({"data", "base", "sqlite"}))

    def test_required_anywhere(self):
        # any +term missing => doc excluded even if OR side matches
        expr, _ = parse_query("+api OR process")
        assert not ast.evaluate(expr, self._present({"process"}))
        assert ast.evaluate(expr, self._present({"api"}))

    def test_multi_keyword_term_all_required(self):
        # optional term with multiple keywords: all must be present
        # (elastic_query.rs:220-241)
        expr, _ = parse_query("JWTMiddleware")
        assert not ast.evaluate(expr, self._present({"jwt"}))
        assert ast.evaluate(
            expr, self._present({"jwt", "middleware", "middlewar"})
        )

    def test_ignore_negatives(self):
        expr, _ = parse_query("database -sqlite")
        assert ast.evaluate(
            expr, self._present({"data", "base", "sqlite"}), ignore_negatives=True
        )

    def test_any_keyword_gate(self):
        # a doc holding no query keyword qualifies only for an
        # only-excluded query; excluded keywords count toward the gate
        expr, _ = parse_query("absentterm OR -commonterm")
        assert ast.gate_keywords(expr) == sorted(ast.extract_query_terms(expr))
        assert not ast.evaluate(expr, self._present(set()))
        expr, _ = parse_query("-commonterm")
        assert ast.gate_keywords(expr) is None
        assert ast.evaluate(expr, self._present(set()))
