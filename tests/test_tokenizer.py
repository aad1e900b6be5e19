"""Tokenizer parity suite — assertions ported from the reference's unit tests
(/root/reference/src/search/tokenization.rs:2770-2953) plus property tests
(never crash, idempotent, deterministic)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from probe_spark.functions.porter2 import stem
from probe_spark.functions.tokenizer import (
    is_stop_word,
    raw_words,
    split_camel_case,
    split_compound_word,
    tokenize,
)


class TestSplitCamelCase:
    # tokenization.rs:2770-2801 (test_split_camel_case)
    def test_basic_camel(self):
        assert split_camel_case("camelCase") == ["camel", "case"]

    def test_pascal(self):
        assert split_camel_case("PascalCase") == ["pascal", "case"]

    def test_acronym_digits(self):
        assert split_camel_case("parseJSONToHTML5") == ["parse", "json", "to", "html", "5"]

    def test_consecutive_upper(self):
        assert split_camel_case("APIDefinition") == ["api", "definition"]

    def test_oauth2(self):
        assert split_camel_case("OAuth2Provider") == ["oauth2", "provider"]

    def test_type_prefix(self):
        assert split_camel_case("typeIgnore") == ["type", "ignore"]

    def test_complex(self):
        assert split_camel_case("migrateEndpointMetaByType") == [
            "migrate", "endpoint", "meta", "by", "type",
        ]


class TestStopWords:
    # tokenization.rs:2803-2810
    def test_programming(self):
        assert is_stop_word("func")
        assert is_stop_word("type")
        assert is_stop_word("struct")
        assert not is_stop_word("migrate")
        assert not is_stop_word("endpoint")

    def test_numbers_0_10(self):
        for n in range(11):
            assert is_stop_word(str(n))
        assert not is_stop_word("11")

    def test_ing(self):
        assert is_stop_word("ing")


class TestTokenize:
    # tokenization.rs:2812-2853 (test_tokenize)
    def test_api_definition(self):
        t = tokenize("func (a *APIDefinition) MigrateEndpointMeta()")
        assert "api" in t
        assert "definit" in t  # stemmed "definition"
        assert "migrat" in t  # stemmed "migrate"
        assert "endpoint" in t or ("end" in t and "point" in t)
        assert "meta" in t

    def test_parse_json(self):
        t = tokenize("func ParseJSONToHTML5()")
        assert "pars" in t
        assert "json" in t
        assert "html" in t
        assert "5" not in t  # numbers 0-10 are stop words

    def test_type_ignore(self):
        t = tokenize("typeIgnore typeWhitelist")
        assert "ignor" in t

    def test_compound_words(self):
        t = tokenize("whitelist blackmail firewall")
        assert "whitelist" in t  # special-case word, not split
        assert "black" in t
        assert "mail" in t
        assert "firewall" in t

    def test_compound_in_camel(self):
        t = tokenize("enableFirewallWhitelist")
        assert "enabl" in t
        assert "firewall" in t
        assert "whitelist" in t

    def test_negated_term_excluded(self):
        t = tokenize("keep -dropped")
        assert "keep" in t
        assert "dropped" not in t and "drop" not in t

    def test_dedup_first_seen(self):
        t = tokenize("cache cache cache miss")
        assert t.count("cach") == 1
        assert "miss" in t

    def test_exception_term_both_forms(self):
        t = tokenize("the middleware")
        # exception terms keep the raw form alongside the stem
        assert "middleware" in t
        assert "middlewar" in t

    def test_stopwords_dropped(self):
        t = tokenize("the quick and the dead")
        assert "the" not in t
        assert "and" not in t
        assert "quick" in t
        assert "dead" in t

    def test_empty(self):
        assert tokenize("") == []
        assert tokenize("   \t\n ") == []

    def test_special_terms_scoped(self):
        base = tokenize("graphqlfoo")
        special = tokenize("graphqlfoo", frozenset(["graphqlfoo"]))
        # with the term registered special, it is kept whole
        assert "graphqlfoo" in special
        # and the default result is unaffected by prior calls (no global leak)
        assert tokenize("graphqlfoo") == base


class TestCompoundSplit:
    # tokenization.rs:2855-2875
    def test_whitelist_not_split(self):
        assert split_compound_word("whitelist") == ["whitelist"]

    def test_blackmail_split(self):
        assert split_compound_word("blackmail") == ["black", "mail"]

    def test_unsplittable(self):
        assert split_compound_word("zzqqxx") == ["zzqqxx"]

    def test_precomputed(self):
        assert split_compound_word("hashmap") == ["hash", "map"]


class TestStemmer:
    def test_reference_pairs(self):
        # pairs implied by reference test expectations (tokenization.rs:2812-2853)
        pairs = {
            "definition": "definit",
            "migrate": "migrat",
            "parse": "pars",
            "ignore": "ignor",
            "enable": "enabl",
            "running": "run",
            "middleware": "middlewar",
            "firewall": "firewal",
            "handling": "handl",
        }
        for w, s in pairs.items():
            assert stem(w) == s, (w, stem(w), s)


class TestRawWords:
    def test_basic(self):
        assert raw_words("Foo bar-baz QUX foo") == ["foo", "bar", "baz", "qux"]


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_tokenize_never_crashes(text):
    out = tokenize(text)
    assert isinstance(out, list)
    assert len(out) == len(set(out))  # always deduplicated


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=100))
def test_tokenize_deterministic(text):
    assert tokenize(text) == tokenize(text)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=30))
def test_stem_idempotent_on_lowercase(word):
    # stem(stem(w)) == stem(w) is NOT guaranteed by Porter2 in general,
    # but stemming must be deterministic and never crash
    assert stem(word) == stem(word)


def _batch_rows(texts):
    """tokenize_arrow's per-row (tokens, raws) and dls for ``texts``."""
    import pyarrow as pa

    from probe_spark.functions.tokenizer import tokenize_arrow

    bt = tokenize_arrow(pa.array(texts, pa.string()))
    toks, raws = bt.lists()
    got = list(zip(toks.to_pylist(), raws.to_pylist()))
    assert bt.dls.tolist() == [len(t) for t, _ in got]
    return got


def _scalar_rows(texts):
    from probe_spark.functions.tokenizer import raw_special_words, tokenize

    return [
        (tokenize(t), raw_special_words(t)) if t else ([], []) for t in texts
    ]


class TestTokenizeAndRaw:
    """The build's batch tokenizer (tokenize_arrow) must equal
    (tokenize(t), raw_special_words(t)) per row, order included — the
    fused and two-pass builds ride it for every turn."""

    CASES = [
        "Hello world the HashMap getUserName",
        "run --verbose -force foo-bar can't",
        "-excluded word then reuse excluded",
        "- -- -a b",
        "naïve café русский 日本語 mixedASCIIножка",
        "oauth2token setupEnableFirewallWhitelist xxHash64",
        "a.b.c.d x_y_z 0 10 11 12 3.14159",
        "   ",
        "-",
        "repeat repeat REPEAT RePeat",
        # a negated word removes tokens of EARLIER words
        "a b -a",
        "error handler -error handler",
        # camelCase, compound and exception words
        "getUserName parseJSONToHTML5 APIDefinition OAuth2Provider",
        "blackmail whitelist hashtable keyboard database",
        "JavaScript TypeScript iOS API http",
        "",
        None,
    ]

    def test_parity_fixed(self):
        assert _batch_rows(self.CASES) == _scalar_rows(self.CASES)
        # one row at a time too (no cross-row state)
        for t in self.CASES:
            assert _batch_rows([t]) == _scalar_rows([t]), t

    def test_null_and_empty_batches(self):
        assert _batch_rows([None, "", "  ", None]) == [([], [])] * 4
        assert _batch_rows([]) == []

    def test_unicode_snippets(self):
        from probe_spark.fixtures import _UNICODE_SNIPPETS

        texts = _UNICODE_SNIPPETS + [
            " ".join(_UNICODE_SNIPPETS),
            "x " + "\n".join(_UNICODE_SNIPPETS) + " -emoji",
        ]
        assert _batch_rows(texts) == _scalar_rows(texts)

    def test_python_only_separators(self):
        """str.split() separators that Arrow's ASCII split does not know
        (\x1c-\x1f, \x85, \xa0, \u2028, \u3000, ...) split words here too."""
        from probe_spark.functions.tokenizer import PY_ONLY_WHITESPACE

        texts = [f"alpha{c}betaGamma{c}{c}delta" for c in PY_ONLY_WHITESPACE]
        texts += [
            "error\x1chandler\x1dtimeout\x1eretry\x1fdone",
            "cache\x85miss\xa0hit\u2028line\u3000wide",
            "plain ascii row between",
            "\u3000-error\u3000error handler",
        ]
        got = _batch_rows(texts)
        assert got == _scalar_rows(texts)
        assert got[0][0] == ["alpha", "beta", "gamma", "delta"]

    def test_python_only_whitespace_is_complete(self):
        """PY_ONLY_WHITESPACE is exactly str.isspace() minus the six
        characters Arrow's ascii_split_whitespace splits on."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from probe_spark.functions.tokenizer import PY_ONLY_WHITESPACE

        space = [chr(c) for c in range(0x110000) if chr(c).isspace()]
        split = pc.ascii_split_whitespace(
            pa.array([f"a{c}b" for c in space])
        ).to_pylist()
        arrow_splits = {c for c, parts in zip(space, split) if len(parts) == 2}
        assert arrow_splits == set(" \t\n\v\f\r")
        assert set(PY_ONLY_WHITESPACE) == set(space) - arrow_splits
        assert len(PY_ONLY_WHITESPACE) == len(set(PY_ONLY_WHITESPACE))

    def test_blank_lines_over(self):
        """The builds blank long lines before tokenizing (Arrow-side for
        the batch tokenizer, per text for the scalar one)."""
        import pyarrow as pa

        from probe_spark.functions.tokenizer import tokenize_arrow
        from probe_spark.index.build import (
            _blank_long_lines,
            _blank_long_lines_arrow,
        )

        texts = [
            "short line\n" + "verylongword " * 20 + "\nkept tail",
            "x" * 30,
            None,
            "fine",
            "naïve " * 10 + "\ncafé",
        ]
        bt = tokenize_arrow(
            _blank_long_lines_arrow(pa.array(texts, pa.string()), 25)
        )
        toks, raws = bt.lists()
        want = _scalar_rows(
            [_blank_long_lines(t, 25) if t else t for t in texts]
        )
        assert list(zip(toks.to_pylist(), raws.to_pylist())) == want
        assert "verylongword" not in toks[0].as_py()

    def test_word_table_restart_keeps_old_ids(self, monkeypatch):
        """A full word table is replaced, not cleared: ids returned before
        the restart still name the same strings."""
        import pyarrow as pa

        from probe_spark.functions import tokenizer as T

        monkeypatch.setattr(T, "_TABLE", T._WordTable())
        first = T.tokenize_arrow(pa.array(["error handler", "timeout"]))
        before = first.table.take(first.tok_ids).to_pylist()
        monkeypatch.setattr(T, "_WORD_TABLE_MAX", 1)
        second = T.tokenize_arrow(pa.array(["zebra error"]))
        assert second.table is not first.table
        assert first.table.take(first.tok_ids).to_pylist() == before
        assert _batch_rows(self.CASES) == _scalar_rows(self.CASES)

    def test_parity_fixture_corpus(self, spark):
        from probe_spark.fixtures import transcripts_df

        texts = [r["text"] for r in transcripts_df(spark, n_convs=300, seed=11).collect()]
        assert len(texts) > 1000
        for a in range(0, len(texts), 512):
            chunk = texts[a : a + 512]
            assert _batch_rows(chunk) == _scalar_rows(chunk)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=200)), max_size=6))
def test_tokenize_and_raw_parity_property(texts):
    assert _batch_rows(texts) == _scalar_rows(texts)


_WORDISH = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ09-_.'é日 \t\n") + ["\x1c", "\x85", "\xa0", " ", "　"]
    ),
    max_size=40,
)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(st.none(), _WORDISH), max_size=8))
def test_batch_parity_separators_and_negation(texts):
    """Dense draws of '-', camel case, punctuation and the separators
    Arrow's ASCII split does not know."""
    assert _batch_rows(texts) == _scalar_rows(texts)
