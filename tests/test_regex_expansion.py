"""Regex and fuzzy term expansion.

- _regex_literal_prefix and _regex_required_literals never produce a
  false negative: every fullmatch of a pattern starts with the prefix and
  contains every required literal (brute force over small alphabets).
- Expansion is capped by max_expansions on both the preloaded-dictionary
  branch and the distributed branch, and the preload branch routes to the
  distributed expansion above PRELOAD_EXPAND_MAX with identical results.
- Fuzzy and regex scores are identical with the dictionary preload
  disabled.
"""

import pytest

from bayard_spark.query import SearchEngine


class TestRegexPrefix:
    """_regex_literal_prefix: every fullmatch of the pattern must start
    with the returned prefix (safety), checked by brute force."""

    def test_cases(self):
        from bayard_spark.query.engine import SearchEngine

        p = SearchEngine._regex_literal_prefix
        assert p("jo[a-z]*") == "jo"
        assert p("join") == "join"
        assert p("jo*") == "j"      # quantified 'o' is optional
        assert p("a{2}b") == ""     # conservative before '{'
        assert p("jo|x") == ""      # top-level alternation: no prefix
        assert p("(jo)x") == ""
        assert p("jo\\.x") == "jo"
        assert p("^jo") == ""
        assert p("") == ""

    def test_safety_brute_force(self):
        import itertools
        import re

        from bayard_spark.query.engine import SearchEngine

        pats = [
            "ab[cd]*", "a*b", "ab|cd", "a(b|c)d", "abc?", "ab{1,2}c",
            "a.c", "abc", "a\\db", "ab$", "a+b",
        ]
        words = [
            "".join(w)
            for n in range(1, 5)
            for w in itertools.product("abcd1", repeat=n)
        ]
        for pat in pats:
            prefix = SearchEngine._regex_literal_prefix(pat)
            rx = re.compile(pat)
            for w in words:
                if rx.fullmatch(w):
                    assert w.startswith(prefix), (pat, w, prefix)


class TestRegexRequiredLiterals:
    """_regex_required_literals: every fullmatch of the pattern must
    CONTAIN every returned literal (no false negatives), brute-forced
    over a small alphabet; plus shape cases for the r7 dictionary
    contains-prefilter."""

    def test_cases(self):
        from bayard_spark.query.engine import SearchEngine

        r = SearchEngine._regex_required_literals
        assert r(".*journal.*") == ["journal"]
        assert r("[a-z]*journal[0-9]+") == ["journal"]
        assert r("jo[a-z]*") == ["jo"]
        assert r("a{2,3}") == []          # quantifier body never a literal
        assert r(".{2}x") == ["x"]
        assert r("jo|x") == []            # alternation voids requirements
        assert r("(?i)abc") == []         # inline flags void requirements
        assert r("(foo|bar)baz") == ["baz"]  # groups opaque
        assert r("foo(bar)?") == ["foo"]
        assert r("a+b") == ["a", "b"]     # '+' keeps its atom, ends the run
        assert r("a*b") == ["b"]
        assert r(r"\d+abc") == ["abc"]
        assert r(r"ab\.cd") == ["ab.cd"]
        assert r("") == []
        # classes INSIDE groups must not corrupt depth tracking (r7
        # review finding: '(a[)]b*c)?x' used to claim ']','c' required)
        assert r("(a[)]b*c)?x") == ["x"]
        assert r("[(]ab") == ["ab"]
        assert r("(x[([]y)z") == ["z"]

    def test_safety_brute_force(self):
        import itertools
        import re

        from bayard_spark.query.engine import SearchEngine

        pats = [
            "ab[cd]*", "a*b", "a(b|c)d", "abc?", "ab{1,2}c", "a.c",
            "abc", "a\\db", "a+b", ".*bc.*", "a.?c", "[ab]+cd[ab]*",
            "a{2}bc", "a\\.b", "x(yz)*w", "a..b", "ab+c", "]a",
            "(a[.]b*c)?d", "[(]ab", "(a[(]b)?cd", "a[]]b",
        ]
        words = [
            "".join(w)
            for n in range(1, 6)
            for w in itertools.product("abcd.1", repeat=n)
        ]
        for pat in pats:
            req = SearchEngine._regex_required_literals(pat)
            rx = re.compile(pat)
            for w in words:
                if rx.fullmatch(w):
                    for lit in req:
                        assert lit in w, (pat, w, lit)


def _regex_q(pat):
    return {"kind": "regex", "options": {"field": "text", "regex": pat}}


def _fuzzy_q(term, distance):
    return {
        "kind": "fuzzy_term",
        "options": {"field": "text", "term": term, "distance": distance},
    }


class TestExpansionGuards:
    def test_regex_cap_preloaded(self, spark, built, tmp_index_root):
        eng = SearchEngine(spark, tmp_index_root, max_expansions=5)
        with pytest.raises(ValueError, match="max_expansions"):
            eng.scores(_regex_q(".*")).count()

    def test_regex_cap_distributed(self, spark, built, tmp_index_root,
                                   monkeypatch):
        monkeypatch.setattr(SearchEngine, "MAX_DICT_TERMS", 0)
        eng = SearchEngine(spark, tmp_index_root, max_expansions=5)
        assert not eng._dict_complete
        with pytest.raises(ValueError, match="max_expansions"):
            eng.scores(_regex_q(".*")).count()

    def test_fuzzy_cap_both_branches(self, spark, built, tmp_index_root,
                                     monkeypatch):
        for dict_cap in (SearchEngine.MAX_DICT_TERMS, 0):
            monkeypatch.setattr(SearchEngine, "MAX_DICT_TERMS", dict_cap)
            eng = SearchEngine(spark, tmp_index_root, max_expansions=2)
            assert eng._dict_complete == (dict_cap > 0)
            with pytest.raises(ValueError, match="max_expansions"):
                # distance 3 around a short common stem matches >2 terms
                eng.scores(_fuzzy_q("data", 3)).count()

    def test_preload_routing_matches_preload_results(
        self, spark, built, tmp_index_root
    ):
        # force the big-dictionary route on a preloaded engine: results
        # must be identical to the driver-side expansion
        base, _ = built
        routed = SearchEngine(spark, tmp_index_root)
        routed.PRELOAD_EXPAND_MAX = 0  # instance override → distributed path
        for q in (_regex_q("jo[a-z]*"), _fuzzy_q("query", 1)):
            want = {
                (r["doc_id"], round(r["score"], 9))
                for r in base.scores(q).collect()
            }
            got = {
                (r["doc_id"], round(r["score"], 9))
                for r in routed.scores(q).collect()
            }
            assert got == want


class TestDistributedExpansion:
    def test_fuzzy_regex_without_dictionary_preload(self, pruned_idx,
                                                    monkeypatch):
        spark, root, _ = pruned_idx
        warm = SearchEngine(spark, root)
        monkeypatch.setattr(SearchEngine, "MAX_DICT_TERMS", 0)
        cold = SearchEngine(spark, root)
        assert warm._dict_complete and not cold._dict_complete
        for q in [
            {"kind": "fuzzy_term",
             "options": {"field": "text", "term": "commn", "distance": 1}},
            {"kind": "fuzzy_term",
             "options": {"field": "text", "term": "ocmmon", "distance": 1,
                         "transposition_cost_one": True}},
            {"kind": "fuzzy_term",
             "options": {"field": "text", "term": "comm", "distance": 0,
                         "prefix": True}},
            {"kind": "regex", "options": {"field": "text", "regex": "w[0-9]+"}},
        ]:
            a = {r["doc_id"]: r["score"] for r in warm.scores(q).collect()}
            b = {r["doc_id"]: r["score"] for r in cold.scores(q).collect()}
            assert set(a) == set(b), q
            for d in a:
                assert a[d] == pytest.approx(b[d], rel=1e-12), q


# Patterns for the per-pattern safety sweep: quantifiers (greedy, lazy,
# counted, zero-count), classes, escapes, anchors, groups (capturing,
# non-capturing, alternation inside and outside), backrefs and flags.
SAFETY_PATTERNS = [
    "abc", "ab*c", "ab+c", "ab?c", "a{2,3}b", "ab{0}c", "ab*?c", "ab+?c",
    "ab??c", "a.b", "a..", "..a", ".*ab", "ab.*", ".*a.*b.*", "a|b",
    "ab|ac", "(ab|ac)d", "(ab)+c", "(ab)*c", "(ab)?c", "a(b)c", "[ab]c",
    "[^a]bc", "[a-c]+d", "a[.]b", "a\\.b", "a\\.?b", "a\\.+b", "\\.ab",
    "a\\d", "\\d+a", "\\w+a", "^ab", "ab$", "(?:ab)c", "ab(?:c|d)",
    "a[]]b", "a[\\]]b", "(a)(b)\\2", "a{2}", "ab{2}c", "c{1,}a", "1.a",
    "a1+", "(?i)ab", "a\\]b", "[]a]+b",
]
_SAFETY_WORDS = None


def _safety_words():
    global _SAFETY_WORDS
    if _SAFETY_WORDS is None:
        import itertools

        _SAFETY_WORDS = [
            "".join(w)
            for n in range(0, 6)
            for w in itertools.product("abcd.1]", repeat=n)
        ]
    return _SAFETY_WORDS


class TestRegexLiteralSafetyPerPattern:
    """Both dictionary prefilters are sound for each pattern on its own:
    every fullmatch over a 7-symbol alphabet (lengths 0-5) starts with the
    literal prefix and contains every required literal. Each pattern must
    match at least one word, so no case passes vacuously."""

    @pytest.mark.parametrize("pat", SAFETY_PATTERNS)
    def test_prefix_and_required_literals_sound(self, pat):
        import re

        from bayard_spark.query.engine import SearchEngine

        prefix = SearchEngine._regex_literal_prefix(pat)
        req = SearchEngine._regex_required_literals(pat)
        rx = re.compile(pat)
        matched = [w for w in _safety_words() if rx.fullmatch(w)]
        assert matched, pat
        for w in matched:
            assert w.startswith(prefix), (pat, w, prefix)
            for lit in req:
                assert lit in w, (pat, w, lit)


# (a, b, transposition, distance): hand-computed. With transposition the
# distance is the restricted (optimal string alignment) Damerau distance,
# so 'ca' -> 'abc' stays 3 (unrestricted Damerau would give 2).
EDIT_CASES = [
    ("", "", False, 0),
    ("", "abc", False, 3),
    ("abc", "", False, 3),
    ("a", "a", False, 0),
    ("kitten", "sitting", False, 3),
    ("flaw", "lawn", False, 2),
    ("saturday", "sunday", False, 3),
    ("gumbo", "gambol", False, 2),
    ("book", "back", False, 2),
    ("ab", "ba", False, 2),
    ("ab", "ba", True, 1),
    ("abc", "acb", False, 2),
    ("abc", "acb", True, 1),
    ("abcd", "badc", True, 2),
    ("ca", "abc", True, 3),
    ("kitten", "sitting", True, 3),
    ("commn", "common", False, 1),
    ("ocmmon", "common", False, 2),
    ("ocmmon", "common", True, 1),
]

# (query, term, transposition, distance to the closest prefix of term)
PREFIX_EDIT_CASES = [
    ("comm", "common", False, 0),
    ("comx", "common", False, 1),
    ("", "xyz", False, 0),
    ("abc", "", False, 3),
    ("qeur", "query", False, 2),
    ("qeur", "query", True, 1),
    ("common", "comm", False, 2),
]


class TestFuzzyDistance:
    """The oracle's fuzzy distances, which fuzzy-term expansion is
    checked against, on hand-computed cases."""

    @pytest.mark.parametrize("a,b,transposition,want", EDIT_CASES)
    def test_levenshtein(self, a, b, transposition, want):
        from bayard_spark.oracle.engine import levenshtein

        assert levenshtein(a, b, transposition) == want
        assert levenshtein(b, a, transposition) == want

    @pytest.mark.parametrize("query,term,transposition,want", PREFIX_EDIT_CASES)
    def test_prefix_edit_distance(self, query, term, transposition, want):
        from bayard_spark.oracle.engine import prefix_edit_distance

        assert prefix_edit_distance(query, term, transposition) == want
