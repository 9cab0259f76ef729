"""Analysis-pipeline unit tests ported from the reference's inline Rust tests.

Each case cites the reference test it reproduces (file:line under
/root/reference/bayard/src/index/).
"""

import numpy as np
import pandas as pd
import pytest

from bayard_spark.analysis import (
    build_analyzer,
    tokenize_facet,
    tokenize_ngram,
    tokenize_raw,
    tokenize_simple,
    tokenize_whitespace,
)
from bayard_spark.analysis.analyzer import build_analyzers, builtin_analyzers
from bayard_spark.analysis.filters import (
    filter_alpha_num_only,
    filter_ascii_folding,
    filter_lower_case,
    filter_remove_long,
    filter_stemming,
    filter_stop_word,
)
from bayard_spark.analysis.stemmer import porter2_stem


def toks(frame):
    return frame["token"].tolist()


class TestTokenizers:
    def test_simple(self):
        # tokenizer/simple.rs:12-29
        f = tokenize_simple(pd.Series(["hello world!"]), offsets=True)
        assert f[["token", "start", "end"]].values.tolist() == [
            ["hello", 0, 5],
            ["world", 6, 11],
        ]
        assert f["pos"].tolist() == [0, 1]

    def test_simple_unicode_and_punct(self):
        f = tokenize_simple(pd.Series(["c'est l'été—déjà 42"]))
        assert toks(f) == ["c", "est", "l", "été", "déjà", "42"]

    def test_simple_leading_separator_positions(self):
        f = tokenize_simple(pd.Series([",hello world"]))
        assert f[["token", "pos"]].values.tolist() == [["hello", 0], ["world", 1]]

    def test_simple_empty_and_null(self):
        f = tokenize_simple(pd.Series(["", None, "   "]))
        assert len(f) == 0

    def test_whitespace(self):
        # tokenizer/whitespace.rs:42-59 — punctuation kept
        f = tokenize_whitespace(pd.Series(["hello world!"]), offsets=True)
        assert f[["token", "start", "end"]].values.tolist() == [
            ["hello", 0, 5],
            ["world!", 6, 12],
        ]

    def test_raw(self):
        # tokenizer/raw.rs:72-83 — whole value = one token
        f = tokenize_raw(pd.Series(["hello world!"]), offsets=True)
        assert f[["token", "pos", "start", "end"]].values.tolist() == [
            ["hello world!", 0, 0, 12]
        ]

    def test_ngram_2_3(self):
        # tokenizer/ngram.rs:57-130: "hello" min=2 max=3
        f = tokenize_ngram(pd.Series(["hello"]), 2, 3, False, offsets=True)
        assert f[["token", "start", "end"]].values.tolist() == [
            ["he", 0, 2], ["hel", 0, 3], ["el", 1, 3], ["ell", 1, 4],
            ["ll", 2, 4], ["llo", 2, 5], ["lo", 3, 5],
        ]
        assert (f["pos"] == 0).all()

    def test_ngram_prefix_only(self):
        # tokenizer/ngram.rs:160-198: "hello" min=2 max=5 prefix_only
        f = tokenize_ngram(pd.Series(["hello"]), 2, 5, True)
        assert toks(f) == ["he", "hel", "hell", "hello"]

    def test_ngram_validation(self):
        with pytest.raises(ValueError):
            tokenize_ngram(pd.Series(["x"]), 0, 2)
        with pytest.raises(ValueError):
            tokenize_ngram(pd.Series(["x"]), 3, 2)

    def test_facet_ancestors(self):
        # docs/analyzers.md:81-89
        f = tokenize_facet(pd.Series(["/language/rust"]))
        assert toks(f) == ["/language", "/language/rust"]


class TestFilters:
    def test_lower_case(self):
        # token_filter/lower_case.rs:103-106
        f = tokenize_simple(pd.Series(["HELLO World"]))
        assert toks(filter_lower_case(f)) == ["hello", "world"]

    def test_ascii_folding(self):
        # token_filter/ascii_folding.rs:134-137: Rámon → Ramon
        f = tokenize_simple(pd.Series(["Rámon rượu çà"]))
        assert toks(filter_ascii_folding(f)) == ["Ramon", "ruou", "ca"]

    def test_ascii_folding_preserves_non_latin(self):
        f = tokenize_simple(pd.Series(["日本語 test"]))
        assert toks(filter_ascii_folding(f)) == ["日本語", "test"]

    def test_alpha_num_only(self):
        # token_filter/alpha_num_only.rs:165-171
        f = tokenize_whitespace(pd.Series(["hello 123 world! déjà ok2"]))
        assert toks(filter_alpha_num_only(f)) == ["hello", "123", "ok2"]

    def test_remove_long(self):
        # token_filter/remove_long.rs:227-243: limit 10 keeps byte-len <= 9
        f = tokenize_whitespace(
            pd.Series(["short 123456789 1234567890 exactlyten"])
        )
        assert toks(filter_remove_long(f, 10)) == ["short", "123456789"]

    def test_remove_long_counts_utf8_bytes(self):
        f = tokenize_whitespace(pd.Series(["ééééé aaaaaaaaa"]))  # 10 bytes, 9
        assert toks(filter_remove_long(f, 10)) == ["aaaaaaaaa"]

    def test_stop_word(self):
        # token_filter/stop_word.rs:342-378
        f = tokenize_simple(pd.Series(["the quick brown fox"]))
        assert toks(filter_stop_word(f, ["the", "a"])) == ["quick", "brown", "fox"]
        assert toks(filter_stop_word(f, None)) == ["the", "quick", "brown", "fox"]

    def test_stemming_english(self):
        # token_filter/stemming.rs:294-307 (Snowball English)
        f = tokenize_simple(pd.Series(["running flies consistently"]))
        assert toks(filter_stemming(f)) == ["run", "fli", "consist"]

    def test_stemming_other_language_gated(self):
        # german now ships (see test_snowball.py); unknown langs still error
        f = tokenize_simple(pd.Series(["laufen"]))
        out = filter_stemming(f, "german")
        assert out["token"].tolist() == ["lauf"]
        with pytest.raises(ValueError):
            filter_stemming(f, "klingon")

    def test_filter_keeps_positions(self):
        # dropped tokens leave positional gaps (tantivy semantics)
        f = tokenize_simple(pd.Series(["the quick the fox"]))
        out = filter_stop_word(f, ["the"])
        assert out[["token", "pos"]].values.tolist() == [["quick", 1], ["fox", 3]]


class TestPorter2:
    def test_vocabulary_pairs(self):
        cases = {
            "consigned": "consign", "consistency": "consist",
            "knackeries": "knackeri", "kneaded": "knead", "knees": "knee",
            "generated": "generat", "generally": "general",
            "generously": "generous", "skies": "sky", "dying": "die",
            "news": "news", "cries": "cri", "arguments": "argument",
            "hopefulness": "hope", "beautifully": "beauti",
            "multiply": "multipli", "running": "run", "hopping": "hop",
            "national": "nation", "relational": "relat",
            "controllable": "control", "agreed": "agre", "feed": "feed",
            "exceed": "exceed", "succeeding": "succeed", "sized": "size",
        }
        assert {w: porter2_stem(w) for w in cases} == cases


class TestAnalyzer:
    def test_reference_default_analyzer_chain(self):
        # examples/meta.json "default": simple → remove_long(40) →
        # ascii_folding → lower_case (order as configured there)
        cfg = {
            "tokenizer": {"name": "simple"},
            "filters": [
                {"name": "remove_long", "args": {"length_limit": 40}},
                {"name": "ascii_folding"},
                {"name": "lower_case"},
            ],
        }
        a = build_analyzer("default", cfg)
        assert a.analyze_one("Rámon's RUST-lang!") == ["ramon", "s", "rust", "lang"]

    def test_builtins(self):
        b = builtin_analyzers()
        assert b["raw"].analyze_one("Hello World!") == ["Hello World!"]
        assert b["default"].analyze_one("Hello World!") == ["hello", "world"]

    def test_build_analyzers_overlay(self):
        out = build_analyzers(
            {"ng": {"tokenizer": {"name": "ngram",
                                  "args": {"min_gram": 2, "max_gram": 2}}}}
        )
        assert set(out) >= {"raw", "default", "ng"}
        assert out["ng"].analyze_one("abc") == ["ab", "bc"]

    def test_unknown_tokenizer_and_filter(self):
        with pytest.raises(ValueError):
            build_analyzer("x", {"tokenizer": {"name": "nope"}})
        with pytest.raises(ValueError):
            build_analyzer(
                "x",
                {"tokenizer": {"name": "simple"}, "filters": [{"name": "nope"}]},
            )

    def test_terms_per_row_alignment(self):
        a = builtin_analyzers()["default"]
        out = a.terms_per_row(pd.Series(["Hello world", "", "Rust"]))
        assert out.tolist() == [["hello", "world"], [], ["rust"]]


class TestArrowFilterOrder:
    def test_stop_word_before_lower_case_falls_back(self):
        from bayard_spark.analysis import arrow_native
        from bayard_spark.analysis.analyzer import build_analyzer

        ok = build_analyzer("ok", {
            "tokenizer": {"name": "simple"},
            "filters": [{"name": "lower_case"},
                        {"name": "stop_word", "args": {"words": ["the"]}}],
        })
        bad = build_analyzer("bad", {
            "tokenizer": {"name": "simple"},
            "filters": [{"name": "stop_word", "args": {"words": ["the"]}},
                        {"name": "lower_case"}],
        })
        assert arrow_native.supports(ok)
        assert not arrow_native.supports(bad)


OFFSET_PROBES = [
    "",
    None,
    "   ",
    "hello world!",
    "  leading and trailing  ",
    "café au lait",
    "日本語 テキスト",
    "tab\tsep\nnew line",
    "emoji 🎉 party",
    "a" * 1000,
    "x-y_z.w",
    "ÀÉÎõü mixed ÇASE",
]


@pytest.mark.parametrize(
    "tokenize", [tokenize_simple, tokenize_whitespace, tokenize_raw],
    ids=["simple", "whitespace", "raw"],
)
@pytest.mark.parametrize("text", OFFSET_PROBES)
def test_offsets_path_agrees_with_fast_path(tokenize, text):
    """The offsets path (a per-row scan) and the vectorized path emit the
    same (row, token, pos) rows; every token is the UTF-8 byte slice its
    offsets name, positions count up from 0 per row, and a row's tokens do
    not depend on its neighbours."""
    s = pd.Series([text, "pad row", text])
    fast = tokenize(s)
    slow = tokenize(s, offsets=True)
    cols = ["idx", "token", "pos"]
    assert fast[cols].values.tolist() == slow[cols].values.tolist()
    raw = (text or "").encode("utf-8")
    rows = slow[slow["idx"] == 0]
    for r in rows.itertuples(index=False):
        assert raw[r.start:r.end].decode("utf-8") == r.token
    assert rows["pos"].tolist() == list(range(len(rows)))
    assert (rows["start"].to_numpy()[1:] >= rows["end"].to_numpy()[:-1]).all()
    last = slow[slow["idx"] == 2]
    assert last[["token", "pos", "start", "end"]].values.tolist() == (
        rows[["token", "pos", "start", "end"]].values.tolist()
    )


# ------------------------------------------- query-time analysis on Arrow

def _pandas_tokens(analyzer, text):
    return analyzer.tokenize(pd.Series([text]))["token"].tolist()


STOP = {"name": "stop_word", "args": {"words": ["the", "of", "a", "und"]}}
ARROW_ANALYZERS = {
    f"{tok}{suffix}": build_analyzer(f"{tok}{suffix}", {
        "tokenizer": {"name": tok}, "filters": filters,
    })
    for tok in ("simple", "whitespace", "raw")
    for suffix, filters in (
        ("", []),
        ("+lower", [{"name": "lower_case"}]),
        ("+stop", [STOP]),
        ("+lower+stop", [{"name": "lower_case"}, STOP]),
    )
}

# Unicode, digit and underscore cases on which the build's Arrow kernels
# and the pandas path split and lowercase the same way
ANALYSIS_PROBES = [
    "",
    " ",
    "Hello World!",
    "snake_case_word __x__ _",
    "a__b_1 _2_",
    "x1 2y 3.14 10,000 ½ ² ٣ Ⅻ ١٢٣ ४५",
    "naïve CAFÉ ñ Été ÀÉÎõü",
    "日本語 テキスト 中文",
    "emoji 😀 ok",
    "tab\tnew\nline  twice",
    "O'Neil's RUST-lang.rs x.y@z",
    "The Of the OF a A Und",
    "ǅ ǈ ﬁ Ꭰ",
]


def _webtext_texts():
    from bayard_spark.sources.webtext import synthesize_batch

    return synthesize_batch(np.arange(40))["text"].tolist()


@pytest.mark.parametrize("name", sorted(ARROW_ANALYZERS))
def test_analyze_one_on_arrow_equals_pandas_path(name):
    """Every analyzer the Arrow kernels support answers analyze_one with
    the pandas path's tokens, on webtext texts and on the edge cases."""
    from bayard_spark.analysis import arrow_native

    an = ARROW_ANALYZERS[name]
    assert arrow_native.supports(an)
    for text in ANALYSIS_PROBES + _webtext_texts():
        assert an.analyze_one(text) == _pandas_tokens(an, text), repr(text)


def test_analyze_one_splits_as_the_build_does():
    """Where the kernels and the pandas path disagree (Unicode lowercasing
    of 'İ' and final sigma, non-ASCII whitespace), analyze_one follows the
    kernel the build indexes with, so a query finds what was indexed."""
    import pyarrow as pa

    from bayard_spark.analysis import arrow_native

    default = builtin_analyzers()["default"]
    ws = ARROW_ANALYZERS["whitespace+lower"]
    for an, text in ((default, "İstanbul ΣΑΣ"), (ws, "a\u00a0b\u2003C")):
        _, codes, _, words, _ = arrow_native.tokenize_ints(
            pa.array([text]), an
        )
        built = words.take(pa.array(codes)).to_pylist()
        assert an.analyze_one(text) == built
        assert built != _pandas_tokens(an, text)


def test_stemming_analyzer_falls_back_to_pandas(monkeypatch):
    from bayard_spark.analysis import arrow_native

    an = build_analyzer("en", {
        "tokenizer": {"name": "simple"},
        "filters": [{"name": "lower_case"},
                    {"name": "stemming", "args": {"language": "english"}}],
    })
    assert not arrow_native.supports(an)

    def no_kernel(*a, **k):
        raise AssertionError("the Arrow kernel ran for a stemming analyzer")

    monkeypatch.setattr(arrow_native, "tokenize_ints", no_kernel)
    assert an.analyze_one("Running flies") == ["run", "fli"]
    assert an.analyze_one("Running flies") == _pandas_tokens(an, "Running flies")


def test_ascii_split_pattern_equals_the_unicode_one():
    """On ASCII-only text the simple tokenizer splits on an ASCII class
    (fast to compile) and elsewhere on the Unicode one; around every
    ASCII character, and over a batch that mixes both kinds of row, the
    two agree."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from bayard_spark.analysis import arrow_native

    texts = pa.array([f"a{chr(i)}b{chr(i)}{chr(i)}9" for i in range(128)])
    split = {
        p: pc.split_pattern_regex(texts, pattern=p).to_pylist()
        for p in (arrow_native.SIMPLE_PATTERN,
                  arrow_native.SIMPLE_ASCII_PATTERN)
    }
    assert split[arrow_native.SIMPLE_PATTERN] == \
        split[arrow_native.SIMPLE_ASCII_PATTERN]
    an = ARROW_ANALYZERS["simple+lower+stop"]
    rows = ANALYSIS_PROBES + _webtext_texts()[:5]
    row_ids, codes, _, words, _ = arrow_native.tokenize_ints(
        pa.array(rows), an
    )
    batch = words.take(pa.array(codes)).to_pylist()
    for i, text in enumerate(rows):
        assert [w for w, r in zip(batch, row_ids) if r == i] == \
            an.analyze_one(text), repr(text)
