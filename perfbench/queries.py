"""Search requests over the webtext vocabulary.

Terms are drawn with the same Zipf skew the corpus generator uses (rank 0
hottest), each kind from its own rank band — head (df close to the corpus
size), middle or tail. The kind of each request follows a fixed cycle
(MIX). The request lists come from fixed generator seeds, not the run's
seed: the cost of a request depends strongly on its terms (a phrase of
two head terms can cost several times another), so seed-drawn terms made
runs under different seeds do different work. The run's seed varies the
corpus the requests run against.
"""

from __future__ import annotations

import numpy as np

from bayard_spark.sources.webtext import VOCAB

KINDS = [
    "term", "term_hot", "phrase", "bool_must", "bool_should",
    "bool_must_not", "query_string", "fuzzy", "regex", "all_sorted",
    "url_lookup",
]

# (kind, collection_kind) slots of the query_mix cycle; two slots also
# count all matches, so the count path runs on every cycle
MIX = [
    ("term_hot", "top_docs"),
    ("term", "top_docs"),
    ("phrase", "top_docs"),
    ("bool_must", "top_docs"),
    ("bool_should", "top_docs"),
    ("bool_must_not", "top_docs"),
    ("query_string", "top_docs"),
    ("fuzzy", "top_docs"),
    ("regex", "top_docs"),
    ("all_sorted", "top_docs"),
    ("term_hot", "count_and_top_docs"),
    ("bool_must", "count_and_top_docs"),
]

MEASURED_SEED = 1   # request list of the measured window
WARMUP_SEED = 2     # request list of the warm-up pass
PROBE_SEED = 3      # request lists of the traced per-kind and wait probes

HEAD = 8      # ranks below this are "hot" (df close to the corpus size)
TAIL = 40     # ranks from HEAD to TAIL are the middle, the rest the tail


def _term(field: str, t: str) -> dict:
    return {"kind": "term", "options": {"field": field, "term": t}}


def _clause(occ: str, q: dict) -> dict:
    return {"occurrence": occ, "query": q}


class QueryGen:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.v = len(VOCAB)

    def word(self, lo: int = 0, hi: int | None = None) -> str:
        """A Zipf-ranked vocabulary word with rank in [lo, hi)."""
        hi = self.v if hi is None else hi
        while True:
            u = self.rng.random()
            r = int(min(np.exp(u * np.log(self.v + 1.0)) - 1.0, self.v - 1))
            if lo <= r < hi:
                return str(VOCAB[r])

    def query(self, kind: str) -> tuple[dict, dict]:
        """(query, request overrides) for one kind other than url_lookup."""
        def head():
            return self.word(0, HEAD)

        def mid():
            return self.word(HEAD, TAIL)

        if kind == "term":
            return _term("text", self.word(TAIL)), {}
        if kind == "term_hot":
            return _term("text", head()), {}
        if kind == "phrase":
            return {"kind": "phrase", "options": {
                "field": "text", "phrase_terms": [head(), head()], "slop": 1}}, {}
        if kind == "bool_must":
            return {"kind": "boolean", "options": {"subqueries": [
                _clause("must", _term("text", head())),
                _clause("must", _term("text", mid()))]}}, {}
        if kind == "bool_should":
            return {"kind": "boolean", "options": {"subqueries": [
                _clause("should", _term("text", mid())),
                _clause("should", _term("text", mid()))]}}, {}
        if kind == "bool_must_not":
            return {"kind": "boolean", "options": {"subqueries": [
                _clause("must", _term("text", mid())),
                _clause("must_not", _term("text", head()))]}}, {}
        if kind == "query_string":
            return {"kind": "query_string", "options": {
                "query": f'{mid()} "{head()} {head()}" -{head()}',
                "default_search_fields": ["text"]}}, {}
        if kind == "fuzzy":
            base = mid()
            while len(base) < 4:
                base = mid()
            i = int(self.rng.integers(0, len(base)))
            sub = "abcdefghijklmnopqrstuvwxyz"[int(self.rng.integers(0, 26))]
            return {"kind": "fuzzy_term", "options": {
                "field": "text", "term": base[:i] + sub + base[i + 1:],
                "distance": 1, "transposition_cost_one": True}}, {}
        if kind == "regex":
            base = mid()
            while len(base) < 3:
                base = mid()
            return {"kind": "regex", "options": {
                "field": "text", "regex": base[:3] + "[a-z]*"}}, {}
        if kind == "all_sorted":
            return {"kind": "all"}, {"sort": {"field": "warc_ts", "order": "desc"}}
        raise ValueError(f"unknown kind {kind!r}")

    def request(self, kind: str, collection_kind: str = "top_docs") -> dict:
        q, extra = self.query(kind)
        return {"query": q, "collection_kind": collection_kind, "hits": 10, **extra}

    def mix(self, n: int) -> list[tuple[str, dict]]:
        """n (kind, request) pairs following the MIX cycle."""
        out = []
        for i in range(n):
            kind, coll = MIX[i % len(MIX)]
            out.append((kind, self.request(kind, coll)))
        return out


def url_lookup(urls: list[str]) -> dict:
    """One request that must return each of `urls` that is live, exactly
    once: a should over url-field term queries with hits = len(urls)."""
    return {
        "query": {"kind": "boolean", "options": {"subqueries": [
            _clause("should", _term("url", u)) for u in urls]}},
        "collection_kind": "count_and_top_docs",
        "hits": len(urls),
    }


def vocabulary_set() -> list[tuple[str, dict]]:
    """The fixed query set run on every fresh ingest snapshot."""
    return [
        ("term_hot", {"query": _term("text", str(VOCAB[0])),
                      "collection_kind": "top_docs", "hits": 10}),
        ("phrase", {"query": {"kind": "phrase", "options": {
            "field": "text", "phrase_terms": [str(VOCAB[1]), str(VOCAB[0])],
            "slop": 0}}, "collection_kind": "top_docs", "hits": 10}),
        ("bool_must", {"query": {"kind": "boolean", "options": {"subqueries": [
            _clause("must", _term("text", str(VOCAB[3]))),
            _clause("must", _term("text", str(VOCAB[20])))]}},
            "collection_kind": "count_and_top_docs", "hits": 10}),
    ]
