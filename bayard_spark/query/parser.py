"""query_string parser → JSON-DSL AST.

The reference delegates to tantivy's QueryParser over default_search_fields
(bayard/src/search/query/query_string.rs:16-40; errors when the field list is
empty :20-22). This is our own recursive-descent parser for the tantivy
grammar surface the reference exposes (docs/query_dsl.md:151-169 plus the
QueryParser features tantivy documents):

    expr    := item*
    item    := [+|-|NOT] group ['^' number]
    group   := '(' expr ')' | [field ':'] ( '"' phrase '"' | word )

Semantics (documented; the oracle and the Spark engine share this exact
function, so rank-identity holds by construction):
- bare clauses default to `should` (tantivy default is disjunction;
  set_conjunction_by_default is never called by the reference)
- an explicit AND connector upgrades the non-negated clauses OF ITS
  PARENTHESIS LEVEL to `must` (tantivy 0.18 flattens infix operators into
  one occurrence-marked clause list per level)
- `+` → must, `-` and `NOT` → must_not
- `(...)` groups parse recursively into a nested boolean
- `term^2` / `"a b"^0.5` / `(...)^3` wrap the clause in a boost query
- an unqualified clause searches every default field (should-of-fields)
- clause text is analyzed with the target field's analyzer; one token →
  term query, many tokens → phrase query (slop 0); zero tokens → dropped
- a quoted clause is always a phrase when it analyzes to >1 token
"""

from __future__ import annotations

import re

TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<gprefix>[+-])(?=\()
      | (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<connector>AND|OR|NOT)(?=[\s()]|$)
      | (?P<prefix>[+-])?
        (?:(?P<field>[\w.]+):)?
        (?:"(?P<phrase>[^"]*)"|(?P<word>[^\s"()]+))
    )""",
    re.VERBOSE,
)

_BOOST_RE = re.compile(r"^(?P<body>.*?)\^(?P<boost>\d+(?:\.\d+)?)$", re.S)


def _tokenize(query: str):
    pos = 0
    out = []
    while pos < len(query):
        m = TOKEN_RE.match(query, pos)
        if not m or m.end() == pos:
            break
        pos = m.end()
        if m.group("gprefix"):
            out.append(("gprefix", m.group("gprefix")))
        elif m.group("lparen"):
            out.append(("(", None))
        elif m.group("rparen"):
            out.append((")", None))
        elif m.group("connector"):
            out.append((m.group("connector"), None))
        else:
            out.append(
                (
                    "clause",
                    (
                        m.group("prefix"),
                        m.group("field"),
                        m.group("phrase"),
                        m.group("word"),
                    ),
                )
            )
    return out


def parse_query_string(
    query: str,
    default_search_fields: list[str],
    analyzers,
    field_analyzers: dict[str, str],
    analyze=None,
) -> dict:
    """The AST of a query_string. A leaf's text is analyzed by
    `analyze(analyzer name, text)` when given (the engine's memo), else by
    the field's analyzer directly."""
    if not default_search_fields:
        # query_string.rs:20-22
        raise ValueError("default_search_fields must not be empty")

    tokens = _tokenize(query)

    def leaf(field: str, text: str) -> dict | None:
        aname = field_analyzers.get(field, "default")
        toks = list(
            analyze(aname, text) if analyze is not None
            else analyzers[aname].analyze_one(text)
        )
        if not toks:
            return None
        if len(toks) == 1:
            return {"kind": "term",
                    "options": {"field": field, "term": toks[0]}}
        return {
            "kind": "phrase",
            "options": {"field": field, "phrase_terms": toks, "slop": 0},
        }

    def clause_ast(field: str | None, text: str) -> dict | None:
        fields = [field] if field else list(default_search_fields)
        leaves = [x for x in (leaf(f, text) for f in fields) if x]
        if not leaves:
            return None
        if len(leaves) == 1:
            return leaves[0]
        return {
            "kind": "boolean",
            "options": {
                "subqueries": [
                    {"occurrence": "should", "query": x} for x in leaves
                ]
            },
        }

    def boost(ast: dict, factor: float | None) -> dict:
        if factor is None or ast is None:
            return ast
        return {"kind": "boost", "options": {"query": ast, "boost": factor}}

    def parse_level(i: int) -> tuple[dict | None, int]:
        """Parse tokens[i:] until a ')' or end → (ast, next_index)."""
        items: list[tuple[str | None, dict]] = []  # (occ-or-None, ast)
        saw_and = False
        pending_occ: str | None = None
        while i < len(tokens):
            kind, payload = tokens[i]
            if kind == ")":
                i += 1
                break
            if kind == "AND":
                saw_and = True
                i += 1
                continue
            if kind == "OR":
                i += 1
                continue
            if kind == "NOT":
                pending_occ = "must_not"
                i += 1
                continue
            if kind == "gprefix":
                pending_occ = "must" if payload == "+" else "must_not"
                i += 1
                continue
            if kind == "(":
                sub, i = parse_level(i + 1)
                factor = None
                # a ^boost may follow the group as its own word token
                if (
                    i < len(tokens)
                    and tokens[i][0] == "clause"
                    and tokens[i][1][3]
                    and tokens[i][1][3].startswith("^")
                ):
                    try:
                        factor = float(tokens[i][1][3][1:])
                        i += 1
                    except ValueError:
                        factor = None
                if sub is not None:
                    items.append((pending_occ, boost(sub, factor)))
                pending_occ = None
                continue
            # clause
            prefix, field, phrase, word = payload
            factor = None
            text = phrase if phrase is not None else word
            if phrase is None and word:
                m = _BOOST_RE.match(word)
                if m and m.group("body"):
                    text = m.group("body")
                    factor = float(m.group("boost"))
            elif (
                phrase is not None
                and i + 1 < len(tokens)
                and tokens[i + 1][0] == "clause"
                and tokens[i + 1][1][3]
                and tokens[i + 1][1][3].startswith("^")
            ):
                try:
                    factor = float(tokens[i + 1][1][3][1:])
                    i += 1
                except ValueError:
                    factor = None
            ast = clause_ast(field, text)
            if ast is not None:
                occ = pending_occ
                if prefix == "+":
                    occ = "must"
                elif prefix == "-":
                    occ = "must_not"
                items.append((occ, boost(ast, factor)))
            pending_occ = None
            i += 1

        if not items:
            return None, i
        subqueries = []
        for occ, ast in items:
            if occ is None:
                occ = "must" if saw_and else "should"
            subqueries.append({"occurrence": occ, "query": ast})
        if len(subqueries) == 1 and subqueries[0]["occurrence"] == "should":
            return subqueries[0]["query"], i
        return {"kind": "boolean", "options": {"subqueries": subqueries}}, i

    ast, _ = parse_level(0)
    if ast is None:
        return {"kind": "boolean", "options": {"subqueries": []}}
    return ast
