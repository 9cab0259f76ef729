"""Analyzer = one tokenizer + ordered token filters, built from JSON config.

Mirrors bayard/src/index/analyzer.rs:115-226: config shape is

    {"tokenizer": {"name": "simple", "args": {...}},
     "filters": [{"name": "lower_case"}, {"name": "stemming", "args": {...}}]}

Registered per index under a name (analyzer.rs:228-234); field indexing
options reference analyzers by name ("default", "raw", ...). Query-side
`term`/`phrase` arguments are NOT re-analyzed (search/query/term.rs:21);
only `query_string` runs the analyzer — the query layer honors this.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd
import pyarrow as pa

from bayard_spark.analysis.filters import FILTERS
from bayard_spark.analysis.tokenizers import TOKENIZERS


@dataclass(frozen=True)
class Analyzer:
    """A compiled, picklable analyzer pipeline (safe to ship to executors)."""

    name: str
    tokenizer_name: str
    tokenizer_args: tuple[tuple[str, Any], ...] = ()
    filter_specs: tuple[tuple[str, tuple[tuple[str, Any], ...]], ...] = ()

    def tokenize(self, s: pd.Series, offsets: bool = False) -> pd.DataFrame:
        """Run the full pipeline over a Series of strings → token frame."""
        tok = TOKENIZERS[self.tokenizer_name]
        frame = tok(s, **dict(self.tokenizer_args), offsets=offsets)
        for fname, fargs in self.filter_specs:
            frame = FILTERS[fname](frame, **dict(fargs))
        return frame

    def analyze_one(self, text: str) -> list[str]:
        """Analyze a single string → list of token texts (driver-side use:
        query_string analysis, tests). An analyzer the build runs on the
        Arrow kernels (`arrow_native.supports`) runs on them here too, so
        a query splits text the way the index did."""
        from bayard_spark.analysis import arrow_native

        if arrow_native.supports(self):
            _, codes, _, words, _ = arrow_native.tokenize_ints(
                pa.array([text], type=pa.string()), self
            )
            return words.take(pa.array(codes)).to_pylist()
        frame = self.tokenize(pd.Series([text]))
        return frame["token"].tolist()

    def terms_per_row(self, s: pd.Series) -> pd.Series:
        """Series of strings → Series of list[str] tokens, aligned to input."""
        frame = self.tokenize(s)
        grouped = frame.groupby("idx")["token"].agg(list)
        out = pd.Series([[]] * len(s), index=range(len(s)), dtype="object")
        out.update(grouped)
        return out


def build_analyzer(name: str, config: dict[str, Any]) -> Analyzer:
    """Compile a JSON analyzer config (analyzer.rs:115-226 shape)."""
    tok_cfg = config.get("tokenizer")
    if not tok_cfg or "name" not in tok_cfg:
        raise ValueError(f"analyzer {name!r}: missing tokenizer.name")
    tok_name = tok_cfg["name"]
    if tok_name not in TOKENIZERS:
        raise ValueError(f"analyzer {name!r}: unknown tokenizer {tok_name!r}")
    tok_args = tuple(sorted(
        # nested JSON args (e.g. lindera's decompose mode object) are
        # canonicalized to a JSON string so the frozen Analyzer stays
        # hashable/picklable; the tokenizer parses them back
        (k, json.dumps(v, sort_keys=True) if isinstance(v, dict) else v)
        for k, v in (tok_cfg.get("args") or {}).items()
    ))
    specs: list[tuple[str, tuple[tuple[str, Any], ...]]] = []
    for f in config.get("filters", []) or []:
        fname = f.get("name")
        if fname not in FILTERS:
            raise ValueError(f"analyzer {name!r}: unknown filter {fname!r}")
        args = {k: (tuple(v) if isinstance(v, list) else v)
                for k, v in (f.get("args") or {}).items()}
        # normalize arg names the reference uses
        if fname == "stop_word" and "words" in args:
            args["words"] = list(args["words"])
        specs.append((fname, tuple(sorted(args.items()))))
    return Analyzer(
        name=name,
        tokenizer_name=tok_name,
        tokenizer_args=tok_args,
        filter_specs=tuple(specs),
    )


# Built-in analyzers always registered (tantivy defaults Bayard relies on):
#   raw      — whole value, used for _id (bayard/src/index.rs:9)
#   default  — simple + lower_case (tantivy's "default" analyzer)
def builtin_analyzers() -> dict[str, Analyzer]:
    return {
        "raw": build_analyzer("raw", {"tokenizer": {"name": "raw"}}),
        "default": build_analyzer(
            "default",
            {"tokenizer": {"name": "simple"},
             "filters": [{"name": "lower_case"}]},
        ),
    }


def build_analyzers(configs: dict[str, dict[str, Any]]) -> dict[str, Analyzer]:
    """Compile a {name: config} map, overlaying the builtins."""
    out = builtin_analyzers()
    for name, cfg in (configs or {}).items():
        out[name] = build_analyzer(name, cfg)
    return out


AnalyzeFn = Callable[[pd.Series], pd.DataFrame]
