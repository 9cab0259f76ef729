"""The gate entry file (__spark_entry__.py) and the scripts around the
package stay wired up.

Spark-free: importing __spark_entry__ and resolving module specs starts no
session. A dangling import, or a gate without its oracle SQL twin (or the
reverse), fails here instead of when the gates run. Each oracle SQL twin
also runs on DuckDB over the sf0.001 documents table.
"""

import ast
import glob
import importlib
import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "bench_extra.py")]
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    + glob.glob(os.path.join(ROOT, "tools", "*.py"))
)


@pytest.fixture(scope="module")
def entry_module():
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return importlib.import_module("__spark_entry__")


def test_gates_and_oracle_sql_share_keys(entry_module):
    assert set(entry_module.queries()) == set(entry_module.oracle_sql())


def test_entry_is_callable(entry_module):
    assert callable(entry_module.entry)


def _package_modules(path: str) -> set[str]:
    """Every bayard_spark module a script imports, at any nesting level."""
    mods = set()
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            mods.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            mods.add(node.module)
    return {m for m in mods if m.split(".")[0] == "bayard_spark"}


@pytest.mark.parametrize(
    "script", SCRIPTS, ids=[os.path.relpath(p, ROOT) for p in SCRIPTS]
)
def test_script_imports_resolve(script):
    def resolves(mod):
        try:
            return importlib.util.find_spec(mod) is not None
        except ModuleNotFoundError:  # a parent package is gone
            return False

    missing = [m for m in sorted(_package_modules(script)) if not resolves(m)]
    assert not missing, missing


SF = "/root/testdata/sf0.001"
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
ORACLE_SQL = importlib.import_module("__spark_entry__").oracle_sql()


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize("gate", sorted(ORACLE_SQL))
def test_oracle_sql_runs_on_duckdb(duck, gate):
    # every gate's SQL twin (including the BM25 prelude and tokenizer SQL
    # that live in the entry file) binds and runs over documents, and
    # yields rows with distinct column names for the compare to sort by
    df = duck.execute(ORACLE_SQL[gate]).df()
    assert len(df) > 0
    assert len(set(df.columns)) == len(df.columns) > 0


def _decodes_outside_codec(name: str) -> bool:
    return name in {"varint_decode", "varint_decode_many", "decode_block"} \
        or name.startswith("delta_decode")


PACKAGE_MODULES = sorted(
    p for p in glob.glob(os.path.join(ROOT, "bayard_spark", "**", "*.py"),
                         recursive=True)
    if os.path.relpath(p, ROOT) != os.path.join("bayard_spark", "build",
                                                "codec.py")
)


def test_one_block_decoder():
    # block payloads decode through codec.decode_blocks only: no package
    # module besides the codec imports (or reaches as an attribute) a
    # lower-level decode kernel or the per-block reference decoder
    offenders = []
    for path in PACKAGE_MODULES:
        for node in ast.walk(ast.parse(open(path).read(), path)):
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            else:
                continue
            offenders += [
                f"{os.path.relpath(path, ROOT)}:{node.lineno} {n}"
                for n in names if _decodes_outside_codec(n)
            ]
    assert {
        os.path.join(ROOT, "bayard_spark", *m.split("/"))
        for m in ("query/engine.py", "build/segments.py", "build/indexer.py")
    } <= set(PACKAGE_MODULES)
    assert not offenders, offenders
