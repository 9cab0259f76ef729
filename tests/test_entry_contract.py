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


ENGINE = os.path.join(ROOT, "bayard_spark", "query", "engine.py")
# pyarrow calls that read index files: dataset scans and parquet reads
FILE_READS = {"to_table", "read", "read_row_group", "read_row_groups",
              "iter_batches", "read_table"}


def _parents(tree: ast.AST) -> dict:
    return {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}


def _enclosing(node: ast.AST, parents: dict, kind=ast.FunctionDef):
    while node in parents:
        node = parents[node]
        if isinstance(node, kind):
            return node
    return None


def _is_cache_fetch(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr == "fetch"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "_read_cache"
    )


def test_driver_site_reads_only_on_the_read_cache_miss_path():
    # the engine reads postings (`_postings_ds.to_table`) and docs row
    # groups (`read_row_groups`) only inside the read cache's miss paths
    # (`_load_*`), besides the open's one dictionary read; and a miss
    # path is only ever handed to `_read_cache.fetch`, never called
    # directly, so no driver-site read can bypass the cache
    tree = ast.parse(open(ENGINE).read(), ENGINE)
    parents = _parents(tree)
    outside, loaders, direct = [], set(), []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute):
            continue
        fn = _enclosing(node, parents)
        if node.attr in FILE_READS and isinstance(parents[node], ast.Call):
            name = fn.name if fn else "<module>"
            if not name.startswith("_load_") and name != "_preload_dictionary":
                outside.append(f"{name}:{node.lineno} {node.attr}")
        if node.attr.startswith("_load_"):
            loaders.add(node.attr)
            call = parents[node]
            while call in parents and not _is_cache_fetch(call):
                call = parents[call]
            if not _is_cache_fetch(call) or call.func is node:
                direct.append(f"{node.lineno} {node.attr}")
    defined = {
        n.name for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name.startswith("_load_")
    }
    assert not outside, outside
    assert not direct, direct
    assert defined == loaders == {
        "_load_postings", "_load_doc_columns", "_load_live_column"
    }


INDEXER = os.path.join(ROOT, "bayard_spark", "build", "indexer.py")


def _names(path: str) -> list[tuple[int, str]]:
    """(line, name) of every imported name, bare name and attribute."""
    out = []
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.ImportFrom):
            out += [(node.lineno, a.name) for a in node.names]
        elif isinstance(node, ast.Attribute):
            out.append((node.lineno, node.attr))
        elif isinstance(node, ast.Name):
            out.append((node.lineno, node.id))
    return out


def test_one_block_encode_step():
    # build, put and merge encode blocks through indexer.encode_blocks:
    # no other package module reaches the group encoder, and inside the
    # indexer encode_blocks is its one caller
    offenders = [
        f"{os.path.relpath(path, ROOT)}:{line}"
        for path in PACKAGE_MODULES if path != INDEXER
        for line, name in _names(path) if name == "encode_group_table"
    ]
    assert not offenders, offenders
    uses = [line for line, name in _names(INDEXER) if name == "encode_group_table"]
    assert len(uses) == 1, uses


# The IndexBuilder / SegmentWriter calls the frozen benchmark scripts
# (bench.py, bench_extra.py, perfbench/) make, as (method, args, kwargs).
FROZEN_BUILDER_CALLS = [
    ("__init__", ("spark", "meta", "root"), {}),
    ("build", ("src",), {"resume": False}),
    ("assign_doc_ids", ("src",), {}),
    ("write_docs", ("with_ids",), {}),
    ("_hot_terms_sampled", ("docs",), {}),
    ("posting_rows", ("docs",), {}),
    ("blockify_wave", ("rows", 0, "hot"), {}),
    ("write_norms_stats_direct", ("docs", "n"), {}),
]
FROZEN_WRITER_CALLS = [
    ("__init__", ("spark", "builder"), {}),
    ("put_documents", ("df",), {}),
    ("delete_documents", ("urls",), {}),
    ("commit", (), {}),
]


FROZEN_CALLS = [("IndexBuilder", *c) for c in FROZEN_BUILDER_CALLS] + [
    ("SegmentWriter", *c) for c in FROZEN_WRITER_CALLS
]


@pytest.mark.parametrize(
    "cls_name, method, args, kwargs", FROZEN_CALLS,
    ids=[f"{c[0]}.{c[1]}" for c in FROZEN_CALLS],
)
def test_frozen_script_calls_bind(cls_name, method, args, kwargs):
    import inspect

    from bayard_spark.build import indexer, segments

    cls = getattr(indexer if cls_name == "IndexBuilder" else segments, cls_name)
    inspect.signature(getattr(cls, method)).bind("self", *args, **kwargs)


# The build.segments functions perfbench calls, as (name, args): the
# ingest round's visibility check, its merge, and its visible-file count.
FROZEN_SEGMENTS_CALLS = [
    ("visible_docs", ("spark", "paths")),
    ("merge_segments", ("spark", "builder")),
    ("CommitLog", ("root",)),
    ("CommitLog.committed_segments", ("self",)),
]


@pytest.mark.parametrize(
    "name, args", FROZEN_SEGMENTS_CALLS, ids=[c[0] for c in FROZEN_SEGMENTS_CALLS]
)
def test_frozen_segments_calls_bind(name, args):
    import functools
    import inspect

    from bayard_spark.build import segments

    target = functools.reduce(getattr, name.split("."), segments)
    inspect.signature(target).bind(*args)


def test_frozen_script_meta_builds():
    # bench.py, bench_extra.py and perfbench still pass the retired
    # num_waves; it is accepted and ignored
    from bayard_spark.schema import IndexMeta, webtext_index_meta

    meta = webtext_index_meta(
        num_buckets=16, num_waves=1, salt_span=50_000, hot_df_threshold=100_000
    )
    assert (meta.num_buckets, meta.salt_span, meta.hot_df_threshold) == (
        16, 50_000, 100_000
    )
    assert IndexMeta.from_json(meta.to_json()) == meta
