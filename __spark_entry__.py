"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` runs production code: the ``engine_*`` gates
and ``streaming_upsert`` build a real index and answer through
SearchEngine (SURVEY.md §2 search DSL kinds), and the rest run the kept
``bayard_spark.functions`` pipeline ops that bench.py's report-only
pipeline section composes. Each has an ``oracle_sql()`` twin executed by
DuckDB over the same parquet views; column names and row selection
(ordering + tie-breaks inside LIMIT) are aligned so an order-insensitive
value-hash of the two results matches.

Search semantics follow the engine spec (bayard_spark.oracle.engine /
SURVEY §2.7): simple tokenizer + lower_case, BM25 k1=1.2 b=0.75 with global
stats, exact doc lengths, half-open ranges, score-sum booleans. Scores are
rounded to 6 decimals on both sides (Spark and DuckDB agree to ~1e-15;
rounding removes ulp noise from differing log/sum implementations).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

K1, B = 1.2, 0.75


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ------------------------------------------- block-codec engine gates
# These entries run the REAL engine end-to-end: IndexBuilder writes
# delta+varint posting blocks (build/codec.py) to a temp dir, SearchEngine
# decodes them (query/engine.py postings_from_blocks) and answers BM25
# top-k with its one scorer (_score) — so the
# DuckDB oracle comparison exercises the codec path. The index build is
# cached per sf_dir within the process so the gates share one build.

_ENGINE_GATE_CACHE: dict[str, str] = {}


def _engine_index(spark, sf_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    root = _ENGINE_GATE_CACHE.get(sf_dir)
    if root is not None:
        return root
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta

    docs = _docs(spark, sf_dir)
    src = docs.select(
        F.concat(F.lit("https://example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(secs=F.col("doc_id"))).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
    )
    root = tempfile.mkdtemp(prefix="gate_engine_idx_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    meta = webtext_index_meta(num_buckets=8)
    IndexBuilder(spark, meta, root).build(src, resume=False)
    _ENGINE_GATE_CACHE[sf_dir] = root
    return root


def _engine_search_df(
    spark, sf_dir: str, query: dict, hits: int = 10, offset: int = 0
) -> DataFrame:
    from bayard_spark.query import SearchEngine

    root = _engine_index(spark, sf_dir)
    engine = SearchEngine(spark, root)
    resp = engine.search(
        {"query": query, "collection_kind": "top_docs", "hits": hits,
         "offset": offset}
    )
    rows = [
        (int(d["id"].rsplit("/", 1)[1]), round(float(d["score"]), 6))
        for d in resp.documents
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


def q_engine_term_bm25(spark, sf_dir):
    """BM25 top-10 for 'spark' answered by the block-codec SearchEngine
    (posting-block scan -> numpy varint decode -> numpy BM25 -> top-k),
    built from the same documents table the
    DuckDB oracle sees. Reference: tantivy block postings decode;
    bayard/src/search/query/term.rs."""
    return _engine_search_df(
        spark, sf_dir,
        {"kind": "term", "options": {"field": "text", "term": "spark"}},
    )


def q_engine_phrase_bm25(spark, sf_dir):
    """Positions-recorded phrase query ("hash join", slop 0) through the
    codec engine: per-term position arrays decode from pos_bytes blocks
    and the vectorized adjacency sweep verifies matches
    (bayard/src/search/query/phrase.rs:13-33)."""
    return _engine_search_df(
        spark, sf_dir,
        {"kind": "phrase",
         "options": {"field": "text", "phrase_terms": ["hash", "join"],
                     "slop": 0}},
    )


def q_engine_bool_must(spark, sf_dir):
    """Boolean must-chain through the codec engine: a sorted doc-id
    intersection over REAL decoded posting blocks with the clause-order
    score sum (query/engine.py _score) — the boolean path was
    pytest-only in r4 (VERDICT r4 Next #4). Oracle twin: two term-score
    CTEs joined on doc_id. Reference: bayard/src/search/query/boolean.rs:272-290."""
    return _engine_search_df(
        spark, sf_dir,
        {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "must",
             "query": {"kind": "term",
                       "options": {"field": "text", "term": "spark"}}},
            {"occurrence": "must",
             "query": {"kind": "term",
                       "options": {"field": "text", "term": "join"}}},
        ]}},
    )


def q_engine_all_sort(spark, sf_dir):
    """Sort-by-fast-field response through the codec engine: kind=all with
    sort on the warc_ts fast field (desc, doc_id tiebreak) — exercises the
    engine's fast-field sort branch and the size-gated response path end
    to end (node.rs:1312-1331 fast-field sort semantics). sort_value is
    compared as a formatted naive timestamp so Spark-session and DuckDB
    timezone conventions cannot skew an epoch comparison."""
    from bayard_spark.query import SearchEngine

    root = _engine_index(spark, sf_dir)
    engine = SearchEngine(spark, root)
    resp = engine.search(
        {"query": {"kind": "all"}, "collection_kind": "top_docs",
         "hits": 10, "sort": {"field": "warc_ts", "order": "desc"}}
    )
    rows = [
        (int(d["id"].rsplit("/", 1)[1]),
         d["sort_value"].strftime("%Y-%m-%d %H:%M:%S"))
        for d in resp.documents
    ]
    return spark.createDataFrame(rows, "doc_id long, sort_ts string")


def q_engine_query_string(spark, sf_dir):
    """The full query_string grammar (parens, NOT, ^boost) through the
    codec engine: parser AST → boolean composition over real decoded
    blocks. Oracle twin: the hand-expanded boolean over term-score CTEs.
    Reference: bayard/src/search/query/query_string.rs:16-40."""
    return _engine_search_df(
        spark, sf_dir,
        {"kind": "query_string",
         "options": {"query": "(spark OR query) NOT vector join^2",
                     "default_search_fields": ["text"]}},
    )


def q_engine_phrase_slop(spark, sf_dir):
    """Slop-1 phrase through the codec engine: tf counts start positions
    p0 of 'hash' from which some 'join' lies in (p0, p0+2] — the
    backward-reachability sweep over real decoded position arrays
    (phrase.rs:13-33 slop semantics)."""
    return _engine_search_df(
        spark, sf_dir,
        {"kind": "phrase",
         "options": {"field": "text", "phrase_terms": ["hash", "join"],
                     "slop": 1}},
    )


def q_engine_offset_page(spark, sf_dir):
    """Deep pagination under the oracle: a middle page of the 'spark'
    ranking (offset 12, 10 hits) — the offset ride through
    TakeOrderedAndProject must select the same row SET as SQL
    LIMIT/OFFSET over the same (score DESC, doc_id ASC) order
    (client.rs:843-844 coordinator offset push-down). The offset is
    chosen so both page BOUNDARIES fall on real score gaps (≥3e-5): a
    bit-exact score tie straddling a boundary is resolved by f64 ulps
    that legitimately differ between two engines' expression orders, so
    a boundary-tie page would compare one element of the tie against
    the other. Ties INSIDE the page are fine — the driver's value hash
    is order-insensitive."""
    return _engine_search_df(
        spark, sf_dir,
        {"kind": "term", "options": {"field": "text", "term": "spark"}},
        hits=10, offset=12,
    )


def q_engine_fuzzy(spark, sf_dir):
    """Fuzzy expansion through the codec engine: metadata-only dictionary
    scan → Levenshtein ≤1 matches of 'joinz' → one decode pass,
    should-sum scoring (fuzzy_term.rs:5-39). Oracle twin: the dictionary
    expansion SQL."""
    return _engine_search_df(
        spark, sf_dir,
        {"kind": "fuzzy_term",
         "options": {"field": "text", "term": "joinz", "distance": 1}},
    )


def q_engine_regex(spark, sf_dir):
    """Regex expansion through the codec engine: dictionary fullmatch of
    jo[a-z]* (regex.rs:12-25), then the same multi-term should-sum."""
    return _engine_search_df(
        spark, sf_dir,
        {"kind": "regex",
         "options": {"field": "text", "regex": "jo[a-z]*"}},
    )


_ENGINE_MERGE_CACHE: dict[str, str] = {}


def q_engine_merge_after_delete(spark, sf_dir):
    """The full delete -> commit -> merge -> query lifecycle under the
    driver oracle (the one §2.3 operator that was pytest-only, VERDICT r5
    Next #2): copy the shared gate index, tombstone every url whose
    embedded doc_id % 7 == 3 via SegmentWriter.delete_documents
    (bayard/src/node.rs:1198-1241), commit, physically compact with
    merge_segments (tantivy background-merge analogue, CHANGES.md 0.3.0
    #49), then answer the 'spark' term query through SearchEngine over
    the MERGED index. The oracle replays BM25 over the surviving docs
    with recomputed global stats, so the compaction must both drop the
    doomed docs and rewrite n_docs/avg_len to hash-match."""
    import atexit
    import shutil
    import tempfile

    from bayard_spark.query import SearchEngine

    root = _ENGINE_MERGE_CACHE.get(sf_dir)
    if root is None:
        from bayard_spark.build.indexer import IndexBuilder
        from bayard_spark.build.segments import SegmentWriter, merge_segments
        from bayard_spark.schema import webtext_index_meta

        src = _engine_index(spark, sf_dir)
        root = tempfile.mkdtemp(prefix="gate_engine_merge_")
        shutil.rmtree(root)
        shutil.copytree(src, root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        meta = webtext_index_meta(num_buckets=8)
        builder = IndexBuilder(spark, meta, root)
        doomed = [
            int(r["doc_id"])
            for r in _docs(spark, sf_dir)
            .filter(F.col("doc_id") % 7 == 3)
            .select("doc_id")
            .collect()
        ]
        writer = SegmentWriter(spark, builder)
        writer.delete_documents(
            [f"https://example.com/doc/{i}" for i in doomed]
        )
        writer.commit()
        merge_segments(spark, builder)
        _ENGINE_MERGE_CACHE[sf_dir] = root
    engine = SearchEngine(spark, root)
    resp = engine.search(
        {"query": {"kind": "term",
                   "options": {"field": "text", "term": "spark"}},
         "collection_kind": "top_docs", "hits": 10}
    )
    rows = [
        (int(d["id"].rsplit("/", 1)[1]), round(float(d["score"]), 6))
        for d in resp.documents
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


def q_unigram_logprob(spark, sf_dir):
    """Corpus-LM quality proxy: per-doc mean unigram log-prob under the
    corpus's own term distribution (functions/textstats.unigram_logprob) —
    the CCNet-style filter signal for web-scale corpus cleaning."""
    from bayard_spark.functions.textstats import unigram_logprob

    docs = _docs(spark, sf_dir)
    out = unigram_logprob(docs)
    return out.select(
        "doc_id", F.round("logprob", 6).alias("logprob")
    ).orderBy("doc_id")


def q_streaming_upsert(spark, sf_dir):
    """§2.9 NRT streaming gate: a Structured Streaming query
    (readStream → foreachBatch → StreamingIngestor) upserts refreshed
    versions of every doc_id % 5 == 0 document into a freshly built
    block-codec index, committing per micro-batch; the SearchEngine then
    counts matches for the refreshed-only marker term. total_hits equals
    the refreshed-doc count exactly IFF the streamed segments became
    visible atomically, replaced urls were tombstoned, and the epoch
    ledger deduplicated replays — the reference's buffered-writer +
    commit NRT cycle (node.rs:1243-1261) restated as streaming.
    Oracle twin: the same count straight off the documents table."""
    import shutil
    import tempfile

    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.query import SearchEngine
    from bayard_spark.schema import webtext_index_meta
    from bayard_spark.streaming.ingest import StreamingIngestor

    docs = _docs(spark, sf_dir)
    base = docs.select(
        F.concat(F.lit("https://example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(secs=F.col("doc_id"))).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
    )
    root = tempfile.mkdtemp(prefix="gate_stream_idx_")
    src_dir = tempfile.mkdtemp(prefix="gate_stream_src_")
    ckpt = tempfile.mkdtemp(prefix="gate_stream_ckpt_")
    try:
        meta = webtext_index_meta(num_buckets=8)
        builder = IndexBuilder(spark, meta, root)
        builder.build(base, resume=False)
        # refreshed versions arrive as a stream (newer warc_ts, marker term)
        refreshed = base.filter(
            F.pmod(F.xxhash64("url"), F.lit(1)) >= 0  # keep schema/plan simple
        ).join(
            docs.filter(F.col("doc_id") % 5 == 0).select(
                F.concat(F.lit("https://example.com/doc/"),
                         F.col("doc_id").cast("string")).alias("url")
            ),
            "url",
        ).withColumn(
            "text", F.concat(F.col("text"), F.lit(" streamrefresh"))
        ).withColumn(
            "warc_ts", F.col("warc_ts") + F.make_interval(days=F.lit(1))
        )
        refreshed.write.mode("overwrite").parquet(src_dir)
        ingestor = StreamingIngestor(spark, builder)
        q = (
            spark.readStream.schema(refreshed.schema).parquet(src_dir)
            .writeStream.foreachBatch(ingestor)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(300)
        engine = SearchEngine(spark, root)
        resp = engine.search(
            {
                "query": {"kind": "term",
                          "options": {"field": "text",
                                      "term": "streamrefresh"}},
                "collection_kind": "count",
            }
        )
        return spark.createDataFrame(
            [(int(resp.total_hits),)], "total_hits long"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


# ------------------------------------------------- training-data pipeline


def q_repetition(spark, sf_dir):
    """Gopher-style repetition filters via the PRODUCTION operator
    (functions/textstats.py repetition_stats) — fully deterministic JVM
    expressions, so the gate runs the real code path, no portable twin."""
    from bayard_spark.functions.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def q_decontaminate(spark, sf_dir):
    """Benchmark n-gram decontamination via the PRODUCTION operator
    (functions/dedup.py decontaminate). Benchmark corpus = every 41st doc
    (deterministic); output covers the remaining docs, zero-hit rows kept."""
    from bayard_spark.functions.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 41 == 0)
    rest = docs.filter(F.col("doc_id") % 41 != 0)
    return decontaminate(rest, bench).orderBy("doc_id")


# documents.text is single-line word soup — the line/paragraph gates give
# it deterministic structure shared VERBATIM with their DuckDB twins:
# 5-word lines, plus (gopher only) a bullet line on doc_id % 5 == 0 and a
# trailing ellipsis line on doc_id % 7 == 0 so those counters see signal.
_LINEIFY_RE = r"(\w+ \w+ \w+ \w+ \w+) "


def q_gopher(spark, sf_dir):
    """Gopher/MassiveText line+word rule set via the PRODUCTION operator
    (functions/textstats.py gopher_rules) over lineified documents."""
    from bayard_spark.functions.textstats import gopher_rules

    docs = _docs(spark, sf_dir)
    text = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("- bullet list\n")).otherwise(
            F.lit("")
        ),
        F.regexp_replace(F.col("text"), _LINEIFY_RE, "$1\n"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("\nwait for it...")).otherwise(
            F.lit("")
        ),
    )
    out = gopher_rules(docs.select("doc_id", text.alias("text")))
    return out.select(
        "doc_id",
        "n_words",
        "n_lines",
        "mean_word_len",
        "symbol_word_ratio",
        "bullet_line_ratio",
        "ellipsis_line_ratio",
        "alpha_word_ratio",
        F.col("req_stop_hits").cast("long").alias("req_stop_hits"),
        "dup_line_frac",
        "dup_line_char_frac",
        F.col("gopher_pass").cast("int").alias("gopher_pass"),
    ).orderBy("doc_id")


def q_para_dedup(spark, sf_dir):
    """Corpus-level duplicate-paragraph removal via the PRODUCTION operator
    (functions/dedup.py paragraph_dedup): 5-word lines as paragraphs — the
    tiny synthetic vocabulary makes real cross-doc duplicates."""
    from bayard_spark.functions.dedup import paragraph_dedup

    docs = _docs(spark, sf_dir)
    lined = docs.select(
        "doc_id",
        F.regexp_replace(F.col("text"), _LINEIFY_RE, "$1\n").alias("text"),
    )
    return paragraph_dedup(lined, sep="\n").orderBy("doc_id")


def q_pii(spark, sf_dir):
    """PII redaction via the PRODUCTION operator (functions/textstats.py
    pii_redact) over documents with deterministically planted contacts."""
    from bayard_spark.functions.textstats import pii_redact

    docs = _docs(spark, sf_dir)
    text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0, F.lit(" write bob@example.com")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit(" from 192.168.1.77")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0, F.lit(" dial +44 20 7946 0958")
        ).otherwise(F.lit("")),
    )
    return pii_redact(docs.select("doc_id", text.alias("text"))).orderBy(
        "doc_id"
    )


def q_span_dedup(spark, sf_dir):
    """Substring-level exact dedup (Lee et al. 2021) via the PRODUCTION
    operator (functions/dedup.py span_dedup): the tiny synthetic
    vocabulary makes real cross-doc duplicated 8-token spans."""
    from bayard_spark.functions.dedup import span_dedup

    docs = _docs(spark, sf_dir)
    return span_dedup(docs.select("doc_id", "text"), n=8).orderBy("doc_id")


def q_dedup_cc(spark, sf_dir):
    """Near-dup cluster resolution via the PRODUCTION connected-components
    operator (functions/dedup.py connected_components — alternating
    large-star/small-star, Kiveris et al. SoCC'14, O(log n) rounds) plus
    keep-canonical, over a planted pair graph with deep chains (diameter
    49 — label propagation would NOT converge in the round budget) and
    hub stars. Oracle replays the component closure with a recursive CTE."""
    from bayard_spark.functions.dedup import dedup_keep_canonical

    docs = _docs(spark, sf_dir).select("doc_id")
    d1 = docs.alias("d1")
    d2 = docs.alias("d2")
    chain = (
        d1.filter(
            (F.col("d1.doc_id") < 200) & (F.col("d1.doc_id") % 50 != 49)
        )
        .join(d2, F.col("d2.doc_id") == F.col("d1.doc_id") + 1)
        .select(
            F.col("d1.doc_id").alias("id_a"),
            F.col("d2.doc_id").alias("id_b"),
        )
    )
    star = docs.filter(
        (F.col("doc_id") >= 200)
        & (F.col("doc_id") < 300)
        & (F.col("doc_id") % 25 != 0)
    ).select(
        (F.col("doc_id") - F.col("doc_id") % 25).alias("id_a"),
        F.col("doc_id").alias("id_b"),
    )
    out = dedup_keep_canonical(docs, chain.union(star))
    return out.select(
        "doc_id",
        "cluster_id",
        F.col("kept").cast("int").alias("kept"),
    ).orderBy("doc_id")


def q_chunk_sliding(spark, sf_dir):
    """Sliding context-window chunking via the PRODUCTION operator
    (functions/chunking.py chunk_tokens_sliding): overlapping 32-token
    windows at stride 24, planted empty docs emit zero chunks."""
    from bayard_spark.functions.chunking import chunk_tokens_sliding

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 19 == 0, F.lit("")).otherwise(
            F.col("text")
        ).alias("text"),
    )
    return chunk_tokens_sliding(docs, size=32, stride=24).orderBy(
        "doc_id", "chunk_idx"
    )


def q_chunk_pack(spark, sf_dir):
    """Greedy paragraph packing via the PRODUCTION operator
    (functions/chunking.py pack_paragraphs_greedy): 5-word lines as
    paragraphs, budget 12 tokens; every 5th doc stays one oversized
    paragraph (never split — its chunk exceeds the budget). Oracle
    replays the sequential greedy fold with a recursive CTE."""
    from bayard_spark.functions.chunking import pack_paragraphs_greedy

    docs = _docs(spark, sf_dir)
    lined = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.col("text"))
        .otherwise(
            F.regexp_replace(F.col("text"), _LINEIFY_RE, "$1\n")
        )
        .alias("text"),
    )
    return pack_paragraphs_greedy(lined, budget=12).orderBy(
        "doc_id", "chunk_idx"
    )


_MOJI_PHRASE = "café déjà — «naïve» … €42 ™"
_MOJI_CORRUPT = _MOJI_PHRASE.encode("utf-8").decode("cp1252")


def q_mojibake(spark, sf_dir):
    """cp1252-mojibake repair via the PRODUCTION operator
    (functions/encoding.py fix_mojibake — codec-generated substitution
    table, marker-gated JVM replace chain) over deterministically
    corrupted text (every 4th doc gets a UTF-8-read-as-cp1252 phrase)."""
    from bayard_spark.functions.encoding import fix_mojibake

    docs = _docs(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit(" " + _MOJI_CORRUPT)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = fix_mojibake(planted)
    return out.select(
        "doc_id",
        "text_fixed",
        F.col("was_mojibake").cast("int").alias("was_mojibake"),
    ).orderBy("doc_id")


_CLS_BUCKETS = 4096


def q_text_classifier(spark, sf_dir):
    """Hashed linear classifier inference via the PRODUCTION operator
    (functions/textstats.py linear_text_score) with the md5-portable
    hash injected and a deterministic synthetic weight table (the model
    is an input — any offline trainer's weights drop in)."""
    from bayard_spark.functions.textstats import linear_text_score

    docs = _docs(spark, sf_dir)
    wts = spark.range(_CLS_BUCKETS).select(
        F.col("id").alias("bucket"),
        (
            ((F.col("id") * 1103515245 + 12345) % 2001 - 1000) / 1000.0
        ).alias("weight"),
    )
    out = linear_text_score(
        docs,
        wts,
        num_buckets=_CLS_BUCKETS,
        bias=0.1,
        hash_fn=_pmd5,
        weights_count=_CLS_BUCKETS,
    )
    return out.orderBy("doc_id")


def q_strat_sample(spark, sf_dir):
    """Deterministic per-stratum Bernoulli sampling (training-data
    mixing) via the PRODUCTION operator (functions/sampling.py
    hash_fraction_sample) with the md5-portable hash injected."""
    from bayard_spark.functions.sampling import hash_fraction_sample

    docs = _docs(spark, sf_dir)
    fracs = {f"src{i}": (0.25 if i % 2 == 0 else 0.6) for i in range(20)}
    out = hash_fraction_sample(
        docs, "source", fracs, id_col="doc_id", seed=7, hash_fn=_pmd5
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def q_strat_cap(spark, sf_dir):
    """Exact per-stratum cap (deterministic uniform draw without
    replacement) via the PRODUCTION operator (functions/sampling.py
    stratified_cap)."""
    from bayard_spark.functions.sampling import stratified_cap

    docs = _docs(spark, sf_dir)
    out = stratified_cap(docs, "source", cap=11, seed=7, hash_fn=_pmd5)
    return out.select("doc_id", "source").orderBy("doc_id")


# md5-derived 60-bit hash (identical in Spark and DuckDB — verified
# bit-for-bit): the hash_fn the sampling, training-order and classifier
# gates inject so the oracle can replay the production operators, which
# default to xxhash64 (JVM-fast) with the same structure.

def _pmd5(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ------------------------------------------------------- DuckDB oracle SQL
# The tokenization expression is EXACTLY the engine's simple tokenizer +
# lower_case in both Java regex and RE2: '[^\p{L}\p{N}]+', empties dropped,
# positions = split index (leading-separator adjusted).


def sql_tokens(table: str = "documents") -> str:
    """DuckDB CTE body producing (doc_id, pos, term) over `table`."""
    return f"""
    SELECT doc_id,
           i - 1 - (CASE WHEN regexp_matches(text, '^[^\\p{{L}}\\p{{N}}]')
                    THEN 1 ELSE 0 END) AS pos,
           toks[i] AS term
    FROM (
        SELECT doc_id, text,
               regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+') AS toks
        FROM {table}
    ), LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g
    WHERE toks[i] <> ''
    """


SQL_BM25_PRELUDE = """
tok AS ({tokens}),
nrm AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                 (SELECT sum(len) FROM nrm) * 1.0
                 / (SELECT count(*) FROM documents) AS avg_len)
"""

# BM25 score expression over columns tf, df, len, n_docs, avg_len (global
# stats, exact lengths, f64)
SQL_BM25_SCORE = (
    f"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * "
    f"((tf * {K1 + 1.0}) / (tf + {K1} * (1.0 - {B} + {B} * len / avg_len)))"
)

_PRELUDE = "WITH " + SQL_BM25_PRELUDE.format(tokens=sql_tokens()).strip()

_TERM_SQL_T = """
__PRELUDE__,
tf AS (SELECT doc_id, count(*) AS tf FROM tok WHERE term = '__TERM__' GROUP BY doc_id),
dfx AS (SELECT count(*) AS df FROM tf)
SELECT tf.doc_id AS doc_id,
       round(__SCORE__, 6) AS score
FROM tf, dfx, stats JOIN nrm ON nrm.doc_id = tf.doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def _term_sql(term: str) -> str:
    return (
        _TERM_SQL_T.replace("__PRELUDE__", _PRELUDE)
        .replace("__TERM__", term)
        .replace("__SCORE__", SQL_BM25_SCORE)
    )


_TERM_SCORES_CTE = """
tf___N__ AS (SELECT doc_id, count(*) AS tf FROM tok WHERE term = '__TERM__' GROUP BY doc_id),
df___N__ AS (SELECT count(*) AS df FROM tf___N__),
sc___N__ AS (SELECT tf___N__.doc_id AS doc_id, __SCORE__ AS score
           FROM tf___N__, df___N__, stats JOIN nrm ON nrm.doc_id = tf___N__.doc_id)
"""


def _term_cte(n: int, term: str) -> str:
    return (
        _TERM_SCORES_CTE.replace("__N__", str(n))
        .replace("__TERM__", term)
        .replace("__SCORE__", SQL_BM25_SCORE)
    )


_BPE_TRAIN_MERGES = 12

# Fixed merge table for the encode gate — the model is an INPUT (any
# offline trainer's merges drop in), mirroring the text_classifier gate's
# synthetic-weights convention.  Pairs picked over the word-soup vocab so
# several chains actually fire (t+h→th→the→the</w>, a+n→an→and, …).
_BPE_FIXED_MERGES = [
    ("t", "h"),
    ("th", "e"),
    ("e", "</w>"),
    ("the", "</w>"),
    ("a", "n"),
    ("an", "d"),
    ("and", "</w>"),
    ("o", "f"),
    ("i", "n"),
    ("s", "</w>"),
    ("e", "r"),
    ("o", "u"),
]


def q_bpe_train(spark, sf_dir):
    """BPE training via the PRODUCTION trainer (functions/bpe.py):
    distributed word-count groupBy -> capped type collect -> driver merge
    loop with incremental pair counts.  The DuckDB twin replays all 12
    rounds UNROLLED (pair counts over symbol states, argmax with the
    (count DESC, left, right) tie-break, leftmost-nonoverlap merge via
    string replace on separator-wrapped states) — bit-compared."""
    from bayard_spark.functions.bpe import merges_df, train_bpe

    docs = _docs(spark, sf_dir)
    merges = train_bpe(docs, _BPE_TRAIN_MERGES)
    return (
        merges_df(spark, merges)
        .select("rank", F.col("left").alias("lft"), F.col("right").alias("rgt"))
        .orderBy("rank")
    )


def q_bpe_encode(spark, sf_dir):
    """BPE encoding via the PRODUCTION encoder (mapInPandas, per-batch
    unique-word memo) with the fixed input merge table.  The DuckDB twin
    re-encodes every DISTINCT word with a recursive CTE that repeatedly
    merges the lowest-rank pair present (leftmost-nonoverlapping via
    replace on separator-wrapped states) and joins the encodings back
    onto the positional token stream — bit-compared."""
    from bayard_spark.functions.bpe import bpe_encode

    docs = _docs(spark, sf_dir)
    out = bpe_encode(docs, _BPE_FIXED_MERGES)
    return out.select(
        "doc_id",
        F.concat_ws(" ", F.col("bpe_tokens")).alias("bpe_text"),
        F.size("bpe_tokens").alias("n_bpe"),
    ).orderBy("doc_id")


def q_bigram_logprob(spark, sf_dir):
    """Interpolated-bigram corpus-LM quality signal via the PRODUCTION
    operator (functions/textstats.bigram_logprob — JVM array-transform
    pair stream, one prob-table join, pair-count-gated broadcast).  The
    DuckDB twin replays counts, Jelinek-Mercer interpolation and the
    per-doc mean; floats rounded to 6 both sides."""
    from bayard_spark.functions.textstats import bigram_logprob

    docs = _docs(spark, sf_dir)
    out = bigram_logprob(docs)
    return out.select(
        "doc_id", F.round("logprob", 6).alias("logprob")
    ).orderBy("doc_id")


def q_train_order(spark, sf_dir):
    """Deterministic training-order shuffle via the PRODUCTION operator
    (functions/sampling.training_order) with the md5-portable hash
    injected; DuckDB replays the (hash, id) total order bit-for-bit."""
    from bayard_spark.functions.sampling import training_order

    docs = _docs(spark, sf_dir).select("doc_id")
    out = training_order(docs, seed=7, hash_fn=_pmd5)
    return out.select(
        "doc_id", F.col("_order_key").alias("order_key")
    ).orderBy("order_key", "doc_id")


def q_pipeline_clean(spark, sf_dir):
    """The COMPOSED cleaning pipeline (functions/pipeline.py
    clean_pipeline) — mojibake repair -> PII redaction -> corpus-wide
    paragraph dedup -> min-token filter, each step the SAME production
    operator its own gate verifies.  Plants: every 4th doc a cp1252
    phrase, every 7th an email, 5-word lineified paragraphs (real
    cross-doc dups on the tiny vocabulary).  The DuckDB twin nests the
    per-op replays in the same order — bit-compared end to end."""
    from bayard_spark.functions.pipeline import clean_pipeline

    docs = _docs(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.regexp_replace(
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 4 == 0, F.lit(" " + _MOJI_CORRUPT)
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.lit(" write bob@example.com"),
                ).otherwise(F.lit("")),
            ),
            _LINEIFY_RE,
            "$1\n",
        ).alias("text"),
    )
    out, _ = clean_pipeline(
        planted,
        [
            ("mojibake", {}),
            ("pii", {}),
            ("para_dedup", {"sep": "\n", "max_count": 1}),
            ("min_tokens", {"n": 1}),
        ],
    )
    return out.orderBy("doc_id")


def q_corpus_report(spark, sf_dir):
    """One-row corpus health summary via the PRODUCTION operator
    (functions/textstats.corpus_report) over a corpus with PLANTED
    NULLs, whitespace-only docs and a boilerplate dup group (the
    word-soup corpus has none of those naturally), so every counter
    actually fires."""
    from bayard_spark.functions.textstats import corpus_report

    docs = _docs(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 23 == 0, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 10 == 0, F.lit("dup text boiler"))
        .when(F.col("doc_id") % 17 == 0, F.lit("  "))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return corpus_report(planted)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # -- search engine (build -> codec -> SearchEngine) --
        "engine_term_bm25": q_engine_term_bm25,
        "engine_phrase_bm25": q_engine_phrase_bm25,
        "engine_bool_must": q_engine_bool_must,
        "engine_all_sort": q_engine_all_sort,
        "engine_query_string": q_engine_query_string,
        "engine_phrase_slop": q_engine_phrase_slop,
        "engine_offset_page": q_engine_offset_page,
        "engine_fuzzy": q_engine_fuzzy,
        "engine_regex": q_engine_regex,
        "engine_merge_after_delete": q_engine_merge_after_delete,
        "streaming_upsert": q_streaming_upsert,
        # -- pipeline ops --
        "bpe_train": q_bpe_train,
        "bpe_encode": q_bpe_encode,
        "bigram_logprob": q_bigram_logprob,
        "train_order": q_train_order,
        "corpus_report": q_corpus_report,
        "pipeline_clean": q_pipeline_clean,
        "gopher": q_gopher,
        "para_dedup": q_para_dedup,
        "pii": q_pii,
        "span_dedup": q_span_dedup,
        "dedup_cc": q_dedup_cc,
        "chunk_sliding": q_chunk_sliding,
        "chunk_pack": q_chunk_pack,
        "mojibake": q_mojibake,
        "text_classifier": q_text_classifier,
        "strat_sample": q_strat_sample,
        "strat_cap": q_strat_cap,
        "repetition": q_repetition,
        "unigram_logprob": q_unigram_logprob,
        "decontaminate": q_decontaminate,
    }


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}

    # the codec-engine gates answer BM25 queries over the same documents;
    # the Spark side runs build/codec.py + query/engine.py decode
    sqls["engine_term_bm25"] = _term_sql("spark")

    # delete->commit->merge->query: same term scoring, but over only the
    # SURVIVING docs (doc_id % 7 <> 3) with n_docs/avg_len recomputed —
    # exactly what a physical compaction must produce
    _surv_prelude = (
        "WITH surviving AS "
        "(SELECT * FROM documents WHERE doc_id % 7 <> 3), "
        + SQL_BM25_PRELUDE.format(tokens=sql_tokens("surviving"))
        .replace("FROM documents", "FROM surviving")
        .strip()
    )
    sqls["engine_merge_after_delete"] = (
        _TERM_SQL_T.replace("__PRELUDE__", _surv_prelude)
        .replace("__TERM__", "spark")
        .replace("__SCORE__", SQL_BM25_SCORE)
    )
    sqls["unigram_logprob"] = f"""
{_PRELUDE},
tc AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
tot AS (SELECT sum(c) AS total FROM tc),
lp AS (SELECT doc_id, avg(ln(tc.c * 1.0 / tot.total)) AS logprob
       FROM tok JOIN tc USING (term), tot GROUP BY doc_id)
SELECT d.doc_id AS doc_id,
       round(lp.logprob, 6) AS logprob
FROM documents d LEFT JOIN lp ON lp.doc_id = d.doc_id
ORDER BY doc_id
"""

    # streamed refresh touched exactly the doc_id % 5 == 0 documents; the
    # engine count is the visibility/tombstone/idempotency proof
    sqls["streaming_upsert"] = (
        "SELECT count(*) AS total_hits FROM documents WHERE doc_id % 5 = 0"
    )

    # page 3 of the term ranking: identical scoring CTE, LIMIT/OFFSET over
    # the same (score DESC, doc_id ASC) total order the engine pushes into
    # TakeOrderedAndProject. Ordering is by the EXACT score expression,
    # not the rounded display value: two docs can round to the same 6-dec
    # score at a page boundary while their exact f64 scores order them —
    # the engine sorts exact, so the oracle must too.
    sqls["engine_offset_page"] = (
        _term_sql("spark")
        .replace("ORDER BY score DESC", f"ORDER BY {SQL_BM25_SCORE} DESC")
        .replace("LIMIT 10", "LIMIT 10 OFFSET 12")
    )

    # slop-1 phrase: tf = count of 'hash' start positions with some
    # 'join' in (p0, p0+2]; idf = sum of the constituent idfs
    sqls["engine_phrase_slop"] = f"""
{_PRELUDE},
t1 AS (SELECT doc_id, pos FROM tok WHERE term = 'hash'),
t2 AS (SELECT doc_id, pos FROM tok WHERE term = 'join'),
starts AS (SELECT DISTINCT t1.doc_id AS doc_id, t1.pos AS pos
           FROM t1 JOIN t2 ON t1.doc_id = t2.doc_id
           AND t2.pos > t1.pos AND t2.pos <= t1.pos + 2),
tf AS (SELECT doc_id, count(*) AS tf FROM starts GROUP BY doc_id),
d1 AS (SELECT count(DISTINCT doc_id) AS df1 FROM tok WHERE term = 'hash'),
d2 AS (SELECT count(DISTINCT doc_id) AS df2 FROM tok WHERE term = 'join')
SELECT tf.doc_id AS doc_id,
       round((ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5))
            + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5)))
            * ((tf * {K1 + 1.0}) / (tf + {K1} * (1.0 - {B} + {B} * len / avg_len))), 6)
         AS score
FROM tf, d1, d2, stats JOIN nrm ON nrm.doc_id = tf.doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    sqls["engine_phrase_bm25"] = f"""
{_PRELUDE},
t1 AS (SELECT doc_id, pos FROM tok WHERE term = 'hash'),
t2 AS (SELECT doc_id, pos - 1 AS pos FROM tok WHERE term = 'join'),
tf AS (SELECT t1.doc_id AS doc_id, count(*) AS tf
       FROM t1 JOIN t2 ON t1.doc_id = t2.doc_id AND t1.pos = t2.pos
       GROUP BY t1.doc_id),
d1 AS (SELECT count(DISTINCT doc_id) AS df1 FROM tok WHERE term = 'hash'),
d2 AS (SELECT count(DISTINCT doc_id) AS df2 FROM tok WHERE term = 'join')
SELECT tf.doc_id AS doc_id,
       round((ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5))
            + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5)))
            * ((tf * {K1 + 1.0}) / (tf + {K1} * (1.0 - {B} + {B} * len / avg_len))), 6)
         AS score
FROM tf, d1, d2, stats JOIN nrm ON nrm.doc_id = tf.doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    # rarest-df-first must-chain over real decoded blocks
    sqls["engine_bool_must"] = f"""
{_PRELUDE},
{_term_cte(1, 'spark').strip()},
{_term_cte(2, 'join').strip()}
SELECT sc_1.doc_id AS doc_id, round(sc_1.score + sc_2.score, 6) AS score
FROM sc_1 JOIN sc_2 ON sc_1.doc_id = sc_2.doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    # fast-field sort through the engine: warc_ts was synthesized as
    # 2024-01-01 + doc_id seconds at index-build time; compare the sort
    # value as a formatted naive timestamp (timezone-proof)
    sqls["engine_all_sort"] = """
SELECT doc_id,
       strftime(TIMESTAMP '2024-01-01 00:00:00'
                + to_seconds(doc_id), '%Y-%m-%d %H:%M:%S') AS sort_ts
FROM documents
ORDER BY sort_ts DESC, doc_id ASC LIMIT 10
"""

    _expansion = """
__PRELUDE__,
dict AS (SELECT DISTINCT term FROM tok WHERE __PRED__),
tf AS (SELECT doc_id, tok.term AS term, count(*) AS tf FROM tok JOIN dict USING (term)
       GROUP BY doc_id, tok.term),
dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
per AS (SELECT tf.doc_id AS doc_id, __SCORE__ AS score
        FROM tf JOIN dfx ON tf.term = dfx.term
        JOIN nrm ON nrm.doc_id = tf.doc_id, stats)
SELECT doc_id, round(sum(score), 6) AS score FROM per GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    def _exp_sql(pred: str) -> str:
        return (
            _expansion.replace("__PRELUDE__", _PRELUDE)
            .replace("__PRED__", pred)
            .replace("__SCORE__", SQL_BM25_SCORE)
        )

    # the engine scans ITS dictionary (block metadata) and decodes real
    # blocks for every expanded term
    sqls["engine_regex"] = _exp_sql("regexp_matches(term, '^jo[a-z]*$')")
    sqls["engine_fuzzy"] = _exp_sql("levenshtein(term, 'joinz') <= 1")

    # hand-expanded boolean for '(spark OR query) NOT vector join^2':
    # should( should(spark) + should(query) ), must_not(vector),
    # should( 2.0 * term(join) )
    sqls["engine_query_string"] = f"""
{_PRELUDE},
{_term_cte(1, 'spark').strip()},
{_term_cte(2, 'query').strip()},
{_term_cte(3, 'join').strip()},
grp AS (SELECT doc_id, sum(score) AS score
        FROM (SELECT * FROM sc_1 UNION ALL SELECT * FROM sc_2)
        GROUP BY doc_id),
u AS (SELECT doc_id, score FROM grp
      UNION ALL SELECT doc_id, score * 2.0 AS score FROM sc_3)
SELECT doc_id, round(sum(score), 6) AS score FROM u
WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE term = 'vector')
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    sqls["repetition"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
                     x -> x <> '') AS toks
  FROM documents
),
tot AS (
  SELECT doc_id,
         CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
              AS BIGINT) AS total_chars
  FROM t
),
g AS (
  SELECT doc_id, 2 AS n, array_to_string(toks[i:i+1], ' ') AS gram
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) q
  UNION ALL
  SELECT doc_id, 3 AS n, array_to_string(toks[i:i+2], ' ') AS gram
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) q
  UNION ALL
  SELECT doc_id, 5 AS n, array_to_string(toks[i:i+4], ' ') AS gram
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 4)) AS i) q
),
c AS (
  SELECT doc_id, n, gram, count(*) AS c, len(gram) - (n - 1) AS w
  FROM g GROUP BY doc_id, n, gram
),
p AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN c * w END) AS top2,
         max(CASE WHEN n = 3 THEN c * w END) AS top3,
         sum(CASE WHEN n = 5 AND c >= 2 THEN c * w END) AS dup5
  FROM c GROUP BY doc_id
)
SELECT tot.doc_id AS doc_id, total_chars,
       round(CASE WHEN total_chars > 0
                  THEN coalesce(top2, 0) * 1.0 / total_chars
                  ELSE 0.0 END, 6) AS top2gram_frac,
       round(CASE WHEN total_chars > 0
                  THEN coalesce(top3, 0) * 1.0 / total_chars
                  ELSE 0.0 END, 6) AS top3gram_frac,
       round(CASE WHEN total_chars > 0
                  THEN coalesce(dup5, 0) * 1.0 / total_chars
                  ELSE 0.0 END, 6) AS dup5gram_frac
FROM tot LEFT JOIN p ON p.doc_id = tot.doc_id
ORDER BY doc_id
"""

    sqls["decontaminate"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
                     x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) q
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 41 = 0),
hits AS (
  SELECT g.doc_id, count(*) AS n_hits
  FROM g JOIN bench USING (gram)
  WHERE g.doc_id % 41 <> 0
  GROUP BY g.doc_id
)
SELECT d.doc_id AS doc_id,
       CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       CAST(CASE WHEN coalesce(n_hits, 0) > 0 THEN 1 ELSE 0 END
            AS INTEGER) AS contaminated
FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id
WHERE d.doc_id % 41 <> 0
ORDER BY doc_id
"""

    # --- corpus-cleaning trio (round 6): gopher rules / para dedup / pii ---
    from bayard_spark.functions.textstats import (
        GOPHER_REQUIRED_WORDS,
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    _lineify = (
        R"regexp_replace(text, '(\w+ \w+ \w+ \w+ \w+) ', '\1' || chr(10), 'g')"
    )
    _stop_mask = "\n         | ".join(
        f"(CASE WHEN list_contains(words, '{w}') THEN {1 << i} ELSE 0 END)"
        for i, w in enumerate(GOPHER_REQUIRED_WORDS)
    )
    sqls["gopher"] = f"""
WITH d AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 5 = 0 THEN '- bullet list' || chr(10)
               ELSE '' END)
         || {_lineify}
         || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'wait for it...'
                  ELSE '' END) AS text
  FROM documents
),
l AS (
  SELECT doc_id, line
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d)
  WHERE trim(line) <> ''
),
pl AS (SELECT doc_id, line, count(*) AS c FROM l GROUP BY doc_id, line),
px AS (
  SELECT doc_id, c, line,
         list_filter(regexp_split_to_array(lower(line), '[^\\p{{L}}\\p{{N}}]+'),
                     x -> x <> '') AS words
  FROM pl
),
py AS (
  SELECT doc_id, c,
         len(words) AS nw,
         CAST(coalesce(list_sum(list_transform(words, x -> len(x))), 0)
              AS BIGINT) AS wl,
         len(list_filter(words, x -> regexp_matches(x, '\\p{{L}}'))) AS alpha,
         len(regexp_extract_all(line, '#|\\.\\.\\.|…')) AS sym,
         CASE WHEN regexp_matches(line, '^\\s*[-*•‣▪]') THEN 1 ELSE 0
              END AS bullet,
         CASE WHEN regexp_matches(line, '(\\.\\.\\.|…)\\s*$') THEN 1 ELSE 0
              END AS ellipsis,
         {_stop_mask} AS stop_mask,
         CAST(length(line) AS BIGINT) AS lc
  FROM px
),
pd AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_lines,
         CAST(sum(c * nw) AS BIGINT) AS n_words,
         CAST(sum(c * wl) AS BIGINT) AS wl_sum,
         CAST(sum(c * alpha) AS BIGINT) AS alpha_words,
         CAST(sum(c * sym) AS BIGINT) AS symbols,
         CAST(sum(c * bullet) AS BIGINT) AS bullet_lines,
         CAST(sum(c * ellipsis) AS BIGINT) AS ellipsis_lines,
         bit_or(stop_mask) AS stop_mask,
         CAST(sum(c - 1) AS BIGINT) AS dup_lines,
         CAST(sum((c - 1) * lc) AS BIGINT) AS dup_line_chars,
         CAST(sum(c * lc) AS BIGINT) AS line_chars
  FROM py GROUP BY doc_id
),
fin AS (
  SELECT dd.doc_id AS doc_id,
         CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
         CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines,
         round(CASE WHEN n_words > 0
                    THEN CAST(wl_sum AS DOUBLE) / n_words
                    ELSE 0.0 END, 6) AS mean_word_len,
         round(CASE WHEN n_words > 0
                    THEN CAST(symbols AS DOUBLE) / n_words
                    ELSE 0.0 END, 6) AS symbol_word_ratio,
         round(CASE WHEN n_lines > 0
                    THEN CAST(bullet_lines AS DOUBLE) / n_lines
                    ELSE 0.0 END, 6) AS bullet_line_ratio,
         round(CASE WHEN n_lines > 0
                    THEN CAST(ellipsis_lines AS DOUBLE) / n_lines
                    ELSE 0.0 END, 6) AS ellipsis_line_ratio,
         round(CASE WHEN n_words > 0
                    THEN CAST(alpha_words AS DOUBLE) / n_words
                    ELSE 0.0 END, 6) AS alpha_word_ratio,
         CAST(coalesce(bit_count(stop_mask), 0) AS BIGINT) AS req_stop_hits,
         round(CASE WHEN n_lines > 0
                    THEN CAST(dup_lines AS DOUBLE) / n_lines
                    ELSE 0.0 END, 6) AS dup_line_frac,
         round(CASE WHEN line_chars > 0
                    THEN CAST(dup_line_chars AS DOUBLE) / line_chars
                    ELSE 0.0 END, 6) AS dup_line_char_frac
  FROM documents dd LEFT JOIN pd ON pd.doc_id = dd.doc_id
)
SELECT *,
       CAST(n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3 AND mean_word_len <= 10
            AND symbol_word_ratio <= 0.1 AND bullet_line_ratio <= 0.9
            AND ellipsis_line_ratio <= 0.3 AND alpha_word_ratio >= 0.8
            AND req_stop_hits >= 2 AND dup_line_frac <= 0.3
            AND dup_line_char_frac <= 0.2 AS INTEGER) AS gopher_pass
FROM fin ORDER BY doc_id
"""

    sqls["para_dedup"] = f"""
WITH d AS (SELECT doc_id, {_lineify} AS text FROM documents),
s AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM d),
p AS (
  SELECT doc_id, i - 1 AS pos, parts[i] AS para
  FROM s, LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
),
c AS (SELECT para, count(*) AS cnt FROM p GROUP BY para),
j AS (SELECT p.doc_id, p.pos, p.para, c.cnt FROM p JOIN c USING (para))
SELECT doc_id,
       coalesce(string_agg(para, chr(10) ORDER BY pos)
                FILTER (WHERE cnt <= 1), '') AS text_clean,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM j GROUP BY doc_id ORDER BY doc_id
"""

    sqls["pii"] = f"""
WITH d AS (
  SELECT doc_id,
         text
         || (CASE WHEN doc_id % 7 = 0 THEN ' write bob@example.com'
                  ELSE '' END)
         || (CASE WHEN doc_id % 11 = 0 THEN ' from 192.168.1.77'
                  ELSE '' END)
         || (CASE WHEN doc_id % 13 = 0 THEN ' dial +44 20 7946 0958'
                  ELSE '' END) AS text
  FROM documents
),
r1 AS (SELECT doc_id, text,
              regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1
       FROM d),
r2 AS (SELECT doc_id, text, t1,
              regexp_replace(t1, '{PII_IPV4_RE}', '<IP>', 'g') AS t2
       FROM r1)
SELECT doc_id,
       regexp_replace(t2, '{PII_PHONE_RE}', '<PHONE>', 'g') AS text_redacted,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}'))
            AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(t1, '{PII_IPV4_RE}'))
            AS INTEGER) AS n_ipv4,
       CAST(len(regexp_extract_all(t2, '{PII_PHONE_RE}'))
            AS INTEGER) AS n_phones
FROM r2 ORDER BY doc_id
"""

    _sd_n = 8
    sqls["span_dedup"] = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
           AS toks
  FROM documents
),
w AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[i+1:i+{_sd_n}], ' ')) AS h
  FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks) - {_sd_n}))
                   AS i) g
),
m AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY h) AS cnt,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM w
),
mk AS (SELECT doc_id, pos FROM m WHERE cnt > 1 AND rn > 1),
tok AS (
  SELECT doc_id, i - 1 AS ti, toks[i] AS tok
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g
),
rem AS (
  SELECT DISTINCT tok.doc_id AS doc_id, ti
  FROM tok JOIN mk ON mk.doc_id = tok.doc_id
                  AND ti >= mk.pos AND ti < mk.pos + {_sd_n}
),
fin AS (
  SELECT tok.doc_id AS doc_id, tok.ti AS ti, tok,
         (rem.ti IS NOT NULL) AS removed
  FROM tok LEFT JOIN rem ON rem.doc_id = tok.doc_id AND rem.ti = tok.ti
),
agg AS (
  SELECT doc_id,
         coalesce(string_agg(tok, ' ' ORDER BY ti)
                  FILTER (WHERE NOT removed), '') AS text_clean,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed
  FROM fin GROUP BY doc_id
)
SELECT d.doc_id AS doc_id,
       coalesce(a.text_clean, '') AS text_clean,
       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
ORDER BY d.doc_id
"""

    sqls["dedup_cc"] = """
WITH RECURSIVE
chain AS (
  SELECT d1.doc_id AS u, d2.doc_id AS v
  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
  WHERE d1.doc_id < 200 AND d1.doc_id % 50 <> 49
),
star AS (
  SELECT doc_id - doc_id % 25 AS u, doc_id AS v
  FROM documents
  WHERE doc_id >= 200 AND doc_id < 300 AND doc_id % 25 <> 0
),
e AS (SELECT u, v FROM chain UNION SELECT u, v FROM star),
und AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
reach(u, r) AS (
  SELECT u, u AS r FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.u
),
cl AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u)
SELECT d.doc_id,
       coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
       CAST(CASE WHEN coalesce(cl.cluster_id, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
ORDER BY d.doc_id
"""

    sqls["chunk_sliding"] = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 19 = 0 THEN '' ELSE text END AS text
  FROM documents
),
t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
           AS toks
  FROM d
),
w AS (
  SELECT doc_id, toks, i AS chunk_idx
  FROM t,
  LATERAL (SELECT unnest(generate_series(0,
    CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS INT))) AS i) g
  WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(toks, chunk_idx * 24 + 1,
                                  chunk_idx * 24 + 32), ' ') AS chunk_text,
       CAST(len(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32))
            AS INTEGER) AS n_tokens
FROM w ORDER BY doc_id, chunk_idx
"""

    sqls["chunk_pack"] = f"""
WITH RECURSIVE
d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text ELSE {_lineify} END AS text
  FROM documents
),
raw AS (
  SELECT doc_id, i AS orig, ps[i] AS para
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM d),
  LATERAL (SELECT unnest(generate_series(1, len(ps))) AS i) g
),
p AS (
  SELECT doc_id, para, tk,
         row_number() OVER (PARTITION BY doc_id ORDER BY orig) AS pidx
  FROM (
    SELECT doc_id, orig, para,
           len(list_filter(regexp_split_to_array(para, '\\s+'),
                           x -> x <> '')) AS tk
    FROM raw
  )
  WHERE trim(para) <> ''
),
state(doc_id, pidx, chunk, running) AS (
  SELECT doc_id, CAST(1 AS BIGINT), 0, tk FROM p WHERE pidx = 1
  UNION ALL
  SELECT p.doc_id, p.pidx,
         CASE WHEN s.running + p.tk > 12 THEN s.chunk + 1 ELSE s.chunk END,
         CASE WHEN s.running + p.tk > 12 THEN p.tk
              ELSE s.running + p.tk END
  FROM state s JOIN p ON p.doc_id = s.doc_id AND p.pidx = s.pidx + 1
)
SELECT s.doc_id,
       CAST(s.chunk AS INTEGER) AS chunk_idx,
       string_agg(p.para, chr(10) ORDER BY s.pidx) AS chunk_text,
       CAST(sum(p.tk) AS INTEGER) AS n_tokens,
       CAST(count(*) AS INTEGER) AS n_paras
FROM state s JOIN p ON p.doc_id = s.doc_id AND p.pidx = s.pidx
GROUP BY s.doc_id, s.chunk
ORDER BY s.doc_id, chunk_idx
"""

    from bayard_spark.functions.encoding import (
        MOJIBAKE_MARKER_RE,
        repair_sql_expr,
    )

    _moji_lit = _MOJI_CORRUPT.replace("'", "''")
    sqls["mojibake"] = f"""
WITH d AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 4 = 0 THEN ' {_moji_lit}'
                      ELSE '' END AS text
  FROM documents
),
f AS (
  SELECT doc_id, text,
         CASE WHEN regexp_matches(text, '{MOJIBAKE_MARKER_RE}')
              THEN {repair_sql_expr('text')}
              ELSE text END AS text_fixed
  FROM d
)
SELECT doc_id, text_fixed,
       CAST(text_fixed <> text AS INTEGER) AS was_mojibake
FROM f ORDER BY doc_id
"""

    sqls["text_classifier"] = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                     x -> x <> '') AS toks
  FROM documents
),
f AS (
  SELECT doc_id,
         unnest(list_concat(toks,
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i+1])
                ELSE []::VARCHAR[] END)) AS feat
  FROM t
),
b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(feat), 1, 15)) AS BIGINT)
           % {_CLS_BUCKETS} AS bucket
  FROM f
),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY doc_id, bucket),
w AS (
  SELECT i AS bucket,
         ((i * 1103515245 + 12345) % 2001 - 1000) / 1000.0 AS weight
  FROM range({_CLS_BUCKETS}) g(i)
),
s AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_feats,
         sum(coalesce(weight, 0.0) * cnt) / sum(cnt) AS mean_w
  FROM c LEFT JOIN w USING (bucket) GROUP BY doc_id
)
SELECT d.doc_id AS doc_id,
       CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
       round(1.0 / (1.0 + exp(-(0.1 + s.mean_w))), 6) AS score
FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
ORDER BY d.doc_id
"""

    # --- deterministic stratified sampling (round 6) ---
    from bayard_spark.functions.sampling import HASH_BUCKETS

    _thr_even = int(0.25 * HASH_BUCKETS)
    _thr_odd = int(0.6 * HASH_BUCKETS)
    _shash = (
        "CAST(('0x' || substr(md5(doc_id::VARCHAR || chr(31) || '7'), 1, "
        f"15)) AS BIGINT) % {HASH_BUCKETS}"
    )
    sqls["strat_sample"] = f"""
SELECT doc_id, source FROM documents
WHERE {_shash} < CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                      THEN {_thr_even} ELSE {_thr_odd} END
ORDER BY doc_id
"""

    sqls["strat_cap"] = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY {_shash}, doc_id) AS rn
  FROM documents
) WHERE rn <= 11 ORDER BY doc_id
"""

    # ---- BPE: symbol states are separator-wrapped strings so a pair
    # merge is one leftmost-nonoverlapping string replace:
    #   state("the") = US t US US h US US e US US </w> US   (US = chr(31))
    #   merge (t,h)  = replace(state, US t US US h US, US th US)
    _us = "chr(31)"
    _bpe_init = (
        "list_aggregate(list_transform(regexp_split_to_array(word, ''),"
        f" c -> {_us}||c||{_us}), 'string_agg', '')"
        f" || {_us}||'</w>'||{_us}"
    )

    train_parts = [
        """
WITH
wc AS (
  SELECT word, count(*) AS cnt FROM (
    SELECT unnest(list_filter(
             regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
             x -> x <> '')) AS word
    FROM documents
  ) GROUP BY word
),
st0 AS MATERIALIZED (SELECT word, cnt, """
        + _bpe_init
        + """ AS s FROM wc)"""
    ]
    # every st{k}/m{k} is referenced twice downstream — MATERIALIZED stops
    # DuckDB's CTE inlining from recomputing the chain 2^k times
    for k in range(1, _BPE_TRAIN_MERGES + 1):
        train_parts.append(f""",
p{k} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, sum(cnt) AS c
  FROM (SELECT cnt, string_split(trim(s, {_us}), {_us}||{_us}) AS syms
        FROM st{k - 1}),
       LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) g
  GROUP BY 1, 2
),
m{k} AS MATERIALIZED (SELECT l, r FROM p{k} ORDER BY c DESC, l, r LIMIT 1),
st{k} AS MATERIALIZED (
  SELECT word, cnt,
         replace(s, {_us}||m.l||{_us}||{_us}||m.r||{_us},
                 {_us}||m.l||m.r||{_us}) AS s
  FROM st{k - 1}, m{k} m
)""")
    train_parts.append(
        "\n"
        + "\nUNION ALL\n".join(
            f"SELECT {k} AS rank, l AS lft, r AS rgt FROM m{k}"
            for k in range(1, _BPE_TRAIN_MERGES + 1)
        )
        + "\nORDER BY rank"
    )
    sqls["bpe_train"] = "".join(train_parts)

    _bpe_vals = ", ".join(
        f"({i + 1}, '{l}', '{r}')" for i, (l, r) in enumerate(_BPE_FIXED_MERGES)
    )
    sqls["bpe_encode"] = (
        """
WITH RECURSIVE
m AS (SELECT * FROM (VALUES """
        + _bpe_vals
        + f""") m(rank, lft, rgt)),
mp AS MATERIALIZED (SELECT rank, {_us}||lft||{_us}||{_us}||rgt||{_us} AS pat,
              {_us}||lft||rgt||{_us} AS rep FROM m),
toks AS MATERIALIZED (
  SELECT doc_id, i, ws[i] AS word
  FROM (SELECT doc_id,
               list_filter(
                 regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                 x -> x <> '') AS ws
        FROM documents),
       LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
),
init AS (SELECT word, {_bpe_init} AS s
         FROM (SELECT DISTINCT word FROM toks)),
st(word, s) AS (
  SELECT word, s FROM init
  UNION ALL
  SELECT st.word, replace(st.s, mp.pat, mp.rep)
  FROM st JOIN mp
    ON contains(st.s, mp.pat)
   AND mp.rank = (SELECT min(m2.rank) FROM mp m2 WHERE contains(st.s, m2.pat))
),
enc AS (
  SELECT word,
         replace(trim(s, {_us}), {_us}||{_us}, ' ') AS tok_str,
         len(string_split(trim(s, {_us}), {_us}||{_us})) AS ntok
  FROM st
  WHERE NOT EXISTS (SELECT 1 FROM mp WHERE contains(st.s, mp.pat))
)
SELECT d.doc_id,
       coalesce(agg.bpe_text, '') AS bpe_text,
       -- NULL text -> NULL token count (concat_ws still yields '' but
       -- size(NULL array) is NULL on the Spark side); token-less -> 0
       CASE WHEN d.text IS NULL THEN NULL
            ELSE CAST(coalesce(agg.n_bpe, 0) AS INT) END AS n_bpe
FROM documents d LEFT JOIN (
  SELECT t.doc_id,
         string_agg(e.tok_str, ' ' ORDER BY t.i) AS bpe_text,
         sum(e.ntok) AS n_bpe
  FROM toks t JOIN enc e USING (word)
  GROUP BY t.doc_id
) agg USING (doc_id)
ORDER BY doc_id
"""
    )

    _lam, _one_minus_lam = repr(0.8), repr(1.0 - 0.8)
    sqls["bigram_logprob"] = f"""
WITH t AS MATERIALIZED (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                     x -> x <> '') AS ws
  FROM documents
),
tok AS (SELECT doc_id, unnest(ws) AS term FROM t),
uni AS MATERIALIZED (SELECT term, count(*) AS c FROM tok GROUP BY term),
tot AS (SELECT sum(c) AS T FROM uni),
pr AS MATERIALIZED (
  SELECT doc_id, ws[i - 1] AS prev, ws[i] AS cur
  FROM t, LATERAL (SELECT unnest(generate_series(2, len(ws))) AS i) g
  WHERE len(ws) >= 2
),
big AS (SELECT prev, cur, count(*) AS cvw FROM pr GROUP BY 1, 2),
probs AS MATERIALIZED (
  SELECT b.prev, b.cur,
         ln({_lam} * b.cvw / u1.c + {_one_minus_lam} * u2.c / tot.T) AS logp
  FROM big b JOIN uni u1 ON u1.term = b.prev
             JOIN uni u2 ON u2.term = b.cur, tot
),
pd AS (
  SELECT pr.doc_id, avg(p.logp) AS lp
  FROM pr JOIN probs p ON p.prev = pr.prev AND p.cur = pr.cur
  GROUP BY pr.doc_id
)
SELECT d.doc_id, round(pd.lp, 6) AS logprob
FROM documents d LEFT JOIN pd USING (doc_id)
ORDER BY d.doc_id
"""

    sqls["corpus_report"] = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 23 = 0 THEN NULL
              WHEN doc_id % 10 = 0 THEN 'dup text boiler'
              WHEN doc_id % 17 = 0 THEN '  '
              ELSE text END AS text
  FROM documents
),
t AS MATERIALIZED (
  SELECT doc_id, text,
         CASE WHEN text IS NULL THEN NULL
              ELSE len(list_filter(
                     regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
                     x -> x <> '')) END AS tok_n,
         length(text) AS chr_n
  FROM d
),
base AS (
  SELECT count(*) AS n_docs,
         coalesce(sum(CASE WHEN text IS NULL THEN 1 END), 0) AS n_null_text,
         coalesce(sum(CASE WHEN text IS NOT NULL AND trim(text) = ''
                           THEN 1 END), 0) AS n_empty_text,
         coalesce(sum(tok_n), 0) AS total_tokens,
         round(avg(CASE WHEN tok_n > 0 THEN tok_n END), 6) AS avg_tokens,
         coalesce(sum(chr_n), 0) AS total_chars
  FROM t
),
dups AS (
  SELECT count(*) AS n_distinct_texts,
         coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS n_dup_docs
  FROM (SELECT text, count(*) AS c FROM d
        WHERE text IS NOT NULL GROUP BY text)
),
words AS (
  SELECT count(DISTINCT w) AS n_distinct_words
  FROM (SELECT unnest(list_filter(
                 regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
                 x -> x <> '')) AS w
        FROM d WHERE text IS NOT NULL)
)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_null_text AS BIGINT) AS n_null_text,
       CAST(n_empty_text AS BIGINT) AS n_empty_text,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       avg_tokens,
       CAST(total_chars AS BIGINT) AS total_chars,
       CAST(n_distinct_texts AS BIGINT) AS n_distinct_texts,
       CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
       CAST(n_distinct_words AS BIGINT) AS n_distinct_words
FROM base, dups, words
"""

    sqls["train_order"] = """
SELECT doc_id,
       CAST(('0x' || substr(md5(doc_id::VARCHAR || chr(31) || '7'), 1, 15))
            AS BIGINT) AS order_key
FROM documents ORDER BY order_key, doc_id
"""

    # composed pipeline: the per-op replays nested in recipe order
    sqls["pipeline_clean"] = f"""
WITH d0 AS (
  SELECT doc_id,
         regexp_replace(
           text
           || CASE WHEN doc_id % 4 = 0 THEN ' {_moji_lit}' ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN ' write bob@example.com'
                   ELSE '' END,
           '(\\w+ \\w+ \\w+ \\w+ \\w+) ', '\\1' || chr(10), 'g') AS text
  FROM documents
),
d1 AS (
  SELECT doc_id,
         CASE WHEN regexp_matches(text, '{MOJIBAKE_MARKER_RE}')
              THEN {repair_sql_expr('text')}
              ELSE text END AS text
  FROM d0
),
d2 AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_IPV4_RE}', '<IP>', 'g'),
           '{PII_PHONE_RE}', '<PHONE>', 'g') AS text
  FROM d1
),
s AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM d2),
p AS (
  SELECT doc_id, i - 1 AS pos, parts[i] AS para
  FROM s, LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
),
c AS (SELECT para, count(*) AS cnt FROM p GROUP BY para),
j AS (SELECT p.doc_id, p.pos, p.para, c.cnt FROM p JOIN c USING (para)),
agg AS (
  SELECT doc_id,
         coalesce(string_agg(para, chr(10) ORDER BY pos)
                  FILTER (WHERE cnt <= 1), '') AS text
  FROM j GROUP BY doc_id
)
SELECT doc_id, text FROM agg
WHERE len(list_filter(regexp_split_to_array(lower(text),
                                            '[^\\p{{L}}\\p{{N}}]+'),
                      x -> x <> '')) >= 1
ORDER BY doc_id
"""

    return sqls


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for 'spark' on sf0.001 documents, answered by
    the REAL engine end-to-end — IndexBuilder writes delta+varint posting
    blocks, SearchEngine decodes and scores them."""
    return q_engine_term_bm25(spark, "/root/testdata/sf0.001")
