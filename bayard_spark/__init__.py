"""bayard_spark — a PySpark-native full-text indexing + BM25 search engine.

A from-scratch rebuild of the query/data-processing capabilities of
mosuka/bayard (a Rust distributed search server wrapping tantivy 0.18),
re-expressed Spark-first:

- analysis/   vectorized (Arrow/pandas) analyzer pipelines: tokenizers + filters
              mirroring bayard/src/index/tokenizer/* and token_filter/*
- build/      distributed inverted-index build: postings / docs / norms / stats
              tables with term-hash bucketing, hot-term salting, delta+varint
              block compression, per-partition lineage (resumable)
- query/      the 9-kind JSON query DSL (bayard/src/search/query.rs:74-132)
              compiled to DataFrame plans; BM25 (k1=1.2, b=0.75) top-k
- sources/    deterministic Common-Crawl-style webtext synthesis + HTML
              text extraction (byte-identical per url)
- streaming/  Structured Streaming ingestion into segment commits
- oracle/     pure-Python reference engine for rank-identity testing
- functions/  training-data pipeline ops kept for bench.py's report-only
              pipeline section (clean_pipeline, BPE and the ops they use);
              the search engine does not import them

Design point: 10^12 documents on a multi-executor cluster; tested on local
mode with the same partitioning/shuffle discipline.
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
