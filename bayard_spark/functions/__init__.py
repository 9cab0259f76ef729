"""Training-data pipeline operations.

Kept for bench.py's report-only pipeline section, which imports `bpe` and
`pipeline`; `pipeline.clean_pipeline` composes `chunking`, `dedup`,
`encoding`, `sampling` and `textstats`. Built Spark-first (JVM
expressions where possible, Arrow-batch UDFs where not). The search
engine does not import this package.
"""
