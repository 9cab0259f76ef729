"""Metric names and units. BENCHMARK.json lists the same names; the
self-test checks that the two agree."""

from queries import KINDS

# (name, unit) reported by every workload with --trace 0
END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("op_p50_ms", "ms"),
    ("items_per_s", "1/s"),
    ("index_bytes_per_doc", "B"),
]

LAYERS = ["webtext", "analysis", "indexer", "codec", "segments", "engine", "parser"]

# (name, unit) reported by every workload with --trace 1
PER_LAYER = (
    [
        ("webtext.gen_docs_per_s", "1/s"),
        ("analysis.tokens_per_s", "1/s"),
        ("analysis.tokens", "count"),
        ("indexer.build_docs_per_s", "1/s"),
        ("indexer.ids_docs_s", "s"),
        ("indexer.hot_terms_s", "s"),
        ("indexer.postings_s", "s"),
        ("indexer.norms_stats_s", "s"),
        ("indexer.posting_rows", "count"),
        ("indexer.blocks", "count"),
        ("indexer.salted_terms", "count"),
        ("indexer.index_bytes", "B"),
        ("indexer.spark_jobs", "count"),
        ("codec.decode_postings_per_s", "1/s"),
        ("codec.bytes_per_posting", "B"),
        ("segments.put_ms", "ms"),
        ("segments.delete_ms", "ms"),
        ("segments.commit_ms", "ms"),
        ("segments.refresh_ms", "ms"),
        ("segments.spark_jobs_per_put", "count"),
        ("segments.visible_files", "count"),
        ("segments.query_p50_ms", "ms"),
        ("segments.merge_s", "s"),
        ("segments.merge_bytes_rewritten", "B"),
        ("engine.open_ms", "ms"),
        ("engine.wait_ms", "ms"),
        ("parser.parse_us", "us"),
    ]
    + [(f"engine.plan_ms.{k}", "ms") for k in KINDS]
    + [(f"engine.search_ms.{k}", "ms") for k in KINDS]
    + [(f"engine.spark_jobs.{k}", "count") for k in KINDS]
    + [(f"self_s.{layer}", "s") for layer in LAYERS]
    + [
        ("trace.op_p50_ms", "ms"),
        ("trace.overhead_ms", "ms"),
        ("trace.spans", "count"),
    ]
)
