"""Per-layer probes for traced runs (--trace 1).

They run after the workload's own measurement, so they never perturb its
numbers. Every workload's traced run reports every per-layer metric: a
layer its workload does not exercise is probed here on the workload's
own index (one small ingest cycle and a merge, one request per query
kind, a decode of a block sample, a tokenize of a corpus sample).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

import harness
import metrics
from harness import median
from queries import KINDS, PROBE_SEED, QueryGen, url_lookup
from workloads import (
    Ingestor,
    Run,
    closed_loop,
    corpus_urls,
    lookup_errors,
    sample,
    structural_check,
)

ANALYSIS_SAMPLE_DOCS = 1_000
CODEC_SAMPLE_BLOCKS = 2_000
PARSE_SAMPLE = 100


def probe_analysis(run: Run) -> None:
    """Analyzer.tokenize over the first docs of the corpus, best of 3."""
    from bayard_spark.analysis.analyzer import builtin_analyzers

    an = builtin_analyzers()["default"]
    texts = pd.Series(
        pq.read_table(run.corpus, columns=["text"]).column("text")
        .to_pylist()[:ANALYSIS_SAMPLE_DOCS]
    )
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        with run.tracer.span("analysis.tokenize"):
            n = len(an.tokenize(texts))
        times.append(time.perf_counter() - t0)
    run.put("analysis.tokens", n, "count")
    run.put("analysis.tokens_per_s", n / min(times), "1/s")


def probe_codec(run: Run) -> None:
    """decode_block over a fixed sample of text-field blocks, and the
    exact payload bytes per posting of the whole index."""
    from bayard_spark.build.codec import decode_block

    t = harness.postings_table(run.builder.paths.root)
    payload = sum(
        pc.sum(pc.binary_length(t.column(c))).as_py() or 0
        for c in ("doc_bytes", "tf_bytes", "len_bytes", "pos_bytes")
    )
    run.put("codec.bytes_per_posting",
            payload / pc.sum(t.column("n_docs")).as_py(), "B")
    text = t.filter(pc.equal(t.column("field"), "text")).sort_by(
        [("term", "ascending"), ("salt", "ascending"), ("block_id", "ascending")]
    ).slice(0, CODEC_SAMPLE_BLOCKS)
    blocks = list(zip(text.column("doc_bytes").to_pylist(),
                      text.column("tf_bytes").to_pylist(),
                      text.column("pos_bytes").to_pylist()))
    t0 = time.perf_counter()
    with run.tracer.span("codec.decode"):
        n = sum(len(decode_block(d, f, p)[0]) for d, f, p in blocks)
    run.put("codec.decode_postings_per_s", n / (time.perf_counter() - t0), "1/s")


def probe_parser(run: Run) -> None:
    from bayard_spark.analysis.analyzer import builtin_analyzers
    from bayard_spark.query.parser import parse_query_string

    gen = QueryGen(PROBE_SEED)
    texts = [gen.query("query_string")[0]["options"]["query"]
             for _ in range(PARSE_SAMPLE)]
    analyzers = builtin_analyzers()
    fields = {"url": "raw", "text": "default", "lang": "raw"}
    t0 = time.perf_counter()
    with run.tracer.span("parser.parse"):
        for q in texts:
            parse_query_string(q, ["text"], analyzers, fields)
    run.put("parser.parse_us", (time.perf_counter() - t0) / len(texts) * 1e6, "us")


def probe_engine_kinds(run: Run) -> list[tuple[str, dict]]:
    """Per query kind, on the workload's engine: plan time (scores()
    returning, no action), then the single-client time and exact Spark
    jobs of the search. Returns the (kind, request) sequence it ran."""
    engine = run.engine
    gen = QueryGen(PROBE_SEED)
    rng = np.random.default_rng(run.seed + 7)
    live = sorted(run.known_urls)
    seq = []
    for kind in KINDS:
        if kind == "url_lookup":
            urls = sample(rng, live, 5)
            req = url_lookup(urls)
        else:
            req = gen.request(kind)
        seq.append((kind, req))
        t0 = time.perf_counter()
        with run.tracer.span("engine.plan"):
            engine.scores(req["query"], topk_hint=None if req.get("sort") else req["hits"])
        run.put(f"engine.plan_ms.{kind}", (time.perf_counter() - t0) * 1e3, "ms")
        with run.jobs.group(kind) as jobs:
            t0 = time.perf_counter()
            with run.tracer.span("engine.search"):
                resp = engine.search(req)
            ms = (time.perf_counter() - t0) * 1e3
        errs = harness.structural_errors(req, resp, run.known_urls)
        if kind == "url_lookup":
            errs += lookup_errors(resp, urls)
        run.check(errs, f"probe {kind}")
        run.put(f"engine.search_ms.{kind}", ms, "ms")
        run.put(f"engine.spark_jobs.{kind}", jobs["jobs"], "count")
    return seq


def probe_wait(run: Run, seq: list[tuple[str, dict]]) -> None:
    """engine.wait_ms: the first nproc requests of the kind probe sent at
    once by nproc clients; their p50 minus the p50 of the same requests'
    single-client searches there."""
    seq = seq[:run.nproc]
    many, _ = closed_loop(run, run.engine, seq, run.nproc, None, structural_check(run))
    one = [run.metrics_[f"engine.search_ms.{k}"][0] for k, _ in seq]
    run.put("engine.wait_ms", median([s * 1e3 for _, s in many]) - median(one), "ms")


def probe_segments(run: Run) -> None:
    """segments.* from ingest_refresh's own cycles; other workloads run
    one small ingest cycle on their own index first."""
    if run.ingest is None:
        urls = corpus_urls(run.corpus)
        ing = Ingestor(run, run.builder, urls, len(urls))
        times, jobs, run.engine = ing.cycle(20, 5, 3)
        run.known_urls = set(urls) | set(ing.live_put)
        run.ingest = (ing, [times], [jobs])
    ing, parts, jobs = run.ingest
    ing.record_segment_metrics(parts, jobs, run.engine)


def span_cost_s(enabled: bool, n: int = 20_000) -> float:
    tr = harness.Tracer(enabled)
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def run_all(run: Run) -> None:
    tr = run.tracer
    probe_analysis(run)
    probe_codec(run)
    probe_parser(run)
    probe_wait(run, probe_engine_kinds(run))
    probe_segments(run)   # last: its merge rewrites the files run.engine reads

    docs = sum(n for n, _ in run.gen)
    run.put("webtext.gen_docs_per_s", docs / sum(s for _, s in run.gen), "1/s")
    for stage in ("ids_docs", "hot_terms", "postings", "norms_stats"):
        run.put(f"indexer.{stage}_s", tr.durations(f"indexer.{stage}")[-1], "s")
    run.put("engine.open_ms", median(tr.durations("engine.open")) * 1e3, "ms")
    self_s = tr.self_seconds()
    for layer in metrics.LAYERS:
        run.put(f"self_s.{layer}", self_s.get(layer, 0.0), "s")
    run.put("trace.op_p50_ms", median(run.op_ms), "ms")
    run.put("trace.spans", len(tr.spans), "count")
    run.put("trace.overhead_ms",
            (span_cost_s(True) - span_cost_s(False)) * len(tr.spans) * 1e3, "ms")
