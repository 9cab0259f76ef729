"""Tiny-size self-test of the benchmark itself.

    python3 perfbench/selftest.py

Run from the repository root; takes a few minutes on 4 cores. It checks
that BENCHMARK.json and metrics.py name the same metrics, runs both
workloads at tiny sizes (query_mix traced, ingest_refresh untraced and
traced) and requires every output check to pass and every metric to be
reported, then feeds deliberately wrong responses to the checks and
requires each one to be caught. Exits 0 when everything holds.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys

import run as entry

FAILURES: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def check_metric_lists() -> None:
    import metrics

    with open(os.path.join(entry.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expect([(m["name"], m["unit"]) for m in bench["end_to_end"]] == metrics.END_TO_END,
           "BENCHMARK.json end_to_end matches metrics.END_TO_END")
    expect([(m["name"], m["unit"]) for m in bench["per_layer"]] == metrics.PER_LAYER,
           "BENCHMARK.json per_layer matches metrics.PER_LAYER")
    expect([w["name"] for w in bench["workloads"]] == list(entry.WORKLOADS),
           "BENCHMARK.json workloads match run.py")


def tiny_run(spark, name: str, trace: bool):
    import harness
    import metrics
    import probes
    import workloads

    work = os.path.join(entry.WORK, f"{name}-{int(trace)}")
    os.makedirs(work, exist_ok=True)
    run = workloads.Run(spark=spark, seed=3, seconds=1.0,
                        tracer=harness.Tracer(trace), work=work,
                        nproc=entry.nproc(), spark_start_s=0.0)
    getattr(workloads, name)(run)
    if trace:
        probes.run_all(run)
    run.put("peak_rss_mb", harness.peak_rss_mb(entry.jvm_pid()), "MB")
    res = run.result(trace)
    label = f"{name} (trace={int(trace)})"
    expect(res["failed"] == 0 and res["correct"] and res["attempted"] > 0,
           f"{label}: {res['attempted']} checks, {res['failed']} failed {run.errors[:3]}")
    want = [n for n, _ in (metrics.PER_LAYER if trace else metrics.END_TO_END)]
    expect(list(res["metrics"]) == want, f"{label}: reports every metric")
    return run


def wrong_responses(spark) -> None:
    """A correct verification response must pass the oracle check, and
    each deliberately wrong variant of it must fail."""
    from bayard_spark.query import SearchEngine

    import harness
    import workloads
    from queries import QueryGen

    work = os.path.join(entry.WORK, "wrong")
    os.makedirs(work, exist_ok=True)
    run = workloads.Run(spark=spark, seed=5, seconds=1.0, tracer=harness.Tracer(False),
                        work=work, nproc=entry.nproc(), spark_start_s=0.0)
    n = 120
    corpus = workloads.generate(run, n, "corpus")
    root = os.path.join(work, "idx")
    workloads.build_index(run, corpus, root, n)
    oracle, meta = workloads.fill_oracle(run.seed, n)
    docs = workloads.oracle_docs(root, meta)
    urls = {u for _, u, _ in docs.values()}
    engine = SearchEngine(spark, root)

    req = QueryGen(run.seed).request("term_hot", "count_and_top_docs")
    resp = engine.search(req)
    expect(len(resp.documents) >= 2, "verification response has at least two docs")
    expect(harness.oracle_errors(req, resp, oracle, docs) == [],
           "correct response matches the oracle")
    expect(harness.structural_errors(req, resp, urls) == [],
           "correct response passes the structural check")

    def variant(mutate):
        bad = copy.deepcopy(resp)
        mutate(bad)
        return bad

    def swap(b):
        b.documents[0], b.documents[1] = b.documents[1], b.documents[0]

    def nudge(b):
        b.documents[0]["score"] *= 1 + 1e-6

    def drop(b):
        b.documents.pop()

    def miscount(b):
        b.total_hits += 1

    for name, mutate in [("swapped ranks", swap), ("score off by 1e-6", nudge),
                         ("dropped doc", drop), ("wrong total_hits", miscount)]:
        errs = harness.oracle_errors(req, variant(mutate), oracle, docs)
        expect(bool(errs), f"oracle check catches {name}")

    def foreign(b):
        b.documents[0]["id"] = "https://example.invalid/none"

    def ascending(b):
        b.documents[0]["score"] = b.documents[-1]["score"] - 1.0

    def duplicate(b):
        b.documents[1] = dict(b.documents[0])

    for name, mutate in [("unknown url", foreign), ("scores out of order", ascending),
                         ("duplicate id", duplicate)]:
        errs = harness.structural_errors(req, variant(mutate), urls)
        expect(bool(errs), f"structural check catches {name}")

    live = [d["id"] for d in resp.documents[:2]]
    lookup = engine.search(workloads.url_lookup(live))
    expect(workloads.lookup_errors(lookup, live) == [], "url lookup of live urls passes")
    expect(bool(workloads.lookup_errors(lookup, live[:1])),
           "url lookup check catches a url that should be gone")


def main() -> int:
    entry.pin_environment()
    sys.path.insert(0, entry.ROOT)
    import workloads

    workloads.QUERY_DOCS = 400
    workloads.INGEST_BASE_DOCS = 400
    check_metric_lists()
    spark = entry.start_spark()
    try:
        wrong_responses(spark)
        tiny_run(spark, "query_mix", trace=True)
        tiny_run(spark, "ingest_refresh", trace=False)
        tiny_run(spark, "ingest_refresh", trace=True)
    finally:
        entry.stop_spark(spark)
        shutil.rmtree(entry.WORK, ignore_errors=True)
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
