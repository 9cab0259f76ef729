"""The perfbench workloads: query_mix (read path) and ingest_refresh
(write path).

Each workload sets up its inputs from the seed, measures its unit
operation in a closed loop for the run's seconds, checks every output
and records metrics on the Run. Sizes keep one run (JVM start, set-up,
measurement, checks) under a minute on a 4-core box; most of it is JVM
start and the cold index build, which do not shrink with the corpus.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import harness
import metrics
from harness import median
from queries import MEASURED_SEED, MIX, WARMUP_SEED, QueryGen, url_lookup, vocabulary_set

# input sizes (documents)
QUERY_DOCS = 1_000       # query_mix index, small enough for the oracle
INGEST_BASE_DOCS = 1_000  # ingest_refresh base index
INGEST_MIN_CYCLES = 2    # measured cycles per run, however long they take
INGEST_NEW = 40          # new urls per ingest cycle
INGEST_REPUT = 10        # re-put existing urls per cycle (tombstones)
INGEST_DELETE = 4        # deleted urls per cycle
MIX_LEN = 2_000          # requests generated for the query_mix loop


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    tracer: harness.Tracer
    work: str
    nproc: int
    spark_start_s: float
    metrics_: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    # state the per-layer probes reuse
    engine: object = None
    builder: object = None
    corpus: str = ""
    known_urls: set = field(default_factory=set)
    gen: list = field(default_factory=list)        # (docs, seconds)
    build_jobs: int = 0
    op_ms: list = field(default_factory=list)
    ingest: tuple | None = None    # (Ingestor, cycle parts, put jobs)
    t0: float = field(default_factory=time.perf_counter)

    def __post_init__(self):
        self.jobs = harness.JobCounter(self.spark)
        self._lock = threading.Lock()

    def check(self, errs: list[str], what: str) -> None:
        with self._lock:
            self.attempted += 1
            if errs:
                self.failed += 1
                self.errors.append(f"{what}: {'; '.join(errs)}")

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics_[name] = (float(value), unit)

    @property
    def traced(self) -> bool:
        """Traced runs do one round of the unit operation (one mix cycle,
        one ingest cycle) instead of the timed window, then the per-layer
        probes: the window's numbers come from untraced runs, and the
        probes then cost a traced run about 15 s over an untraced one."""
        return self.tracer.enabled

    def elapsed(self) -> float:
        return self.spark_start_s + (time.perf_counter() - self.t0)

    def result(self, trace: bool) -> dict:
        names = metrics.PER_LAYER if trace else metrics.END_TO_END
        out = {}
        for name, unit in names:
            value, got_unit = self.metrics_[name]
            assert got_unit == unit, (name, unit, got_unit)
            out[name] = {"value": value, "unit": unit}
        for e in self.errors[:20]:
            print(f"perfbench check failed: {e}", flush=True)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": out,
        }


# ---------------------------------------------------------------- set-up


def index_meta(run: Run, n_docs: int):
    """One meta shape for every index: single-wave fast path and 2 term
    buckets per core. Hot-term detection runs, but its threshold is the
    doc count, so no term is salted: with a threshold inside the Zipf
    head, the 5% detection sample salted a seed-dependent set of head
    terms, and that alone moved query_mix latency by about 25%."""
    from bayard_spark.schema import webtext_index_meta

    return webtext_index_meta(
        num_buckets=2 * run.nproc,
        num_waves=1,
        hot_df_threshold=n_docs,
    )


CORPUS_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def generate(run: Run, n_docs: int, name: str) -> str:
    """Materialize n_docs of seeded webtext (url, warc_ts, html, text,
    lang) as nproc parquet files under the work dir. The rows are those
    webtext_df yields (it maps synthesize_batch over spark.range), made on
    the driver, so the generation rate measures the generator rather
    than the start-up of the run's first Spark job."""
    from bayard_spark.sources.webtext import synthesize_batch

    path = os.path.join(run.work, name)
    os.makedirs(path)
    t0 = time.perf_counter()
    with run.tracer.span("webtext.gen"):
        for i, ids in enumerate(np.array_split(np.arange(n_docs), run.nproc)):
            pdf = synthesize_batch(ids, run.seed)
            pq.write_table(pa.Table.from_pandas(pdf, CORPUS_SCHEMA, preserve_index=False),
                           os.path.join(path, f"part-{i:05d}.parquet"))
    run.gen.append((n_docs, time.perf_counter() - t0))
    return path


def corpus_urls(path: str) -> list[str]:
    return pq.read_table(path, columns=["url"]).column("url").to_pylist()


def replay_build(run: Run, b, src) -> None:
    """IndexBuilder.build's single-wave stage sequence, one span per
    stage (traced runs only)."""
    from pyspark.sql import functions as F

    tr = run.tracer
    spark = run.spark
    b.io.makedirs(b.paths.root)
    b.io.write_text(b.paths.meta, b.meta.to_json())
    with tr.span("indexer.ids_docs"):
        b.write_docs(b.assign_doc_ids(src))
    n_docs = b.last_n_docs
    docs = spark.read.parquet(b.paths.docs)
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par * 2)
    with tr.span("indexer.hot_terms"):
        hot = b._hot_terms_sampled(docs)
    with tr.span("indexer.postings"):
        rows = (
            b.posting_rows(docs)
            .withColumn("bucket", F.pmod(F.xxhash64("term"),
                                         F.lit(b.meta.num_buckets)).cast("int"))
            .withColumn("wave", F.lit(0))
        )
        b.blockify_wave(rows, 0, hot)
    with tr.span("indexer.norms_stats"):
        b.write_norms_stats_direct(docs, n_docs)


def build_index(run: Run, corpus: str, root: str, n_docs: int):
    """Build an index over a corpus; traced runs replay the stages."""
    from bayard_spark.build.indexer import IndexBuilder

    b = IndexBuilder(run.spark, index_meta(run, n_docs), root)
    src = run.spark.read.parquet(corpus)
    t0 = time.perf_counter()
    with run.tracer.span("bench.build"), run.jobs.group("build") as jobs:
        if run.traced:
            replay_build(run, b, src)
        else:
            b.build(src, resume=False)
    run.put("indexer.build_docs_per_s", n_docs / (time.perf_counter() - t0), "1/s")
    run.build_jobs = jobs["jobs"]
    if run.traced:
        record_index_counts(run, root)
    return b


def record_index_counts(run: Run, root: str) -> None:
    """Exact counts of a freshly built index (traced runs)."""
    import pyarrow.compute as pc

    t = harness.postings_table(root)
    salted = t.filter(pc.greater(t.column("salt"), 0))
    run.put("indexer.posting_rows", pc.sum(t.column("n_docs")).as_py(), "count")
    run.put("indexer.blocks", t.num_rows, "count")
    run.put("indexer.salted_terms",
            len(set(zip(salted.column("field").to_pylist(),
                        salted.column("term").to_pylist()))), "count")
    run.put("indexer.index_bytes", harness.tree_bytes(root), "B")
    run.put("indexer.spark_jobs", run.build_jobs, "count")


def lookup_errors(resp, live: list[str]) -> list[str]:
    ids = [d["id"] for d in resp.documents]
    errs = []
    if sorted(ids) != sorted(live):
        missing = sorted(set(live) - set(ids))[:3]
        extra = sorted(set(ids) - set(live))[:3]
        errs.append(f"url lookup: missing {missing}, unexpected {extra}, "
                    f"{len(ids)} ids for {len(live)} live urls")
    if resp.total_hits != len(live):
        errs.append(f"url lookup total_hits {resp.total_hits} != {len(live)}")
    return errs


def refresh(run: Run, root: str, live: list[str], gone: list[str] = ()):
    """Open a fresh SearchEngine on the index and look up urls: every live
    url must come back exactly once and no gone url may. Returns the
    engine and the seconds from the call to the checked answer."""
    from bayard_spark.query import SearchEngine

    t0 = time.perf_counter()
    with run.tracer.span("bench.refresh"):
        with run.tracer.span("engine.open"):
            engine = SearchEngine(run.spark, root)
        with run.tracer.span("engine.search"):
            resp = engine.search(url_lookup(list(live) + list(gone)))
    dt = time.perf_counter() - t0
    run.check(lookup_errors(resp, list(live)), "url lookup")
    return engine, dt


def sample(rng: np.random.Generator, items: list, k: int) -> list:
    return [items[i] for i in sorted(rng.choice(len(items), size=k, replace=False))]


# ---------------------------------------------------------------- query loop


def closed_loop(run: Run, engine, seq, clients: int, seconds: float | None,
                check, cycle: int = 1) -> tuple[list[tuple[str, float]], float]:
    """`clients` threads each send the next request of `seq` as soon as
    their previous one returns, until `seconds` pass (None: until seq is
    used up); once they have, requests are still sent up to the next
    multiple of `cycle`, so every run ends on whole cycles of the mix.
    Returns ((kind, latency s) per completed request, wall s)."""
    lock = threading.Lock()
    nxt = [0]
    done: list[tuple[str, float]] = []
    start = time.perf_counter()
    deadline = None if seconds is None else start + seconds
    last_end = [start]

    def client():
        while True:
            with lock:
                if nxt[0] >= len(seq) or (
                    deadline is not None and nxt[0] % cycle == 0
                    and time.perf_counter() >= deadline
                ):
                    return
                i = nxt[0]
                nxt[0] += 1
            kind, req = seq[i]
            t0 = time.perf_counter()
            try:
                with run.tracer.span(f"bench.query.{kind}"):
                    with run.tracer.span("engine.search"):
                        resp = engine.search(req)
                    errs = check(req, resp)
            except Exception as e:  # a failed request is counted, the loop goes on
                errs = [f"{type(e).__name__}: {e}"]
            t1 = time.perf_counter()
            run.check(errs, f"{kind} {req['query']}")
            with lock:
                done.append((kind, t1 - t0))
                last_end[0] = max(last_end[0], t1)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return done, last_end[0] - start


def structural_check(run: Run):
    return lambda req, resp: harness.structural_errors(req, resp, run.known_urls)


# ---------------------------------------------------------------- workloads


def fill_oracle(seed: int, n_docs: int) -> tuple:
    """OracleIndex over the same n_docs the corpus holds, numbered by
    generation index (BM25 scores do not depend on doc ids). Returns the
    oracle and, per oracle id, (url, warc_ts epoch)."""
    from bayard_spark.oracle import OracleIndex
    from bayard_spark.sources.webtext import synthesize_batch

    pdf = synthesize_batch(np.arange(n_docs), seed)
    oracle = OracleIndex(field_analyzers={"url": "raw", "text": "default", "lang": "raw"})
    for i, r in enumerate(pdf.itertuples(index=False)):
        oracle.add(i, {"url": r.url, "text": r.text, "lang": r.lang})
    return oracle, [(u, int(ts.timestamp())) for u, ts in zip(pdf.url, pdf.warc_ts)]


def oracle_docs(root: str, meta: list[tuple[str, int]]) -> dict:
    """Oracle id → the index's (doc_id, url, warc_ts epoch)."""
    t = pq.read_table(os.path.join(root, "docs"), columns=["url", "doc_id"])
    doc_id = dict(zip(t.column("url").to_pylist(), t.column("doc_id").to_pylist()))
    return {i: (doc_id[u], u, ts) for i, (u, ts) in enumerate(meta)}


def query_mix(run: Run) -> None:
    """nproc closed-loop clients share one warm SearchEngine."""
    from bayard_spark.query import SearchEngine

    run.corpus = generate(run, QUERY_DOCS, "corpus")
    urls = corpus_urls(run.corpus)
    run.known_urls = set(urls)
    root = os.path.join(run.work, "idx")
    run.builder = build_index(run, run.corpus, root, QUERY_DOCS)

    # the oracle fills on a driver thread during the serving engine's open
    # and the warm-up (both unmeasured), while the driver mostly waits on
    # Spark; filling it during the build made the build about 50% slower
    ref = {}

    def fill():
        ref["oracle"], ref["meta"] = fill_oracle(run.seed, QUERY_DOCS)

    filler = threading.Thread(target=fill)
    filler.start()
    with run.tracer.span("engine.open"):
        run.engine = SearchEngine(run.spark, root)
    # warm-up: one pass over the mix cycle with other terms, so the
    # leaf-plan and expansion caches hold the head of the vocabulary
    warm = QueryGen(WARMUP_SEED).mix(len(MIX))
    closed_loop(run, run.engine, warm, run.nproc, None, structural_check(run))
    filler.join()
    run.put("setup_s", run.elapsed(), "s")

    seq = QueryGen(MEASURED_SEED).mix(len(MIX) if run.traced else MIX_LEN)
    first_cycle = {id(req) for _, req in seq[:len(MIX)]}
    kept = []

    def check(req, resp):
        if id(req) in first_cycle:
            kept.append((req, resp))
        return harness.structural_errors(req, resp, run.known_urls)

    done, wall = closed_loop(run, run.engine, seq, run.nproc,
                             None if run.traced else run.seconds, check, cycle=len(MIX))
    run.op_ms = [s * 1e3 for _, s in done]

    # the first response of every mix slot must equal the oracle's
    docs = oracle_docs(root, ref["meta"])
    for req, resp in kept:
        run.check(harness.oracle_errors(req, resp, ref["oracle"], docs), "oracle")

    run.put("op_p50_ms", median(run.op_ms), "ms")
    run.put("items_per_s", len(done) / wall, "1/s")
    run.put("index_bytes_per_doc", harness.tree_bytes(root) / QUERY_DOCS, "B")


class Ingestor:
    """One writer over a base index: seeded batches of new urls and
    re-puts of existing ones, a few deletes, then commit."""

    def __init__(self, run: Run, builder, base_urls: list[str], first_id: int):
        from bayard_spark.build.segments import SegmentWriter

        self.run = run
        self.writer = SegmentWriter(run.spark, builder)
        self.root = builder.paths.root
        self.rng = np.random.default_rng(run.seed + 17)
        self.untouched = list(base_urls)   # base urls never re-put or deleted
        self.live_put: list[str] = []
        self.deleted: list[str] = []
        self.next_id = first_id
        self.cycles = 0

    def _take(self, k: int) -> list[str]:
        picked = sample(self.rng, self.untouched, k)
        chosen = set(picked)
        self.untouched = [u for u in self.untouched if u not in chosen]
        return picked

    def cycle(self, n_new: int, n_reput: int, n_delete: int):
        """One write-to-searchable round: put + delete + commit, then a
        fresh snapshot that must answer lookups of the batch. Returns the
        (put, delete, commit, refresh) seconds, the Spark jobs the put ran
        and the new snapshot's engine."""
        from bayard_spark.sources.webtext import WEBTEXT_SCHEMA, synthesize_batch

        tr = self.run.tracer
        ids = np.arange(self.next_id, self.next_id + n_new + n_reput)
        self.next_id += len(ids)
        pdf = synthesize_batch(ids, self.run.seed)
        reput = self._take(n_reput)
        pdf.loc[n_new:, "url"] = reput
        df = self.run.spark.createDataFrame(pdf, WEBTEXT_SCHEMA)
        doomed = self._take(n_delete)
        with tr.span("bench.ingest"):
            t0 = time.perf_counter()
            with tr.span("segments.put"), self.run.jobs.group("put") as jobs:
                self.writer.put_documents(df)
            t1 = time.perf_counter()
            with tr.span("segments.delete"):
                self.writer.delete_documents(doomed)
            t2 = time.perf_counter()
            with tr.span("segments.commit"):
                self.writer.commit()
            t3 = time.perf_counter()
            # the snapshot looks up a seeded sample of the batch (two new
            # urls, one re-put, one deleted): a should-query costs one
            # posting scan per url, so check_visibility checks the rest
            live = (sample(self.rng, list(pdf.url[:n_new]), 2)
                    + sample(self.rng, reput, 1))
            engine, t_refresh = refresh(self.run, self.root, live, doomed[:1])
        self.live_put += list(pdf.url)
        self.deleted += doomed
        self.cycles += 1
        return (t1 - t0, t2 - t1, t3 - t2, t_refresh), jobs["jobs"], engine

    def check_visibility(self) -> None:
        """Every url put so far is visible exactly once and every deleted
        url is gone, in the committed doc store (one Spark job)."""
        from bayard_spark.build.segments import visible_docs
        from pyspark.sql import functions as F

        urls = self.live_put + self.deleted
        counts = dict(
            visible_docs(self.run.spark, self.writer.paths)
            .filter(F.col("url").isin(urls)).groupBy("url").count().collect()
        )
        errs = [f"{u} visible {counts.get(u, 0)} times"
                for u in self.live_put if counts.get(u, 0) != 1]
        errs += [f"deleted {u} still visible" for u in self.deleted if u in counts]
        self.run.check(errs, "ingest visibility")

    def merge(self) -> tuple[float, int]:
        """merge_segments once; returns (seconds, bytes it wrote)."""
        from bayard_spark.build.segments import merge_segments

        t0 = time.time()
        with self.run.tracer.span("segments.merge"):
            merge_segments(self.run.spark, self.writer.b)
        dt = time.time() - t0
        written = sum(
            os.path.getsize(p) for p in harness.parquet_files(self.root)
            if os.path.getmtime(p) >= t0 - 1.0
        )
        return dt, written

    def vocabulary_queries(self, engine) -> list[float]:
        """The fixed vocabulary set on a snapshot with segments and
        tombstones; returns milliseconds per request."""
        out = []
        for kind, req in vocabulary_set():
            t0 = time.perf_counter()
            with self.run.tracer.span("engine.search"):
                resp = engine.search(req)
            out.append((time.perf_counter() - t0) * 1e3)
            self.run.check(harness.structural_errors(req, resp, self.run.known_urls), kind)
        return out

    def record_segment_metrics(self, parts, jobs, engine) -> None:
        """segments.* per-layer metrics: the cycles' put/delete/commit/
        refresh parts and put jobs, the vocabulary set on `engine` (a snapshot
        after the last commit), then one merge_segments and a check that
        the merged index still shows every put url once and no deleted
        url. The merge rewrites files `engine` reads, so it runs last."""
        run = self.run
        run.put("segments.put_ms", median([p[0] for p in parts]) * 1e3, "ms")
        run.put("segments.delete_ms", median([p[1] for p in parts]) * 1e3, "ms")
        run.put("segments.commit_ms", median([p[2] for p in parts]) * 1e3, "ms")
        run.put("segments.refresh_ms", median([p[3] for p in parts]) * 1e3, "ms")
        run.put("segments.spark_jobs_per_put", median(jobs), "count")
        run.put("segments.visible_files", visible_postings_files(self.root), "count")
        run.put("segments.query_p50_ms", median(self.vocabulary_queries(engine)), "ms")
        merge_s, written = self.merge()
        run.put("segments.merge_s", merge_s, "s")
        run.put("segments.merge_bytes_rewritten", written, "B")
        self.check_visibility()


def visible_postings_files(root: str) -> int:
    """Parquet files a reader scans: base waves plus committed segments."""
    from bayard_spark.build.segments import CommitLog

    segs = set(CommitLog(root).committed_segments())
    post = os.path.join(root, "postings")
    n = 0
    for wave in os.listdir(post):
        name = wave[len("wave="):]
        if wave.startswith("wave=") and (name.isdigit() or name in segs):
            n += len(harness.parquet_files(os.path.join(post, wave)))
    return n


def ingest_refresh(run: Run) -> None:
    """A single closed-loop writer: put + delete + commit, then a fresh
    snapshot that must answer lookups of the batch. The unit operation
    is the whole round, from put to a checked answer."""
    run.corpus = generate(run, INGEST_BASE_DOCS, "corpus")
    urls = corpus_urls(run.corpus)
    root = os.path.join(run.work, "idx")
    run.builder = build_index(run, run.corpus, root, INGEST_BASE_DOCS)
    ing = Ingestor(run, run.builder, urls, INGEST_BASE_DOCS)
    # no warm-up cycle: the build has already run every Spark and Python
    # worker path a put uses, and a first cycle measured no slower than
    # the next ones
    run.put("setup_s", run.elapsed(), "s")

    parts, jobs = [], []
    start = time.perf_counter()
    while True:
        p, nj, run.engine = ing.cycle(INGEST_NEW, INGEST_REPUT, INGEST_DELETE)
        parts.append(p)
        jobs.append(nj)
        if run.traced or (len(parts) >= INGEST_MIN_CYCLES
                          and time.perf_counter() - start >= run.seconds):
            break
    ing.check_visibility()

    run.known_urls = (set(urls) - set(ing.deleted)) | set(ing.live_put)
    run.op_ms = [sum(p) * 1e3 for p in parts]
    live_docs = INGEST_BASE_DOCS + INGEST_NEW * ing.cycles - len(ing.deleted)
    run.put("op_p50_ms", median(run.op_ms), "ms")
    run.put("items_per_s", (INGEST_NEW + INGEST_REPUT) / (median(run.op_ms) / 1e3), "1/s")
    run.put("index_bytes_per_doc", harness.tree_bytes(root) / live_docs, "B")
    # the traced run's probes report segments.* from these cycles
    run.ingest = (ing, parts, jobs)
