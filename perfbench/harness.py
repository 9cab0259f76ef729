"""Shared machinery for the perfbench workloads.

Everything here sits outside the bayard_spark package: the span
recorder, Spark job counting, process memory, the median helper,
on-disk index accounting and the response checks every workload uses.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import threading
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory span recorder.

    A span is (id, parent id, request id, name, start, end). A span opened
    with no enclosing span starts a new request; nested spans inherit its
    request id. Disabled tracers record nothing, so untraced runs pay one
    function call per boundary.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent, req = (stack[-1][0], stack[-1][1]) if stack else (None, sid)
        stack.append((sid, req))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((sid, parent, req, name, t0, t1))

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer (span name prefix before the first dot):
        a span's duration minus the time its child spans cover. Children
        of one span run on the parent's thread, so they never overlap."""
        child_time: dict[int, float] = {}
        for _, parent, _, _, t0, t1 in self.spans:
            if parent is not None:
                child_time[parent] = child_time.get(parent, 0.0) + (t1 - t0)
        out: dict[str, float] = {}
        for sid, _, _, name, t0, t1 in self.spans:
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (t1 - t0) - child_time.get(sid, 0.0)
        return out

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for _, _, _, n, t0, t1 in self.spans if n == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        base = min((s[4] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for sid, parent, req, name, t0, t1 in sorted(self.spans, key=lambda s: s[4]):
                f.write(json.dumps({
                    "id": sid, "parent": parent, "request": req, "name": name,
                    "start_ms": round((t0 - base) * 1e3, 3),
                    "end_ms": round((t1 - base) * 1e3, 3),
                }) + "\n")


class JobCounter:
    """Exact Spark job counts per operation via job groups.

    Job groups are thread-local (pinned-thread mode), so an operation run
    on one thread counts only its own jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = itertools.count()

    @contextmanager
    def group(self, label: str):
        gid = f"perfbench-{label}-{next(self._n)}"
        self.sc.setJobGroup(gid, label)
        box = {"jobs": 0}
        try:
            yield box
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            box["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(gid))


# ---------------------------------------------------------------- numbers


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the driver process plus the Spark JVM.
    Python UDF workers fork from one daemon and share pages, so summing
    their high-water marks would over-count; they are left out."""
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


# ---------------------------------------------------------------- index files


def parquet_files(root: str) -> list[str]:
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


def tree_bytes(root: str) -> int:
    """Bytes of every parquet data file under an index root."""
    return sum(os.path.getsize(p) for p in parquet_files(root))


def postings_table(root: str):
    """Every postings block of an index, across wave dirs, as one Arrow
    table with the `field` partition column restored."""
    import pyarrow as pa

    post = os.path.join(root, "postings")
    tables = []
    for wave in sorted(os.listdir(post)):
        if not wave.startswith("wave="):
            continue
        for field_dir in sorted(os.listdir(os.path.join(post, wave))):
            if not field_dir.startswith("field="):
                continue
            fdir = os.path.join(post, wave, field_dir)
            for bdir in sorted(os.listdir(fdir)):
                if not bdir.startswith("bucket="):
                    continue
                for p in parquet_files(os.path.join(fdir, bdir)):
                    t = pq.read_table(p)
                    t = t.append_column("field", pa.array([field_dir[6:]] * t.num_rows))
                    tables.append(t)
    return pa.concat_tables(tables, promote_options="permissive")


# ---------------------------------------------------------------- checks


def structural_errors(request: dict, resp, known_urls) -> list[str]:
    """Shape checks every response must pass, whatever the corpus size."""
    errs = []
    docs = resp.documents
    hits = int(request.get("hits", 10))
    kind = request.get("collection_kind", "count_and_top_docs")
    if len(docs) > hits:
        errs.append(f"{len(docs)} docs > hits={hits}")
    ids = [d["id"] for d in docs]
    if len(set(ids)) != len(ids):
        errs.append("duplicate ids")
    unknown = [u for u in ids if u not in known_urls]
    if unknown:
        errs.append(f"ids that resolve to no url: {unknown[:3]}")
    if request.get("sort"):
        ts = [d["timestamp"] for d in docs]
        desc = request["sort"].get("order", "asc") == "desc"
        if ts != sorted(ts, reverse=desc):
            errs.append("not ordered by the sort field")
    else:
        scores = [d["score"] for d in docs]
        # BM25 statistics refresh at build/merge time only, so a hot term
        # whose df outgrew the stats' n_docs scores below zero; a score
        # must still be a finite number
        if not all(math.isfinite(s) for s in scores):
            errs.append("non-finite score")
        if scores != sorted(scores, reverse=True):
            errs.append("scores not descending")
    if kind in ("count", "count_and_top_docs"):
        if resp.total_hits < len(docs) or (
            len(docs) < hits and resp.total_hits != len(docs)
        ):
            errs.append(f"total_hits {resp.total_hits} vs {len(docs)} docs")
    return errs


def oracle_errors(request: dict, resp, oracle, docs: dict) -> list[str]:
    """Compare a response with bayard_spark.oracle.OracleIndex over the
    same documents: urls exact and in order, scores to 1e-9 relative,
    total_hits exact when counted. `docs` maps each oracle doc id to the
    index's (doc_id, url, warc_ts epoch); ties rank by the index's doc_id,
    so the oracle may number its documents any way."""
    hits = int(request.get("hits", 10))
    scores = oracle.run(request["query"])
    if request.get("sort"):
        sign = -1 if request["sort"].get("order", "asc") == "desc" else 1
        ranked = sorted(scores, key=lambda o: (sign * docs[o][2], docs[o][0]))
        want = [(docs[o][1], 0.0) for o in ranked[:hits]]
    else:
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], docs[kv[0]][0]))
        want = [(docs[o][1], s) for o, s in ranked[:hits]]
    got = [(d["id"], d["score"]) for d in resp.documents]
    errs = []
    if [u for u, _ in got] != [u for u, _ in want]:
        errs.append(f"ids differ from oracle: {[u for u, _ in got][:3]} vs {[u for u, _ in want][:3]}")
    else:
        for (u, a), (_, b) in zip(got, want):
            if not math.isclose(a, b, rel_tol=1e-9, abs_tol=0.0):
                errs.append(f"score of {u}: {a!r} vs oracle {b!r}")
                break
    if request.get("collection_kind", "count_and_top_docs") != "top_docs":
        if resp.total_hits != len(scores):
            errs.append(f"total_hits {resp.total_hits} vs oracle {len(scores)}")
    return errs
