"""Search engine: JSON query DSL → top-k, answered at one of two sites.

Each request runs where its size puts it, decided from metadata the engine
already holds (no job, no I/O): the postings bound is Σ df of its leaf
terms from the term dictionary (fuzzy/regex after their cached
expansion), plus the commit log's doc-id high-water mark for `all`,
`range`, a must_not-only boolean or a fast-field sort.

- Driver site, bound below DRIVER_MAX_POSTINGS: no Spark job. The leaf
  terms' blocks are read with pyarrow from the snapshot's files (field,
  bucket and term filters), decoded by `codec.decode_blocks`, tombstoned
  ids dropped, and scored in numpy with the Spark plan's BM25 operation
  order; boolean, phrase, boost and top-k compose on sorted doc-id arrays.
- Spark site, above it: the DataFrame plan below, which parallelizes
  decode for head terms at web scale.

Parsing, fuzzy/regex expansion, every error, `scores()` (the Spark plan)
and the response shape are shared by both sites.

Spark plan shape per query (SURVEY §2.4-2.5 mapping):

- leaf terms resolve to parquet scans of postings blocks with predicates on
  (field, bucket, term): in the base waves field/bucket are PARTITION
  columns (pruned before I/O), in a segment's single file they are sorted
  data columns; term hits row-group min/max stats. Block payloads decode in
  one Arrow-native mapInArrow pass (numpy codec, zero-copy position lists),
  which also drops tombstoned doc ids; scoring is pure JVM expressions with
  IDF as a driver-computed literal (exact float parity with the Python
  oracle).
- boolean: must = inner joins ordered rarest-df-first (classic IR
  intersection ordering — SURVEY §4), should = union + per-doc score sum
  (plain term clauses on one field share one decode), must_not = left_anti
  (boolean.rs:272-290 semantics).
- phrase: per-term position arrays joined on doc_id, adjacency-within-slop
  verified by `phrase_match_counts` in a mapInArrow (the driver site calls
  the same kernel); scored with tf = match count and idf = Σ constituent
  idfs (phrase.rs:13-33).
- fuzzy/regex: term-dictionary expansion over block METADATA only (parquet
  reads just the `term` column), then a should-sum over matched terms
  (fuzzy_term.rs:5-39, regex.rs:12-25).
- top-k: orderBy(score desc, doc_id asc).offset(o).limit(k) — Spark compiles
  this to TakeOrderedAndProject (per-partition partial top-k + merge), the
  same push-down the reference coordinator does (client.rs:843-844). The
  same collect() counts the matches through an Observation, and the
  winners' stored columns are read on the driver: one Spark action per
  search request.
- block-max pruning: for top-k term queries, a block survives only if its
  metadata upper bound can beat the k-th guaranteed lower bound — computed
  entirely from (max_tf, min_len / min_tf, max_len) columns, JVM-side, before
  any Python decode. This is the block-max WAND idea restated for a
  metadata-first layout (SURVEY §4 "block-max pruning").
"""

from __future__ import annotations

import math
import threading
from collections import OrderedDict
from collections.abc import Iterator
from dataclasses import dataclass, field as dc_field
from functools import cached_property, reduce

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bayard_spark.build.codec import decode_blocks
from bayard_spark.build.xxh64 import hash_buckets
from bayard_spark.fieldnorm import quantize
from bayard_spark.query.parser import parse_query_string
from bayard_spark.schema import IndexMeta, IndexPaths

DECODED_SCHEMA = (
    "term string, doc_id long, tf double, len double, positions array<int>"
)


def phrase_match_counts(pos_lists: list, slop: int) -> np.ndarray:
    """Phrase tf per row of aligned position ListArrays (one per phrase
    term, row i of each is the same doc), vectorized over all rows.

    Semantics (= oracle._phrase_matches): tf = number of start positions
    p0 in term0's list from which a chain p0 < p1 <= p0+slop+1 < ... exists
    through every term list. Counting starts is a BACKWARD reachability
    sweep: S holds the positions of term i+1 that can complete the tail; a
    position p of term i survives iff S has an element in (p, p+slop+1].
    Per-doc segmentation is free: positions are embedded at
    row*2^33 + pos (positions are int32, slop small), so one globally
    sorted axis serves every doc and np.searchsorted handles all rows at
    once. Python work is O(#terms), not O(rows × positions).
    """
    n = len(pos_lists[0])
    shift = np.int64(1) << np.int64(33)
    step = np.int64(slop + 1)
    flat: list[np.ndarray] = []
    docix: list[np.ndarray] = []
    for la in pos_lists:
        offs = la.offsets.to_numpy().astype(np.int64)
        vals = la.flatten().to_numpy().astype(np.int64)
        di = np.repeat(np.arange(n, dtype=np.int64), np.diff(offs))
        flat.append(di * shift + vals)
        docix.append(di)
    S = flat[-1]
    counts = np.zeros(n, dtype=np.float64)
    for i in range(len(pos_lists) - 2, -1, -1):
        p = flat[i]
        lo = np.searchsorted(S, p, side="right")
        hi = np.searchsorted(S, p + step, side="right")
        keep = hi > lo
        if i == 0:
            np.add.at(counts, docix[0][keep], 1.0)
        else:
            S = p[keep]
    return counts


def _sorted_member(sorted_ids: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """ids[i] in sorted_ids, for each i (sorted_ids sorted, distinct)."""
    if sorted_ids.size == 0:
        return np.zeros(ids.size, dtype=bool)
    idx = np.searchsorted(sorted_ids, ids)
    idx[idx == sorted_ids.size] = 0
    return sorted_ids[idx] == ids


# Driver-site scores: (doc ids ascending and distinct, float64 scores).
_NO_HITS = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


def _sum_by_doc(ids: np.ndarray, scores: np.ndarray) -> tuple:
    """Per-doc score sums, summed in input order within each doc."""
    if ids.size == 0:
        return _NO_HITS
    order = np.argsort(ids, kind="stable")
    ids, scores = ids[order], scores[order]
    starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
    return ids[starts], np.add.reduceat(scores, starts)


def _top_order(ids: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Positions of the k best (score desc, doc id asc), best first."""
    cand = np.arange(ids.size)
    if k < ids.size:
        kth = np.partition(scores, ids.size - k)[ids.size - k]
        cand = np.flatnonzero(scores >= kth)
    return cand[np.lexsort((ids[cand], -scores[cand]))][:k]


class LRUCache:
    """A fixed-capacity, thread-safe least-recently-used map. The engine's
    plan and expansion caches live as long as the snapshot and are shared
    by every client thread; a stream of novel queries must not grow them
    without bound."""

    def __init__(self, capacity: int):
        self.capacity = capacity
        self._items: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key):
        with self._lock:
            if key not in self._items:
                return None
            self._items.move_to_end(key)
            return self._items[key]

    def __setitem__(self, key, value) -> None:
        with self._lock:
            self._items[key] = value
            self._items.move_to_end(key)
            while len(self._items) > self.capacity:
                self._items.popitem(last=False)

    def __contains__(self, key) -> bool:
        with self._lock:
            return key in self._items

    def __len__(self) -> int:
        with self._lock:
            return len(self._items)

    def clear(self) -> None:
        with self._lock:
            self._items.clear()


@dataclass
class SearchResponse:
    """Shape of docs/rest_api/search_api.md responses."""

    total_hits: int
    documents: list = dc_field(default_factory=list)


class SearchEngine:
    # Preload the (field, term) → (df, bucket) dictionary to the driver when
    # the vocabulary is small enough: term queries then plan with ZERO
    # metadata jobs (one Spark job total). Beyond the cap (huge web-scale
    # vocabularies), planning falls back to batched metadata-only lookups
    # with per-engine caching — still one small job per novel term set.
    MAX_DICT_TERMS = 2_000_000
    # ... and by estimated DRIVER MEMORY, not just row count: a wide
    # web-scale vocabulary of long terms can hit hundreds of MB below the
    # row cap (ADVICE r3). Entries cost ~2 dict slots + tuple + string;
    # ~120 bytes overhead + term bytes is a conservative estimate.
    MAX_DICT_BYTES = 64 * 1024 * 1024
    # Broadcast-join gates for intersection chains: when the accumulated
    # (rarest-first) side's exact df bound fits comfortably in a broadcast,
    # the wider clause streams through a broadcast-hash join instead of
    # shuffling both decoded sides. Score rows are 16 B (≤ ~8 MB at the
    # cap); position rows carry int arrays, so their gate sits lower.
    BROADCAST_DOCS_MAX = 500_000
    BROADCAST_POSITIONS_MAX = 100_000
    # Phrase candidate-filtered decode gate: collect the rare term's doc
    # ids (≤ PHRASE_SEMI_MAX, bounded driver memory) and push them into a
    # wide constituent's decoder only when whole BLOCKS can actually be
    # skipped — candidates are hash-scattered over doc ids, so a block of
    # `block_size` docs is empty of candidates only when
    # rare_df × block_size ≲ wide_df (expected candidates/block < 1);
    # below that ratio the extra job buys nothing (measured: ratio 8 was
    # pure overhead — every block still held a candidate).
    PHRASE_SEMI_MAX = 100_000
    # Above this many preloaded dictionary entries, fuzzy/regex expansion
    # routes to the DISTRIBUTED path even when the dict is driver-resident:
    # a Python loop over millions of cached terms costs seconds of driver
    # CPU per query, while the Spark job scans the same metadata in
    # parallel. (VERDICT r2 "What's wrong" #2.)
    PRELOAD_EXPAND_MAX = 50_000
    # Entries per plan cache (decoded leaf frames, fuzzy/regex
    # neighborhoods): enough for a serving mix's head of the vocabulary,
    # bounded so a stream of one-off queries cannot grow them.
    CACHE_ENTRIES = 512
    # Execution-site gate: a request whose postings bound (module
    # docstring) is below this runs on the driver with no Spark job; at or
    # above it the Spark plan runs. Measured on local[4] webtext builds of
    # 1k-1M docs (CHANGES.md): the driver answered every term, should and
    # phrase request up to 1.3M postings faster, losing only a phrase of
    # the two densest head terms at 2M; memory sets the bound, since such
    # a phrase peaks at about 730 B of numpy per posting on the driver.
    DRIVER_MAX_POSTINGS = 500_000

    def __init__(self, spark: SparkSession, root: str,
                 max_expansions: int = 1024):
        from bayard_spark.analysis.analyzer import build_analyzers
        from bayard_spark.build.segments import TOMBSTONE_BROADCAST_MAX, Snapshot

        self.spark = spark
        self.paths = IndexPaths(root)
        # The snapshot: ONE commit-log read pins the postings, docs,
        # tombstones and stats below to the same version. Opening runs no
        # Spark job and builds no Spark frame — the stats are in the log,
        # the term dictionary is read with pyarrow from the files, and the
        # frames the Spark site reads are built from this snapshot on
        # first use (see `postings`), with no second log read or listing.
        self._snap = snap = Snapshot(self.paths)
        self._io = snap.io
        self.meta = IndexMeta.from_json(snap.io.read_text(self.paths.meta))
        self.analyzers = build_analyzers(self.meta.analyzers)
        self.field_analyzers = {
            f.name: f.analyzer for f in self.meta.fields if f.type == "text"
        }
        # Tombstoned ids are filtered out of every decoded posting stream.
        # BM25 stats refresh only at build/merge time (ROADMAP item 1).
        # The count is metadata-only (parquet footers, zero Spark jobs); it
        # over-counts duplicate tombstones, which only moves the gate
        # below toward the anti-join — the safe direction. Block-max
        # pruning keys on it too: a full block may hold deleted docs.
        self._n_tombstones = snap.tombstone_rows
        # Under TOMBSTONE_BROADCAST_MAX the sorted ids are read to the
        # driver at open: the driver site drops them itself, and the Spark
        # site broadcasts them once per engine (`_dead_ids`) and drops them
        # inside the decoder's own batch loop (no join, no extra job). A
        # web-scale purge above it keeps the shuffle anti-join against
        # `tombstones`, and every request runs on the Spark site.
        self._dead_on_driver = self._n_tombstones <= TOMBSTONE_BROADCAST_MAX
        self._dead_sorted = (
            snap.tombstone_ids() if 0 < self._n_tombstones and
            self._dead_on_driver else np.empty(0, dtype=np.int64)
        )
        # doc-id range of every docs file, from the footers: the winners'
        # stored columns are read on the driver from the files that hold
        # them (see _fetch_stored)
        self._doc_files = snap.doc_files
        self.stats = snap.stats()
        # Doc-count bound for must-join ordering and the site gate (zero
        # Spark jobs): the commit log's high-water doc_id, over-counting
        # deleted docs.
        self._n_docs_estimate = snap.next_doc_id
        # Per-snapshot metadata caches, replaced by the whole dictionary
        # when it is preloaded (_preload_dictionary); bounded otherwise, so
        # a stream of novel terms cannot grow them.
        self._bucket_cache = LRUCache(self.CACHE_ENTRIES)
        self._df_cache = LRUCache(self.CACHE_ENTRIES)
        # Prepared-plan cache for decoded LEAF frames (scan→decode→score),
        # keyed per (field, term, positions?, pruned?). These plans are
        # NARROW (no shuffle boundary), so re-collecting a cached frame
        # re-executes the scan+decode in full — only the driver-side plan
        # construction (py4j + Catalyst analysis, ~100 ms/query measured)
        # is amortized, the way a search server keeps prepared readers
        # open over an immutable index snapshot. Compositions that contain
        # shuffles (boolean joins, should-aggs) are rebuilt per call so no
        # shuffle-stage output is ever silently reused as a cached result.
        self._leaf_cache = LRUCache(self.CACHE_ENTRIES)
        # Expansion-neighborhood cache for fuzzy/regex: the matched
        # {term: df} map is pure index metadata (static per snapshot,
        # like _df_cache), but computing it costs a dictionary-scan
        # Spark job — ~0.3-0.5 s per query at the 960k bench corpus.
        # A server answering repeated patterns over one snapshot must
        # not re-run that job per request (r7; same rationale as the
        # leaf plan cache above).
        self._expansion_cache = LRUCache(self.CACHE_ENTRIES)
        # (live doc ids, values) of the fast fields the driver site sorts
        # by, one entry per field at most
        self._fast_columns = LRUCache(len(self.meta.fields))
        self._dict_complete = False
        self.k1 = self.meta.bm25_k1
        self.b = self.meta.bm25_b
        # Hard cap on fuzzy/regex term expansion (Lucene's maxClauseCount /
        # tantivy's max-expansions analogue): a pathological pattern like
        # '.*' must fail fast instead of collecting the whole term
        # dictionary to the driver.
        self.max_expansions = int(max_expansions)
        # the driver site's block reads reuse this dataset's fragments
        self._postings_ds = snap.postings_dataset()
        self._preload_dictionary(self._postings_ds)

    # ---------- Spark frames, built on first Spark-site use ----------

    @cached_property
    def postings(self) -> DataFrame:
        return self._snap.postings(self.spark)

    @cached_property
    def docs(self) -> DataFrame:
        return self._snap.docs(self.spark)

    @cached_property
    def tombstones(self) -> DataFrame | None:
        """The tombstone frame the Spark site anti-joins, above
        TOMBSTONE_BROADCAST_MAX only."""
        return None if self._dead_on_driver else self._snap.tombstones(self.spark)

    @cached_property
    def _dead_ids(self):
        """`_dead_sorted` broadcast to the Spark site's decoders, or None
        when there is nothing to drop there."""
        if not self._dead_sorted.size:
            return None
        return self.spark.sparkContext.broadcast(self._dead_sorted)

    def _preload_dictionary(self, dataset) -> None:
        """(field, term) → (df, bucket) from the `term` and `n_docs`
        columns of the snapshot's postings files (`dataset`) and their
        (field, bucket) directories, read with pyarrow. The term cap is
        checked before the terms are read, the byte cap on the aggregated
        Arrow table before any Python object is built. A preloaded
        dictionary replaces the bounded lazy caches with plain maps that
        hold every term."""
        # Every run of a term's blocks (one per wave and salt) starts at
        # block 0, so the block-0 count bounds the distinct (field, term)
        # pairs from one int column. Only an index over that bound pays a
        # Spark job for the exact count.
        if (
            dataset.count_rows(filter=pc.field("block_id") == 0)
            > self.MAX_DICT_TERMS
            and self.postings.select("field", "term").distinct()
            .limit(self.MAX_DICT_TERMS + 1).count() > self.MAX_DICT_TERMS
        ):
            return  # vocabulary too large for the driver; use lazy lookups
        agg = (
            dataset.to_table(columns=["field", "bucket", "term", "n_docs"])
            .group_by(["field", "term"])
            .aggregate([("n_docs", "sum"), ("bucket", "min")])
        )
        est_bytes = 120 * agg.num_rows + (
            pc.sum(pc.binary_length(agg["term"])).as_py() or 0
        )
        if est_bytes > self.MAX_DICT_BYTES:
            import logging

            logging.getLogger(__name__).info(
                "dictionary preload skipped: %d terms ≈ %.1f MB over the "
                "%d MB cap; falling back to lazy metadata lookups",
                agg.num_rows, est_bytes / 1e6, self.MAX_DICT_BYTES >> 20,
            )
            return
        fields, terms = agg["field"].to_pylist(), agg["term"].to_pylist()
        self._df_cache = {
            (f, t): int(df) for f, t, df in zip(
                fields, terms, agg["n_docs_sum"].to_pylist()
            )
        }
        self._bucket_cache = dict(zip(terms, agg["bucket_min"].to_pylist()))
        self._dict_complete = True

    # ---------- helpers ----------

    def _buckets(self, terms: list[str]) -> dict[str, int]:
        """term → bucket, the build's `pmod(xxhash64(term), num_buckets)`;
        uncached terms are hashed on the driver (no Spark job). The values
        computed here are returned directly, since a bounded cache may
        already have evicted them."""
        out = {t: self._bucket_cache.get(t) for t in set(terms)}
        missing = [t for t, b in out.items() if b is None]
        if missing:
            hashed = hash_buckets(
                pa.array(missing, type=pa.string()), self.meta.num_buckets
            )
            for t, b in zip(missing, hashed.tolist()):
                out[t] = self._bucket_cache[t] = b
        return out

    def _leaf_blocks(self, fld: str, term: str) -> DataFrame:
        b = self._buckets([term])[term]
        return self.postings.filter(
            (F.col("field") == fld)
            & (F.col("bucket") == b)
            & (F.col("term") == term)
        )

    def _df_of(self, fld: str, term: str) -> int:
        """Exact document frequency from block metadata (no payload read)."""
        return self._df_of_many(fld, [term]).get(term, 0)

    def _df_of_many(self, fld: str, terms: list[str]) -> dict[str, int]:
        """Batched df lookup: one metadata-only job for all uncached leaf
        terms (df is static per index snapshot, so cache per engine)."""
        uniq = sorted(set(terms))
        if self._dict_complete:
            return {t: self._df_cache.get((fld, t), 0) for t in uniq}
        out = {t: self._df_cache.get((fld, t)) for t in uniq}
        missing = [t for t, df in out.items() if df is None]
        if missing:
            buckets = self._buckets(missing)
            rows = (
                self.postings.filter(
                    (F.col("field") == fld)
                    & F.col("bucket").isin(sorted(set(buckets.values())))
                    & F.col("term").isin(missing)
                )
                .groupBy("term")
                .agg(F.sum("n_docs").alias("df"))
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                out[t] = self._df_cache[(fld, t)] = found.get(t, 0)
        return out

    def idf(self, fld: str, df: int) -> float:
        n = self.stats[fld]["n_docs"]
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    # Posting-count hint above which the block frame is repartitioned
    # before decode. A single term's blocks live in ONE bucket file, so
    # without this the whole posting list decodes on ONE task no matter
    # how many executors the cluster has (measured: 960k postings = 7508
    # blocks on one core, ~2 s; the repartition shuffles only the block
    # payload bytes — ~3.5 MB per million postings — and spreads decode
    # across the cluster, which is the only plan that works when a hot
    # term's list is billions of postings at 100 TB).
    DECODE_PARALLEL_MIN_DOCS = 131_072
    # Target postings per decode task: small enough to use the cluster,
    # large enough that per-task overhead stays <10% of decode work.
    DECODE_DOCS_PER_TASK = 32_768

    def _decode(
        self,
        blocks: DataFrame,
        want_positions: bool,
        candidate_ids=None,
        n_docs_hint: int | None = None,
    ) -> DataFrame:
        """Decode block payloads → (term, doc_id, tf, len[, positions]).

        candidate_ids (sorted int64 np.ndarray, broadcast by closure):
        semi-join pushed INTO the decoder — doc ids decode first (cheap),
        and a block with no candidate skips its positions varint decode and
        per-row list construction entirely; surviving blocks emit only
        candidate rows. This is how a phrase with one rare and one huge
        term avoids materializing the huge term's positions at 100 TB
        (tantivy's doc-at-a-time intersection restated block-at-a-time).

        n_docs_hint (an upper bound on the decoded posting count, from the
        dictionary's df — no extra job): above DECODE_PARALLEL_MIN_DOCS the
        block frame is round-robin repartitioned so decode parallelizes
        across the cluster instead of running on the one task that scans
        the term's bucket file.

        Tombstoned doc ids (the engine's broadcast, under
        TOMBSTONE_BROADCAST_MAX) drop in the same batch loop, with the same
        sorted-array membership test as the candidates; above the cap the
        decoded stream is anti-joined instead.
        """

        lossy = self.meta.lossy_fieldnorms
        cand_bc = (
            self.spark.sparkContext.broadcast(
                np.asarray(candidate_ids, dtype=np.int64)
            )
            if candidate_ids is not None
            else None
        )
        dead_bc = self._dead_ids

        def run(batches):
            # Arrow-native: each input batch decodes in whole-batch numpy
            # passes and leaves as ONE RecordBatch, the positions a
            # ListArray over the codec's own offsets — no per-block or
            # per-row Python.
            import pyarrow as pa

            from bayard_spark.fieldnorm import quantize

            cand = cand_bc.value if cand_bc is not None else None
            if cand is not None and len(cand) == 0:
                # provably-empty intersection (e.g. every doc holding the
                # rare term was tombstoned): emit nothing rather than index
                # into an empty candidate array below (ADVICE r4)
                return
            dead = dead_bc.value if dead_bc is not None else None

            def member(sorted_ids, doc_ids):
                return _sorted_member(sorted_ids, doc_ids.astype(np.int64))

            for rb in batches:
                if cand is not None and rb.num_rows:
                    # doc ids first (doc-ids-only decode): a block holding
                    # no candidate is dropped before anything else decodes
                    dec = decode_blocks(rb.column(1))
                    hit = np.zeros(rb.num_rows, dtype=bool)
                    hit[np.repeat(np.arange(rb.num_rows), dec.counts)[
                        member(cand, dec.doc_ids)
                    ]] = True
                    rb = rb.filter(pa.array(hit))
                if rb.num_rows == 0:
                    continue
                dec = decode_blocks(
                    *rb.columns[1:4],
                    rb.column(4) if want_positions else None,
                )
                n = dec.doc_ids.size
                lens = quantize(dec.lens) if lossy else dec.lens
                # the term column repeats one value per block: dictionary
                # codes, cast to plain string by a C++ take (VERDICT r4)
                term_arr = pa.DictionaryArray.from_arrays(
                    pa.array(
                        np.repeat(
                            np.arange(rb.num_rows, dtype=np.int32), dec.counts
                        ),
                        type=pa.int32(),
                    ),
                    rb.column(0),
                ).cast(pa.string())
                if want_positions:
                    pos_arr = pa.ListArray.from_arrays(
                        pa.array(dec.pos_offsets, type=pa.int32()),
                        pa.array(dec.positions.astype(np.int32)),
                    )
                else:
                    pos_arr = pa.nulls(n, type=pa.list_(pa.int32()))
                out = pa.RecordBatch.from_arrays(
                    [
                        term_arr,
                        pa.array(dec.doc_ids.astype(np.int64)),
                        pa.array(dec.tfs.astype(np.float64)),
                        pa.array(lens.astype(np.float64)),
                        pos_arr,
                    ],
                    names=["term", "doc_id", "tf", "len", "positions"],
                )
                keep = None
                if cand is not None:
                    keep = member(cand, dec.doc_ids)
                if dead is not None:
                    live = ~member(dead, dec.doc_ids)
                    keep = live if keep is None else keep & live
                if keep is not None:
                    out = out.filter(pa.array(keep))
                yield out

        cols = ["term", "doc_bytes", "tf_bytes", "len_bytes"] + (
            ["pos_bytes"] if want_positions else []
        )
        payload = blocks.select(*cols)
        if (
            n_docs_hint is not None
            and n_docs_hint >= self.DECODE_PARALLEL_MIN_DOCS
        ):
            target = int(
                min(
                    self.spark.sparkContext.defaultParallelism,
                    max(2, n_docs_hint // self.DECODE_DOCS_PER_TASK),
                )
            )
            payload = payload.repartition(target)
        decoded = payload.mapInArrow(run, DECODED_SCHEMA)
        if self.tombstones is not None:
            decoded = decoded.join(self.tombstones, "doc_id", "left_anti")
        return decoded

    def _score_expr(self, idf, avg_len: float):
        """BM25 score expression; `idf` may be a float literal (driver-
        computed math.log for exact oracle parity) or a Column (per-term idf
        joined in for multi-term fuzzy/regex plans)."""
        k1, b = self.k1, self.b
        tf, ln = F.col("tf"), F.col("len")
        denom = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * ln / F.lit(avg_len)
        )
        idf_col = F.lit(idf) if isinstance(idf, float) else idf
        return idf_col * (tf * F.lit(k1 + 1.0)) / denom

    # ---------- leaf scorers → DataFrame(doc_id, score) ----------

    def _term_scores(
        self,
        fld: str,
        term: str,
        topk_prune: int | None = None,
        df_count: int | None = None,
    ) -> DataFrame:
        if df_count is None:
            df_count = self._df_of(fld, term)
        if df_count == 0:
            return self._empty_scores()
        idf = self.idf(fld, df_count)
        avg = self.stats[fld]["avg_len"]
        # block-max pruning pays one extra metadata job for τ — only worth
        # it when there are enough blocks to prune (short posting lists
        # decode faster than the τ job runs). Pruning is DISABLED whenever
        # tombstones exist: τ comes from build-time block metadata, and a
        # "full" block may hold deleted docs, so its lb is not guaranteed by
        # k live docs (the bound would silently drop true top-k results).
        # ... and disabled under lossy fieldnorms: quantized lengths can only
        # RAISE scores above the raw-metadata upper bound, so τ from raw
        # min/max_len columns would prune true hits.
        pruned = (
            topk_prune is not None
            and topk_prune <= self.meta.block_size
            and df_count > 8 * self.meta.block_size
            and self._n_tombstones == 0
            and not self.meta.lossy_fieldnorms
        )
        key = ("term", fld, term, pruned)
        cached = self._leaf_cache.get(key)
        if cached is None:
            blocks = self._leaf_blocks(fld, term)
            if pruned:
                blocks = self._prune_blocks(blocks, idf, avg)
            cached = (
                self._decode(
                    blocks, want_positions=False, n_docs_hint=df_count
                )
                .withColumn("score", self._score_expr(idf, avg))
                .select("doc_id", "score")
            )
            self._leaf_cache[key] = cached
        return cached

    def _prune_blocks(self, blocks: DataFrame, idf: float, avg: float) -> DataFrame:
        """Metadata-only block-max pruning for top-k ≤ block_size.

        ub = best possible score in block (max_tf, min_len);
        lb = guaranteed score floor   (min_tf, max_len).
        Any FULL block's lb is achieved by all its n_docs ≥ k docs, so
        τ = max(lb over full blocks) is a sound threshold: prune ub < τ.
        """
        k1, b = self.k1, self.b

        def bound(tf_col: str, len_col: str):
            tf = F.col(tf_col).cast("double")
            ln = F.col(len_col).cast("double")
            denom = tf + F.lit(k1) * (
                F.lit(1.0) - F.lit(b) + F.lit(b) * ln / F.lit(avg)
            )
            return F.lit(idf) * (tf * F.lit(k1 + 1.0)) / denom

        # τ rides the SAME plan as the decode: the full-blocks lower-bound
        # max becomes a 1-row broadcast joined onto the block stream, so no
        # synchronous driver collect happens per query (the old tau collect
        # added a sequential ~0.15 s job to every pruned term query at
        # bench scale). The τ branch reads only the metadata columns
        # (column pruning keeps the payload bytes out of that scan).
        meta_cols = blocks.withColumn("_ub", bound("max_tf", "min_len"))
        tau_df = (
            blocks.withColumn("_lb", bound("min_tf", "max_len"))
            .filter(F.col("n_docs") == self.meta.block_size)
            .agg(F.max("_lb").alias("_tau"))
        )
        return (
            meta_cols.join(F.broadcast(tau_df))
            .filter(F.col("_tau").isNull() | (F.col("_ub") >= F.col("_tau")))
            .drop("_ub", "_tau")
        )

    def _check_phrase(self, fld: str, phrase_terms: list[str]) -> None:
        if len(phrase_terms) < 2:
            raise ValueError("phrase requires >= 2 terms")
        # the reference rejects phrase queries on position-less fields with a
        # clear error (tantivy: "field does not have positions indexed");
        # without this, decode yields positions=None and the matcher dies
        # with an opaque executor TypeError.
        if self.meta.field_def(fld).record != "position":
            raise ValueError(
                f"field {fld!r} does not record positions "
                "(phrase queries require record='position')"
            )

    def _phrase_scores(
        self, fld: str, phrase_terms: list[str], slop: int = 0
    ) -> DataFrame:
        self._check_phrase(fld, phrase_terms)
        df_map = self._df_of_many(fld, phrase_terms)
        dfs = [df_map.get(t, 0) for t in phrase_terms]
        if any(d == 0 for d in dfs):
            return self._empty_scores()
        sum_idf = sum(self.idf(fld, d) for d in dfs)
        avg = self.stats[fld]["avg_len"]
        uniq = list(dict.fromkeys(phrase_terms))
        name_of = {t: f"p{phrase_terms.index(t)}" for t in uniq}
        # rarest-first intersection ordering
        order_terms = sorted(uniq, key=lambda t: df_map[t])
        # Candidate-filtered decode: when one constituent is rare and
        # another is huge, collect the rare term's bounded doc-id set once
        # and push it INTO the wide terms' decoders — blocks with no
        # candidate skip their positions varint decode and row
        # materialization, so a phrase like ["the", <rare>] never
        # manifests the head term's positions (the 100-TB plan; at equal
        # sizes the extra job isn't worth it and the gate stays closed).
        rare_df = df_map[order_terms[0]]
        wide_df = df_map[order_terms[-1]]
        semi_ratio = getattr(
            self, "PHRASE_SEMI_RATIO", self.meta.block_size
        )
        candidates = None
        if (
            rare_df <= self.PHRASE_SEMI_MAX
            and wide_df >= semi_ratio * rare_df
        ):
            rows = (
                self._decode(
                    self._leaf_blocks(fld, order_terms[0]),
                    want_positions=False,
                    n_docs_hint=rare_df,
                )
                .select("doc_id")
                .collect()
            )
            candidates = np.sort(
                np.array([r["doc_id"] for r in rows], dtype=np.int64)
            )
            if len(candidates) == 0:
                # the rare term's live posting set is empty (every holder
                # tombstoned) — the intersection is provably empty; don't
                # hand an empty candidate array to the decoders (ADVICE r4)
                return self._empty_scores()
        joined = None
        for j, t in enumerate(order_terms):
            semi = (
                candidates is not None
                and df_map[t] >= semi_ratio * rare_df
            )
            if semi:
                base_t = self._decode(
                    self._leaf_blocks(fld, t),
                    want_positions=True,
                    candidate_ids=candidates,
                    n_docs_hint=df_map[t],
                ).select("doc_id", "positions", "len")
            else:
                key = ("pos", fld, t)
                base_t = self._leaf_cache.get(key)
                if base_t is None:
                    base_t = self._decode(
                        self._leaf_blocks(fld, t),
                        want_positions=True,
                        n_docs_hint=df_map[t],
                    ).select("doc_id", "positions", "len")
                    self._leaf_cache[key] = base_t
            f_t = base_t.select(
                "doc_id",
                F.col("positions").alias(name_of[t]),
                *([F.col("len")] if j == 0 else []),
            )
            if joined is None:
                joined = f_t
            elif df_map[order_terms[0]] <= self.BROADCAST_POSITIONS_MAX:
                # accumulated side ≤ rarest term's df rows; position arrays
                # make rows fatter than plain scores, so the broadcast gate
                # sits lower — beyond it, shuffle-join as before
                joined = f_t.join(F.broadcast(joined), "doc_id")
            else:
                joined = joined.join(f_t, "doc_id")
        # duplicate terms in the phrase reuse the same positions column
        pos_cols = [name_of[t] for t in phrase_terms]

        def count_matches(
            batches: Iterator[pa.RecordBatch],
        ) -> Iterator[pa.RecordBatch]:
            for rb in batches:
                counts = phrase_match_counts(
                    [rb.column(c) for c in pos_cols], slop
                )
                yield pa.RecordBatch.from_arrays(
                    [rb.column("doc_id"), pa.array(counts), rb.column("len")],
                    names=["doc_id", "tf", "len"],
                )

        matched = joined.mapInArrow(
            count_matches, "doc_id long, tf double, len double"
        ).filter(F.col("tf") > 0)
        return matched.withColumn(
            "score", self._score_expr(sum_idf, avg)
        ).select("doc_id", "score")

    def _term_dictionary(self, fld: str) -> DataFrame:
        """Distinct (term, df) for a field — a metadata-only scan (parquet
        reads just the term/n_docs columns; the binary payloads are pruned)."""
        return (
            self.postings.filter(F.col("field") == fld)
            .groupBy("term")
            .agg(F.sum("n_docs").alias("df"))
        )

    def _expand_fuzzy(
        self,
        fld: str,
        term: str,
        distance: int,
        transposition: bool,
        prefix: bool,
    ) -> dict[str, int]:
        """Fuzzy term-dictionary expansion as a Spark job → {term: df}.

        Plain Levenshtein runs fully JVM-side (F.levenshtein with the
        early-exit threshold argument). Damerau / prefix variants run in a
        vectorized pandas UDF over the dictionary AFTER a JVM length
        prefilter (any term shorter than len(q)-d can't match; non-prefix
        also bounds above). The driver never sees the dictionary — only the
        matched neighborhood (≤ max_expansions, errored beyond). The
        neighborhood is cached per engine snapshot (static metadata).
        """
        ckey = ("fuzzy", fld, term, distance, transposition, prefix)
        cached = self._expansion_cache.get(ckey)
        if cached is not None:
            return dict(cached)
        out = self._expand_fuzzy_uncached(
            fld, term, distance, transposition, prefix
        )
        self._expansion_cache[ckey] = dict(out)
        return out

    def _expand_fuzzy_uncached(
        self,
        fld: str,
        term: str,
        distance: int,
        transposition: bool,
        prefix: bool,
    ) -> dict[str, int]:
        if self._dict_complete and len(self._df_cache) <= self.PRELOAD_EXPAND_MAX:
            from bayard_spark.oracle.engine import (
                levenshtein,
                prefix_edit_distance,
            )

            out = {}
            for (f, t), df in self._df_cache.items():
                if f != fld or df <= 0:
                    continue
                d = (
                    prefix_edit_distance(term, t, transposition)
                    if prefix
                    else levenshtein(term, t, transposition)
                )
                if d <= distance:
                    out[t] = df
            self._check_expansion_size(len(out), f"fuzzy {term!r}")
            return out
        dic = self._term_dictionary(fld)
        qlen = len(term)
        dic = dic.filter(F.length("term") >= F.lit(qlen - distance))
        if not prefix:
            dic = dic.filter(F.length("term") <= F.lit(qlen + distance))
        if not transposition and not prefix:
            matched = dic.filter(
                F.levenshtein(F.lit(term), F.col("term"), distance) >= 0
            )
        else:
            from pyspark.sql.functions import pandas_udf

            @pandas_udf("boolean")
            def matches(terms: pd.Series) -> pd.Series:
                from bayard_spark.oracle.engine import (
                    levenshtein,
                    prefix_edit_distance,
                )

                fn = (
                    (lambda t: prefix_edit_distance(term, t, transposition))
                    if prefix
                    else (lambda t: levenshtein(term, t, transposition))
                )
                return terms.map(lambda t: fn(t) <= distance)

            matched = dic.filter(matches(F.col("term")))
        return self._collect_expansion(matched, f"fuzzy {term!r}")

    # regex metacharacters; a literal char FOLLOWED by one of the
    # quantifiers is also not part of the mandatory prefix
    _RX_META = set(r"\.^$*+?()[]{}|")
    _RX_QUANT = set("*+?{")

    @classmethod
    def _regex_literal_prefix(cls, pattern: str) -> str:
        """Longest literal prefix every FULLMATCH of `pattern` must start
        with (the tantivy FST-range trick, regex.rs:12-25): walk until the
        first metacharacter, and drop the last literal if a quantifier
        follows it (in 'jo*' only 'j' is mandatory). Conservative — any
        uncertainty yields the shorter (always-safe) prefix."""
        if "|" in pattern:
            # a TOP-LEVEL alternation voids any mandatory prefix ('jo|x'
            # fullmatches 'x'); detecting nesting isn't worth the risk —
            # no prefix is always safe
            return ""
        out = []
        for i, ch in enumerate(pattern):
            if ch in cls._RX_META:
                break
            if i + 1 < len(pattern) and pattern[i + 1] in cls._RX_QUANT:
                break
            out.append(ch)
        return "".join(out)

    @classmethod
    def _regex_required_literals(cls, pattern: str) -> list[str]:
        """Literal substrings every FULLMATCH of `pattern` must contain —
        the dictionary-pruning trick for patterns with NO mandatory
        prefix ('.*journal[0-9]+' must contain 'journal'). Conservative
        scanner over the raw pattern: only depth-0 literal runs count
        (anything inside (...) may be optional via a group quantifier,
        so groups are opaque), a '|' at depth 0 or any inline-flag group
        voids everything, '*'/'?'/'{' drop the preceding literal from
        its run, '+' keeps it (the atom still occurs at least once).
        False positives only cost a wasted verify; the rules above make
        false negatives impossible."""
        if "(?" in pattern:
            # inline flags ((?i) etc.) can change literal semantics
            return []
        runs: list[str] = []
        cur: list[str] = []
        i, n = 0, len(pattern)
        depth = 0

        def flush():
            if cur:
                runs.append("".join(cur))
                cur.clear()

        def skip_class(j: int) -> int:
            """Index just past the ']' closing the class opened at j
            (pattern[j] == '['); ']' is literal when first (after '^')."""
            j += 1
            if j < n and pattern[j] == "^":
                j += 1
            if j < n and pattern[j] == "]":
                j += 1
            while j < n and pattern[j] != "]":
                if pattern[j] == "\\":
                    j += 1
                j += 1
            return j + 1

        while i < n:
            ch = pattern[i]
            if depth > 0:
                # opaque group content: only track nesting, escapes and
                # classes — a '(' or ')' INSIDE a class is a literal and
                # must not move the depth (a class-in-group pattern like
                # '(a[)]b)?x' would otherwise corrupt the walk and emit
                # literals that are not required at all)
                if ch == "\\":
                    i += 2
                    continue
                if ch == "[":
                    i = skip_class(i)
                    continue
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                i += 1
                continue
            if ch == "\\":
                if i + 1 >= n:
                    break
                esc = pattern[i + 1]
                if esc.isalnum():
                    # \d \w \b \1 ... — an opaque atom (or anchor/backref)
                    flush()
                    i += 2
                    continue
                nxt = pattern[i + 2] if i + 2 < n else ""
                if nxt and nxt in "*?{":
                    flush()
                elif nxt == "+":
                    cur.append(esc)
                    flush()
                else:
                    cur.append(esc)
                i += 2
                continue
            if ch == "(":
                flush()
                depth += 1
                i += 1
                continue
            if ch == "[":
                flush()
                i = skip_class(i)
                continue
            if ch == "|":
                # depth-0 alternation: either side can match alone, so
                # nothing is required (group-nested '|' is fine — groups
                # are opaque)
                return []
            if ch in ".^$":
                flush()
                i += 1
                continue
            if ch in "*?+{":
                # quantifier whose atom was already handled/flushed; a
                # '{m,n}' body must be skipped whole so its digits are
                # never mistaken for literals
                if ch == "{":
                    j = pattern.find("}", i + 1)
                    i = (j + 1) if j != -1 else n
                else:
                    i += 1
                continue
            nxt = pattern[i + 1] if i + 1 < n else ""
            if nxt and nxt in "*?{":
                flush()  # this literal is optional/repeat-from-0
            elif nxt == "+":
                cur.append(ch)
                flush()  # required once, but the run ends at the +
            else:
                cur.append(ch)
            i += 1
        flush()
        return [r for r in runs if r]

    def _expand_regex(self, fld: str, pattern: str) -> dict[str, int]:
        """Regex term-dictionary expansion as a Spark job → {term: df}.
        Python-regex FULLMATCH semantics (= oracle, regex.rs:12-25) via
        pandas' vectorized str.fullmatch — NOT Java rlike, whose dialect
        differs (e.g. possessive quantifiers, \\p classes). The pattern's
        mandatory literal prefix prunes the dictionary scan JVM-side
        (StartsWith pushes into the parquet scan), and patterns with no
        prefix prune with their longest REQUIRED literal substring
        (Contains, also pushed) before the Python fullmatch verifies —
        at a web-scale vocabulary the UDF sees the pruned neighborhood,
        not 10^8 terms. The matched neighborhood is cached per engine
        snapshot (static metadata)."""
        ckey = ("regex", fld, pattern)
        cached = self._expansion_cache.get(ckey)
        if cached is not None:
            return dict(cached)
        out = self._expand_regex_uncached(fld, pattern)
        self._expansion_cache[ckey] = dict(out)
        return out

    def _expand_regex_uncached(self, fld: str, pattern: str) -> dict[str, int]:
        prefix = self._regex_literal_prefix(pattern)
        # longest required literals not already implied by the prefix
        # filter — the JVM-side prefilter for prefix-less patterns
        # ('.*journal.*' prunes the dictionary with contains('journal')
        # before any Python runs); two filters bound the plan size
        req = sorted(
            (
                r
                for r in self._regex_required_literals(pattern)
                if r not in prefix
            ),
            key=len,
            reverse=True,
        )[:2]
        if self._dict_complete and len(self._df_cache) <= self.PRELOAD_EXPAND_MAX:
            import re as _re

            rx = _re.compile(pattern)
            out = {
                t: df
                for (f, t), df in self._df_cache.items()
                if f == fld
                and df > 0
                and t.startswith(prefix)
                and all(r in t for r in req)
                and rx.fullmatch(t)
            }
            self._check_expansion_size(len(out), f"regex {pattern!r}")
            return out
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("boolean")
        def matches(terms: pd.Series) -> pd.Series:
            return terms.str.fullmatch(pattern).fillna(False)

        dic = self._term_dictionary(fld)
        if prefix:
            dic = dic.filter(F.col("term").startswith(prefix))
        for r in req:
            dic = dic.filter(F.col("term").contains(r))
        matched = dic.filter(matches(F.col("term")))
        return self._collect_expansion(matched, f"regex {pattern!r}")

    def _check_expansion_size(self, n: int, what: str) -> None:
        if n > self.max_expansions:
            raise ValueError(
                f"{what} expands to {n} terms, over max_expansions="
                f"{self.max_expansions}; narrow the pattern or raise the cap"
            )

    def _collect_expansion(self, matched: DataFrame, what: str) -> dict[str, int]:
        """Bounded driver materialization of an expansion neighborhood:
        collect at most max_expansions+1 rows (the +1 detects overflow) so a
        pathological pattern never pulls the full dictionary to the driver."""
        rows = matched.limit(self.max_expansions + 1).collect()
        self._check_expansion_size(len(rows), what)
        return {r["term"]: int(r["df"]) for r in rows}

    def _multi_term_scores(self, fld: str, term_dfs: dict[str, int]) -> DataFrame:
        """Sum of per-term BM25 over a term set (fuzzy/regex expansions, and
        a `should` of plain terms on one field): see _multi_term_rows."""
        rows = self._multi_term_rows(fld, term_dfs)
        if sum(d > 0 for d in term_dfs.values()) < 2:
            return rows
        return rows.groupBy("doc_id").agg(F.sum("score").alias("score"))

    def _multi_term_rows(self, fld: str, term_dfs: dict[str, int]) -> DataFrame:
        """(doc_id, score) per matching (term, doc) of a term set, before
        the per-doc sum.

        ONE decode pass over all the terms' blocks; per-term idf values
        are driver-computed (math.log — exact float parity with the oracle)
        and attached as a CASE chain (or a broadcast join for large sets).
        """
        terms = sorted(t for t, d in term_dfs.items() if d > 0)
        if not terms:
            return self._empty_scores()
        if not self._dict_complete:  # warm the lazy df cache for later queries
            for t in terms:
                self._df_cache[(fld, t)] = term_dfs[t]
        if len(terms) == 1:
            return self._term_scores(fld, terms[0], df_count=term_dfs[terms[0]])
        avg = self.stats[fld]["avg_len"]
        key = ("multi", fld, tuple(terms))
        scored = self._leaf_cache.get(key)
        if scored is None:
            buckets = self._buckets(terms)
            blocks = self.postings.filter(
                (F.col("field") == fld)
                & F.col("bucket").isin(sorted(set(buckets.values())))
                & F.col("term").isin(terms)
            )
            decoded = self._decode(
                blocks,
                want_positions=False,
                n_docs_hint=sum(term_dfs[t] for t in terms),
            )
            if len(terms) <= 64:
                # small neighborhoods: per-term idf as a codegen CASE chain
                # — no extra DataFrame, no broadcast exchange
                idf_col = F.lit(None).cast("double")
                for t in terms:
                    idf_col = F.when(
                        F.col("term") == t, F.lit(self.idf(fld, term_dfs[t]))
                    ).otherwise(idf_col)
                scored = decoded.withColumn(
                    "score", self._score_expr(idf_col, avg)
                )
            else:
                idf_map = self.spark.createDataFrame(
                    [(t, self.idf(fld, term_dfs[t])) for t in terms],
                    "term string, _idf double",
                )
                scored = decoded.join(F.broadcast(idf_map), "term").withColumn(
                    "score", self._score_expr(F.col("_idf"), avg)
                )
            scored = scored.select("doc_id", "score")
            self._leaf_cache[key] = scored
        return scored

    def _empty_scores(self) -> DataFrame:
        return self.spark.createDataFrame([], "doc_id long, score double")

    def _all_scores(self) -> DataFrame:
        return self.docs.select("doc_id", F.lit(1.0).alias("score"))

    def _range_bounds(self, fld: str, start, end) -> tuple:
        # half-open [start, end), constant score (range.rs:52-107;
        # docs/query_dsl.md:171-188). Date fields error, as in range.rs:101.
        fdef = self.meta.field_def(fld)
        if fdef.type == "date":
            raise ValueError("Unsupported field type")  # range.rs:101-107
        if fdef.type == "u64":
            # u64 covers 0..2^64-1 (docs/schema.md:22); LongType tops out at
            # 2^63-1, so u64 fast fields live as Decimal(20,0) and range
            # bounds are compared as decimals — exact at the type boundary.
            from decimal import Decimal

            start, end = Decimal(int(start)), Decimal(int(end))
        return start, end

    def _range_scores(self, fld: str, start, end) -> DataFrame:
        start, end = self._range_bounds(fld, start, end)
        return self.docs.filter(
            (F.col(fld) >= F.lit(start)) & (F.col(fld) < F.lit(end))
        ).select("doc_id", F.lit(1.0).alias("score"))

    # ---------- composition ----------

    def _parse(self, opts: dict) -> dict:
        return parse_query_string(
            opts["query"],
            opts["default_search_fields"],
            self.analyzers,
            self.field_analyzers,
        )

    def _expansion(self, kind: str, opts: dict) -> dict[str, int]:
        """{term: df} a fuzzy_term or regex query expands to (cached)."""
        if kind == "regex":
            return self._expand_regex(opts["field"], opts["regex"])
        return self._expand_fuzzy(
            opts["field"],
            opts["term"],
            opts.get("distance", 1),
            opts.get("transposition_cost_one", False),
            opts.get("prefix", False),
        )

    def scores(self, query: dict, topk_hint: int | None = None) -> DataFrame:
        """The Spark site's plan: a (doc_id, score) frame of the matches."""
        kind = query["kind"]
        opts = query.get("options", {})
        if kind == "all":
            return self._all_scores()
        if kind == "term":
            return self._term_scores(
                opts["field"], opts["term"], topk_prune=topk_hint
            )
        if kind == "phrase":
            return self._phrase_scores(
                opts["field"], opts["phrase_terms"], opts.get("slop", 0)
            )
        if kind == "range":
            return self._range_scores(opts["field"], opts["start"], opts["end"])
        if kind == "boost":
            inner = self.scores(opts["query"], topk_hint=topk_hint)
            return inner.withColumn(
                "score", F.col("score") * F.lit(float(opts["boost"]))
            )
        if kind in ("fuzzy_term", "regex"):
            return self._multi_term_scores(
                opts["field"], self._expansion(kind, opts)
            )
        if kind == "boolean":
            return self._boolean_scores(opts.get("subqueries", []))
        if kind == "query_string":
            return self.scores(self._parse(opts), topk_hint=topk_hint)
        raise ValueError(f"unknown query kind {kind!r}")

    def _df_estimate(self, query: dict) -> int:
        """Cardinality estimate for must-join ordering: the candidate upper
        bound, with no cheap bound estimating 'large' so it joins last."""
        est = self._cand_upper_estimate(query)
        return 1 << 62 if est is None else est

    def _cand_upper_estimate(self, query: dict) -> int | None:
        """Upper bound on the candidate (matching-doc) count of a query, from
        dictionary metadata only — None when no sound bound is cheap (fuzzy/
        regex before expansion, range)."""
        kind = query["kind"]
        opts = query.get("options", {})
        try:
            if kind == "term":
                return self._df_of(opts["field"], opts["term"])
            if kind == "phrase":
                dfm = self._df_of_many(opts["field"], opts["phrase_terms"])
                return min(dfm.values()) if dfm else 0
            if kind == "boost":
                return self._cand_upper_estimate(opts["query"])
            if kind == "all":
                return self._n_docs_estimate
            if kind == "boolean":
                subs = opts.get("subqueries", [])
                musts = [
                    self._cand_upper_estimate(s["query"])
                    for s in subs
                    if s["occurrence"] == "must"
                ]
                musts = [m for m in musts if m is not None]
                if musts:
                    return min(musts)  # must_nots only shrink the set
                shoulds = [
                    self._cand_upper_estimate(s["query"])
                    for s in subs
                    if s["occurrence"] == "should"
                ]
                if shoulds and all(s is not None for s in shoulds):
                    return sum(shoulds)
                return None
            if kind == "query_string":
                return self._cand_upper_estimate(self._parse(opts))
        except Exception:
            return None
        return None

    @staticmethod
    def _clauses(subqueries: list[dict]) -> tuple[list, list, list]:
        """(must, should, must_not) sub-queries, each in clause order."""
        out: dict[str, list] = {"must": [], "should": [], "must_not": []}
        for sq in subqueries:
            out[sq["occurrence"]].append(sq["query"])
        return out["must"], out["should"], out["must_not"]

    @staticmethod
    def _should_groups(shoulds: list[dict]) -> tuple[dict, list[dict]]:
        """({field: [term, ...]}, other clauses) of a should: plain term
        clauses on one field share ONE decode of all their blocks (a url
        lookup is a should of url terms); every other clause, and a
        repeated term, keeps its own."""
        by_field: dict[str, list[str]] = {}
        rest = []
        for q in shoulds:
            if q["kind"] == "term":
                terms = by_field.setdefault(q["options"]["field"], [])
                if q["options"]["term"] not in terms:
                    terms.append(q["options"]["term"])
                    continue
            rest.append(q)
        return by_field, rest

    def _boolean_scores(self, subqueries: list[dict]) -> DataFrame:
        musts, shoulds, must_nots = self._clauses(subqueries)
        if musts:
            # rarest-df-first intersection ordering (classic IR; SURVEY §4):
            # the smallest posting list anchors the join chain so later joins
            # see pre-shrunk inputs. The score SUM stays in CLAUSE order
            # (column _m<i> per original ordinal) for float parity with the
            # oracle — join order and sum order are independent.
            join_order = sorted(
                range(len(musts)),
                key=lambda j: self._df_estimate(musts[j]),
            )
            base = None
            est = 1 << 62
            for j in join_order:
                q = musts[j]
                m = self.scores(q).withColumnRenamed("score", f"_m{j}")
                if base is None:
                    base = m
                elif est <= self.BROADCAST_DOCS_MAX:
                    # the accumulated side is bounded by the rarest clause's
                    # exact df (block metadata) — broadcast it so the wider
                    # clause STREAMS through a broadcast-hash join instead
                    # of shuffling both decoded sides (at 16 B/row the cap
                    # is ~8 MB, safely broadcastable; web-scale dfs skip)
                    base = m.join(F.broadcast(base), "doc_id")
                else:
                    base = base.join(m, "doc_id")
                est = min(est, self._df_estimate(q))
            score = reduce(
                lambda a, b: a + b, [F.col(f"_m{j}") for j in range(len(musts))]
            )
            cand = base.select("doc_id", score.alias("score"))
        elif shoulds:
            cand = None  # union path below
        else:
            cand = self._all_scores().withColumn("score", F.lit(0.0))
        if shoulds:
            by_field, rest = self._should_groups(shoulds)
            sframes = [self.scores(q) for q in rest] + [
                self._multi_term_rows(fld, self._df_of_many(fld, terms))
                for fld, terms in by_field.items()
            ]
            unioned = reduce(lambda a, b: a.unionByName(b), sframes)
            ssum = unioned.groupBy("doc_id").agg(F.sum("score").alias("_s"))
            if cand is None:
                cand = ssum.select("doc_id", F.col("_s").alias("score"))
            else:
                cand = (
                    cand.join(ssum, "doc_id", "left")
                    .withColumn(
                        "score",
                        F.col("score") + F.coalesce(F.col("_s"), F.lit(0.0)),
                    )
                    .drop("_s")
                )
        for q in must_nots:
            cand = cand.join(self.scores(q).select("doc_id"), "doc_id", "left_anti")
        return cand

    # ---------- the driver site ----------

    def _postings_bound(self, query: dict) -> int:
        """Postings a driver-site answer reads, from the dictionary, the
        cached expansions and the commit log alone (module docstring);
        raises what scores() raises for a malformed query."""
        kind = query["kind"]
        opts = query.get("options", {})
        if kind in ("all", "range"):
            return self._n_docs_estimate
        if kind == "term":
            return self._df_of(opts["field"], opts["term"])
        if kind == "phrase":
            return sum(
                self._df_of_many(opts["field"], opts["phrase_terms"]).values()
            )
        if kind in ("fuzzy_term", "regex"):
            return sum(self._expansion(kind, opts).values())
        if kind == "boost":
            return self._postings_bound(opts["query"])
        if kind == "boolean":
            subs = opts.get("subqueries", [])
            musts, shoulds, _ = self._clauses(subs)
            live = 0 if musts or shoulds else self._n_docs_estimate
            return live + sum(self._postings_bound(sq["query"]) for sq in subs)
        if kind == "query_string":
            return self._postings_bound(self._parse(opts))
        raise ValueError(f"unknown query kind {kind!r}")

    def _driver_scores(self, query: dict) -> tuple[np.ndarray, np.ndarray]:
        """The driver site's scores(): (doc ids ascending, scores) of the
        live matches, with no Spark job."""
        kind = query["kind"]
        opts = query.get("options", {})
        if kind == "all":
            ids = self._live_doc_ids
            return ids, np.ones(ids.size)
        if kind == "term":
            fld, term = opts["field"], opts["term"]
            return self._driver_terms(fld, {term: self._df_of(fld, term)})
        if kind == "phrase":
            return self._driver_phrase(
                opts["field"], opts["phrase_terms"], opts.get("slop", 0)
            )
        if kind == "range":
            start, end = self._range_bounds(
                opts["field"], opts["start"], opts["end"]
            )
            ids, vals = self._live_column(opts["field"])
            hit = pc.fill_null(
                pc.and_(pc.greater_equal(vals, start), pc.less(vals, end)),
                False,
            )
            ids = ids[hit.to_numpy(zero_copy_only=False)]
            return ids, np.ones(ids.size)
        if kind == "boost":
            ids, scores = self._driver_scores(opts["query"])
            return ids, scores * float(opts["boost"])
        if kind in ("fuzzy_term", "regex"):
            return self._driver_terms(opts["field"], self._expansion(kind, opts))
        if kind == "boolean":
            return self._driver_boolean(opts.get("subqueries", []))
        if kind == "query_string":
            return self._driver_scores(self._parse(opts))
        raise ValueError(f"unknown query kind {kind!r}")

    def _driver_postings(
        self, fld: str, terms: list[str], want_positions: bool = False
    ) -> list:
        """The live postings of `terms` (distinct, each with df > 0) in
        field `fld`: their blocks read with pyarrow from the snapshot's
        files, as `Snapshot.live_url_ids` reads them, and decoded on the
        driver. Returns [index into terms, doc id, tf, len] arrays, one
        entry per posting, plus the positions as a ListArray."""
        # the bucket prunes the base tree's (field, bucket) directories
        # before I/O
        filt = (
            (pc.field("field") == fld)
            & pc.field("bucket").isin(sorted(set(self._buckets(terms).values())))
            & pc.field("term").isin(terms)
        )
        cols = ["doc_bytes", "tf_bytes", "len_bytes"] + (
            ["pos_bytes"] if want_positions else []
        )
        blocks = self._postings_ds.to_table(columns=["term"] + cols, filter=filt)
        dec = decode_blocks(*(blocks[c].combine_chunks() for c in cols))
        ids = dec.doc_ids.astype(np.int64)
        live = ~_sorted_member(self._dead_sorted, ids)
        lens = quantize(dec.lens) if self.meta.lossy_fieldnorms else dec.lens
        out = [
            np.repeat(
                pc.index_in(blocks["term"], value_set=pa.array(terms))
                .to_numpy(), dec.counts,
            )[live],
            ids[live],
            dec.tfs[live].astype(np.float64),
            lens[live].astype(np.float64),
        ]
        if want_positions:
            out.append(pa.ListArray.from_arrays(
                pa.array(dec.pos_offsets, type=pa.int32()),
                pa.array(dec.positions.astype(np.int32)),
            ).filter(pa.array(live)))
        return out

    def _bm25(self, idf, tf: np.ndarray, ln: np.ndarray, avg: float):
        """_score_expr in numpy, in the same operation order."""
        k1, b = self.k1, self.b
        denom = tf + k1 * (1.0 - b + b * ln / avg)
        return idf * (tf * (k1 + 1.0)) / denom

    def _driver_terms(self, fld: str, term_dfs: dict[str, int]) -> tuple:
        """Per-doc sum of per-term BM25 over a term set (a term, or a
        fuzzy/regex expansion)."""
        terms = sorted(t for t, d in term_dfs.items() if d > 0)
        if not terms:
            return _NO_HITS
        ix, ids, tfs, lens = self._driver_postings(fld, terms)
        idf = np.array([self.idf(fld, term_dfs[t]) for t in terms])
        return _sum_by_doc(
            ids, self._bm25(idf[ix], tfs, lens, self.stats[fld]["avg_len"])
        )

    def _driver_phrase(
        self, fld: str, phrase_terms: list[str], slop: int
    ) -> tuple:
        self._check_phrase(fld, phrase_terms)
        df_map = self._df_of_many(fld, phrase_terms)
        if any(d == 0 for d in df_map.values()):
            return _NO_HITS
        uniq = sorted(df_map)
        ix, ids, _, lens, pos = self._driver_postings(
            fld, uniq, want_positions=True
        )
        # each term's postings in doc-id order, then the docs all hold
        rows = [np.flatnonzero(ix == j) for j in range(len(uniq))]
        rows = [r[np.argsort(ids[r], kind="stable")] for r in rows]
        common = reduce(np.intersect1d, (ids[r] for r in rows))
        at = {
            t: r[np.searchsorted(ids[r], common)] for t, r in zip(uniq, rows)
        }
        taken = {t: pos.take(pa.array(at[t])) for t in uniq}
        counts = phrase_match_counts([taken[t] for t in phrase_terms], slop)
        hit = counts > 0
        sum_idf = sum(self.idf(fld, df_map[t]) for t in phrase_terms)
        return common[hit], self._bm25(
            sum_idf, counts[hit], lens[at[uniq[0]][hit]],
            self.stats[fld]["avg_len"],
        )

    def _driver_boolean(self, subqueries: list[dict]) -> tuple:
        """_boolean_scores' semantics on sorted id arrays: must intersects
        and sums in clause order, should union-sums, must_not removes, and
        a must_not-only query starts from every live doc at 0."""
        musts, shoulds, must_nots = self._clauses(subqueries)
        if musts:
            parts = [self._driver_scores(q) for q in musts]
            ids = reduce(np.intersect1d, (i for i, _ in parts))
            score = reduce(
                lambda a, b: a + b,
                (s[np.searchsorted(i, ids)] for i, s in parts),
            )
        elif shoulds:
            ids = score = None
        else:
            ids = self._live_doc_ids
            score = np.zeros(ids.size)
        if shoulds:
            by_field, rest = self._should_groups(shoulds)
            parts = [self._driver_scores(q) for q in rest] + [
                self._driver_terms(fld, self._df_of_many(fld, terms))
                for fld, terms in by_field.items()
            ]
            sids, ssum = _sum_by_doc(
                np.concatenate([i for i, _ in parts]),
                np.concatenate([s for _, s in parts]),
            )
            if ids is None:
                ids, score = sids, ssum
            else:
                hit = _sorted_member(sids, ids)
                extra = np.zeros(ids.size)
                extra[hit] = ssum[np.searchsorted(sids, ids[hit])]
                score = score + extra
        for q in must_nots:
            keep = ~_sorted_member(self._driver_scores(q)[0], ids)
            ids, score = ids[keep], score[keep]
        return ids, score

    @cached_property
    def _live_doc_ids(self) -> np.ndarray:
        return self._live_column(None)[0]

    def _live_column(self, col: str | None) -> tuple[np.ndarray, pa.Array]:
        """(ids ascending, values of `col`) over the live docs, read on the
        driver with the snapshot's footers; a docs file without the column
        reads nulls, as the unionByName of `docs` does. A fast field's
        column is cached (the driver site sorts by it)."""
        from pyspark.sql.pandas.types import to_arrow_type

        fast = col is not None and self.meta.field_def(col).fast
        cached = self._fast_columns.get(col) if fast else None
        if cached is not None:
            return cached
        types = [s[col].dataType for _, s, _, _ in self._doc_files
                 if col is not None and col in s.names]
        if col is not None and not types:
            raise ValueError(f"no stored field {col!r} in the index")
        ids, vals = [], []
        for path, schema, footer, _ in self._doc_files:
            has = col is not None and col in schema.names
            with pq.ParquetFile(
                path, metadata=footer, filesystem=self._io.fs
            ) as pf:
                t = pf.read(columns=["doc_id"] + ([col] if has else []))
            ids.append(t["doc_id"].to_numpy())
            if types:
                atype = to_arrow_type(types[0])
                vals.append(t[col].combine_chunks().cast(atype) if has
                            else pa.nulls(t.num_rows, atype))
        ids = np.concatenate(ids or [np.empty(0, dtype=np.int64)])
        order = np.argsort(ids, kind="stable")
        order = order[~_sorted_member(self._dead_sorted, ids[order])]
        out = (
            ids[order],
            pa.concat_arrays(vals).take(pa.array(order)) if types else None,
        )
        if fast:
            self._fast_columns[col] = out
        return out

    def _search_on_driver(
        self, query: dict, hits: int, offset: int, want_count: bool,
        want_docs: bool, sort: dict | None, fields: list[str],
    ) -> SearchResponse:
        ids, scores = self._driver_scores(query)
        total = int(ids.size) if want_count else -1
        if not want_docs or hits <= 0:
            return SearchResponse(total_hits=total)
        if sort:
            sort_col = sort["field"]
            col_ids, vals = self._live_column(sort_col)
            asc = sort.get("order", "asc") == "asc"
            # Spark's null order: first when ascending, last when descending
            order = pc.sort_indices(
                pa.table({
                    "key": vals.take(pa.array(np.searchsorted(col_ids, ids))),
                    "doc_id": ids,
                }),
                sort_keys=[("key", "ascending" if asc else "descending"),
                           ("doc_id", "ascending")],
                null_placement="at_start" if asc else "at_end",
            ).to_numpy()[offset:offset + hits]
        else:
            sort_col = None
            order = _top_order(ids, scores, offset + hits)[offset:]
        rows = [{"doc_id": int(i), "score": float(s)}
                for i, s in zip(ids[order], scores[order])]
        return self._respond(rows, {"doc_id", "score"}, total, sort_col, fields)

    # ---------- search API (docs/rest_api/search_api.md shape) ----------

    def search(self, request: dict) -> SearchResponse:
        """Answers on the driver when the request's postings bound is below
        DRIVER_MAX_POSTINGS (and the tombstones are driver-sized), else as
        one Spark action: the top-k `collect()` also counts the matches (an
        Observation on the unpruned scores, like the reference's
        MultiCollector pass, node/search.rs:29-67). Either way the winners'
        url, timestamp and requested stored fields are read on the driver
        (_fetch_stored). Only a Spark-site `count` request runs a bare
        count()."""
        query = request["query"]
        hits = int(request.get("hits", 10))
        offset = int(request.get("offset", 0))
        collection_kind = request.get("collection_kind", "count_and_top_docs")
        sort = request.get("sort")
        fields = request.get("fields", [])

        want_count = collection_kind in ("count", "count_and_top_docs")
        want_docs = collection_kind in ("top_docs", "count_and_top_docs")
        if sort and not self.meta.field_def(sort["field"]).fast:
            raise ValueError(
                f"field {sort['field']!r} is not a fast field"
            )  # node.rs:1312-1331
        if query["kind"] == "query_string":
            # parsed once: the site gate and the chosen site read one AST
            query = self._parse(query["options"])
        if self._dead_on_driver and (
            self._postings_bound(query) + (self._n_docs_estimate if sort else 0)
            < self.DRIVER_MAX_POSTINGS
        ):
            return self._search_on_driver(
                query, hits, offset, want_count, want_docs, sort, fields
            )

        # total_hits is defined over ALL matches (search_api.md), so a
        # counting request scores an UNPRUNED plan — block-max pruning is
        # only legal when nothing is counted.
        prune = want_docs and not want_count and not sort
        scores = self.scores(query, topk_hint=(hits + offset) if prune else None)
        if not want_docs or hits <= 0:
            # a zero-row limit is optimized away with the observation in
            # it, so an empty page counts on its own
            total = scores.count() if want_count else -1
            return SearchResponse(total_hits=total)
        counted = None
        if want_count:
            counted = Observation()
            scores = scores.observe(counted, F.count(F.lit(1)).alias("n"))
        if sort:
            sort_col = sort["field"]
            key = F.col(sort_col)
            order = [
                key.asc() if sort.get("order", "asc") == "asc" else key.desc(),
                F.col("doc_id").asc(),
            ]
            # the ordering needs the sort column before the top-k
            scores = scores.join(
                self.docs.select("doc_id", sort_col), "doc_id"
            )
        else:
            sort_col = None
            order = [F.desc("score"), F.asc("doc_id")]
        top = scores.orderBy(*order)
        win_rows = (top.offset(offset) if offset else top).limit(hits).collect()
        total = int(counted.get["n"]) if counted is not None else -1
        return self._respond(
            [r.asDict() for r in win_rows], set(scores.columns), total,
            sort_col, fields,
        )

    def _respond(
        self, rows: list[dict], present: set, total: int,
        sort_col: str | None, fields: list[str],
    ) -> SearchResponse:
        """The response for winner rows (doc_id, score and any `present`
        columns), with their url, timestamp, sort value and requested
        fields read by _fetch_stored."""
        extra = fields + ([sort_col] if sort_col else [])
        stored = self._fetch_stored(
            [r["doc_id"] for r in rows],
            list(dict.fromkeys(
                ["url", "warc_ts"] + [c for c in extra if c not in present]
            )),
        )
        documents = []
        for r in rows:
            d = {**stored[r["doc_id"]], **r}
            ts = d.get("warc_ts")
            # response shape per docs/rest_api/search_api.md: score is 0
            # under a field sort, sort_value is 0 under a score sort, and
            # the timestamp is an integer unix epoch.
            documents.append(
                {
                    "id": d.get("url"),
                    "score": 0.0 if sort_col else float(d.get("score", 0.0)),
                    "timestamp": (
                        int(ts.timestamp()) if ts is not None else 0
                    ),
                    "sort_value": d.get(sort_col) if sort_col else 0,
                    "fields": {f: d.get(f) for f in fields},
                }
            )
        return SearchResponse(total_hits=total, documents=documents)

    def _fetch_stored(self, ids: list[int], cols: list[str]) -> dict:
        """doc_id → {doc_id, *cols} for the winner ids, read on the driver
        with pyarrow (no Spark job): only the row groups whose doc-id range
        holds a winner are read, each file opened with the footer the
        snapshot already holds. Values are converted from Arrow the way
        Spark Connect's collect() does, with each file's footer schema, so
        they equal a Spark collect() of the same rows; a column a file
        lacks (an older segment) reads as None, like the unionByName of
        `docs`."""
        from pyspark.sql.conversion import ArrowTableToRowsConversion
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        known = {c for _, schema, _, _ in self._doc_files for c in schema.names}
        unknown = [c for c in cols if c not in known]
        if unknown:
            raise ValueError(f"no stored field {unknown[0]!r} in the index")
        want = np.unique(np.asarray(ids, dtype=np.int64))
        out: dict = {}
        for path, schema, footer, ranges in self._doc_files:
            groups = np.flatnonzero(
                ((want >= ranges[:, :1]) & (want <= ranges[:, 1:])).any(axis=1)
            )
            if not groups.size:
                continue
            sub = StructType(
                [schema["doc_id"]] + [schema[c] for c in cols if c in schema.names]
            )
            with pq.ParquetFile(
                path, metadata=footer, filesystem=self._io.fs
            ) as pf:
                table = pf.read_row_groups(groups.tolist(), columns=sub.names)
            table = table.filter(
                pc.is_in(table["doc_id"], value_set=pa.array(want))
            ).select(sub.names)
            rows = ArrowTableToRowsConversion.convert(
                table.cast(to_arrow_schema(sub)), sub
            )
            for row in rows:
                out[row["doc_id"]] = {**dict.fromkeys(cols), **row.asDict()}
        return out
