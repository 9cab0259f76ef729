"""Distributed inverted-index build.

Pipeline (all stages declarative DataFrame ops; Python only inside Arrow
batches):

  source (url, warc_ts, html?, text, lang)
    │ 1. upsert: last write per url wins (window by url, warc_ts desc)
    │    — reference semantics bayard/src/node.rs:1191-1192 (delete_term+add)
    │ 2. dense doc_id: rank of url within url-hash bucket + bucket offset
    │    (deterministic: no sampling; one shuffle; bucket ranges contiguous)
    ├─ docs/    parquet, doc_id-sorted within partitions (min/max pruning)
    │ 3. hot-term set from a deterministic 5% doc sample (df estimate >
    │    hot_df_threshold) → salting plan; skipped, salting nothing,
    │    when every salt is 0 (n_docs ≤ salt_span) or no true df can
    │    exceed the threshold (hot_df_threshold ≥ n_docs)
    │ 4. analyzer pass (mapInArrow): per (doc, field, term) → tf, positions,
    │    doc_len — shuffle volume is postings, not token occurrences —
    │    straight into encode_blocks: groupBy(bucket, salt) → Arrow block
    │    encoder (delta+varint, 128-doc blocks, block-max metadata as plain
    │    columns)
    ├─ postings/wave=0/field=<f>/bucket=<b>/  parquet
    │ 5. BM25 stats read back from what was just written: a field's total
    │    length is Σ tf over its postings in the wave's blocks (a doc's
    │    length is the sum of its tfs), N is Σ num_rows over the docs
    │    footers; both go into commits.json with next_doc_id. Exact
    │    per-doc lengths (SURVEY §2.7) live in each block's len_bytes.
    └─ lineage/ per-stage metrics: docs, blocks, stats, build_ms —
       restart skips completed stages (resumable builds).

Salting: a hot term's postings are split into contiguous doc_id ranges
(salt = doc_id // salt_span), so concatenating salts in order preserves
global doc order — intersection/WAND never needs a re-sort. Cold terms get
salt 0. This is explicit skew handling for Zipfian df (SURVEY §7).

Scale notes: the only full-data shuffles are (dedupe by url + doc-bucket
exchange) + (blockify exchange by bucket/salt). All aggregations are
partial-agg friendly. No driver-side iteration over data, no collect() of
anything larger than bucket counts (num_buckets rows).
"""

from __future__ import annotations

import json
import os
import re
import time
from collections.abc import Iterator
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bayard_spark.analysis.analyzer import Analyzer, build_analyzers
from bayard_spark.build.codec import (
    decode_blocks,
    varint_encode,
    varint_lengths,
)
from bayard_spark.schema import FieldDef, IndexMeta, IndexPaths

# positions are ALREADY delta+varint encoded per (doc, term) at analyzer
# time — one vectorized encode over the whole Arrow batch, zero-copy sliced
# into a BinaryArray. Block building then only concatenates bytes, and the
# block codec's segmented decode (absolute first position per doc) reads the
# concatenation directly.
POSTING_ROW_SCHEMA = (
    "doc_id long, field string, term string, tf int, doc_len int, "
    "pos_bytes binary"
)
# The same rows as Arrow, as `TextAnalysis.analyze_batch` yields them.
POSTING_ROW_ARROW = pa.schema([
    ("doc_id", pa.int64()), ("field", pa.string()), ("term", pa.string()),
    ("tf", pa.int32()), ("doc_len", pa.int32()), ("pos_bytes", pa.binary()),
])
BLOCK_SCHEMA = (
    "field string, bucket int, term string, salt int, block_id int, "
    "n_docs int, first_doc_id long, last_doc_id long, max_tf int, "
    "min_tf int, min_len int, max_len int, doc_bytes binary, "
    "tf_bytes binary, len_bytes binary, pos_bytes binary"
)


def _runs_to_record_batch(
    frame: pd.DataFrame,
    doc_ids: np.ndarray,
    fname: str,
    want_pos: bool,
) -> pa.RecordBatch | None:
    """Token frame (idx, token, pos) → posting-row RecordBatch, all numpy/
    Arrow kernels (no per-group Python):

    Tokens are factorized to int codes first so the (idx, token) sort is an
    integer np.lexsort — sorting 10^6+ Python string objects is memory-
    latency-bound and stops scaling beyond a few cores; int sorts don't.
    Run-length boundaries then give (doc, term) groups: tf from run lengths,
    positions delta-encoded in one pass with run starts reset to absolute,
    varint-encoded as ONE array, and zero-copy sliced into a BinaryArray via
    run byte-offsets.
    """
    n = len(frame)
    if n == 0:
        return None
    idx0 = frame["idx"].to_numpy(dtype=np.int64)
    pos0 = frame["pos"].to_numpy(dtype=np.int64)
    codes0, uniques = pd.factorize(frame["token"], sort=False)
    doc_len_per_idx = np.bincount(idx0, minlength=len(doc_ids)).astype(np.int32)
    return _runs_from_ints(
        idx0,
        codes0.astype(np.int32),
        pos0,
        pa.array(uniques.astype(object)),
        doc_len_per_idx,
        doc_ids,
        fname,
        want_pos,
    )


def _runs_from_ints(
    idx0: np.ndarray,
    codes0: np.ndarray,
    pos0: np.ndarray,
    dictionary: pa.Array,
    doc_len_per_idx: np.ndarray,
    doc_ids: np.ndarray,
    fname: str,
    want_pos: bool,
) -> pa.RecordBatch | None:
    """Shared run-aggregation over int token streams (pandas + Arrow paths)."""
    n = len(idx0)
    if n == 0:
        return None
    # The tokenizers emit row-major streams (idx ascending, pos ascending
    # within a row), so one STABLE argsort on a packed (idx, code) key is
    # equivalent to the 3-key lexsort — stability preserves the pos order
    # for free — and measured ~8x faster (one radix pass instead of three
    # stable passes over 10^6-token batches). Both bounds are per-batch
    # (idx < rows, code < dictionary size), so the packed key fits int64
    # with huge margin; the vectorized row-major check falls back to the
    # general lexsort if a caller ever feeds an unordered stream.
    k = np.int64(codes0.max()) + 1 if n else np.int64(1)
    row_major = bool(
        np.all(
            (idx0[1:] > idx0[:-1])
            | ((idx0[1:] == idx0[:-1]) & (pos0[1:] >= pos0[:-1]))
        )
    )
    if row_major and int(idx0[-1]) < (1 << 62) // int(k):
        order = np.argsort(idx0 * k + codes0, kind="stable")
    else:
        order = np.lexsort((pos0, codes0, idx0))
    idx = idx0[order]
    codes = codes0[order]
    pos = pos0[order]
    new_run = np.empty(n, dtype=bool)
    new_run[0] = True
    new_run[1:] = (idx[1:] != idx[:-1]) | (codes[1:] != codes[:-1])
    starts = np.flatnonzero(new_run)
    ends = np.append(starts[1:], n)
    tf = (ends - starts).astype(np.int32)
    run_idx = idx[starts]
    term_arr = pa.DictionaryArray.from_arrays(
        pa.array(codes[starts], type=pa.int32()), dictionary
    ).cast(pa.string())
    arrays: list[pa.Array] = [
        pa.array(doc_ids[run_idx], type=pa.int64()),
        pa.DictionaryArray.from_arrays(
            pa.array(np.zeros(len(starts), dtype=np.int32)), pa.array([fname])
        ).cast(pa.string()),
        term_arr,
        pa.array(tf, type=pa.int32()),
        pa.array(doc_len_per_idx[run_idx], type=pa.int32()),
    ]
    if want_pos:
        deltas = pos.copy()
        deltas[1:] -= pos[:-1]
        deltas[starts] = pos[starts]
        u = deltas.astype(np.uint64)
        enc = varint_encode(u)
        blens = varint_lengths(u)
        byte_ends = np.cumsum(blens)
        offsets = np.zeros(len(starts) + 1, dtype=np.int32)
        offsets[1:] = byte_ends[ends - 1]
        arrays.append(
            pa.BinaryArray.from_buffers(
                pa.binary(),
                len(starts),
                [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(enc)],
            )
        )
    else:
        arrays.append(pa.nulls(len(starts), type=pa.binary()))
    return pa.RecordBatch.from_arrays(
        arrays, ["doc_id", "field", "term", "tf", "doc_len", "pos_bytes"]
    )


@dataclass(frozen=True)
class TextAnalysis:
    """The analyzer pass over a meta's indexed text fields: per field its
    name, analyzer, whether it records positions and whether the Arrow
    kernels (`arrow_native`) run it. `analyze_batch` is the one tokenizer
    of the build's and a large put's mapInArrow and of a driver put."""

    fields: tuple[tuple[str, Analyzer, bool, bool], ...]

    @property
    def columns(self) -> list[str]:
        """The text columns `analyze_batch` reads besides doc_id."""
        return [name for name, *_ in self.fields]

    def analyze_batch(self, rb: pa.RecordBatch) -> Iterator[pa.RecordBatch]:
        """Posting rows (POSTING_ROW_SCHEMA) of the docs in `rb`, a batch
        of doc_id and the text columns: one batch per field with tokens.
        Each row depends on its own doc only, so any split of the docs
        into batches gives the same rows."""
        from bayard_spark.analysis import arrow_native

        doc_ids = rb.column("doc_id").to_numpy(zero_copy_only=False)
        pdf = None
        for fname, an, want_pos, arrow_ok in self.fields:
            if arrow_ok:
                row_id, codes, pos, dictionary, doc_len = (
                    arrow_native.tokenize_ints(rb.column(fname), an)
                )
                batch = _runs_from_ints(
                    row_id, codes, pos, dictionary, doc_len,
                    doc_ids, fname, want_pos,
                )
            else:
                if pdf is None:
                    pdf = rb.to_pandas()
                frame = an.tokenize(pdf[fname].reset_index(drop=True))
                if len(frame) == 0:
                    continue
                batch = _runs_to_record_batch(frame, doc_ids, fname, want_pos)
            if batch is not None:
                yield batch


def encode_group_table(table: pa.Table, block_size: int = 128) -> pa.Table:
    """Arrow-native block encoder for one (bucket, salt) group.

    Terms stay dictionary-encoded ints end-to-end: one lexsort over
    (field, term, salt, doc_id) int codes, run/block boundaries vectorized,
    ONE varint pass per payload column for the whole group, per-block byte
    slicing. Python work is O(#blocks), not O(#postings). pos_bytes per
    posting are already delta+varint framed (absolute first position per
    doc), so a block's pos_bytes is a plain concatenation. tests/test_codec.py
    pins the output byte-identical to a per-group pandas reference.
    """
    n = table.num_rows
    cols = [c.split(" ")[0] for c in BLOCK_SCHEMA.split(", ")]
    if n == 0:
        return pa.table(
            {c: pa.array([], type=t) for c, t in zip(cols, _BLOCK_TYPES)}
        )
    fenc = pc.dictionary_encode(table.column("field").combine_chunks())
    tenc = pc.dictionary_encode(table.column("term").combine_chunks())
    fcodes = fenc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    tcodes = tenc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    fdict = fenc.dictionary.to_pylist()
    tdict = tenc.dictionary
    doc = table.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    tf = table.column("tf").to_numpy(zero_copy_only=False).astype(np.uint64)
    dlen = table.column("doc_len").to_numpy(zero_copy_only=False).astype(np.uint64)
    salt = table.column("salt").to_numpy(zero_copy_only=False).astype(np.int64)
    bucket = int(table.column("bucket")[0].as_py())
    pos_col = table.column("pos_bytes").combine_chunks()
    has_pos = pos_col.null_count < n

    order = np.lexsort((doc, salt, tcodes, fcodes))
    fcodes, tcodes, salt = fcodes[order], tcodes[order], salt[order]
    doc, tf, dlen = doc[order], tf[order], dlen[order]

    new_run = np.empty(n, dtype=bool)
    new_run[0] = True
    new_run[1:] = (
        (fcodes[1:] != fcodes[:-1])
        | (tcodes[1:] != tcodes[:-1])
        | (salt[1:] != salt[:-1])
    )
    run_start_of = np.maximum.accumulate(
        np.where(new_run, np.arange(n), 0)
    )
    within = np.arange(n) - run_start_of
    block_start = new_run | (within % block_size == 0)
    bstarts = np.flatnonzero(block_start)
    bends = np.append(bstarts[1:], n)
    block_id = (within[bstarts] // block_size).astype(np.int32)

    # payload encodes: one varint pass per column, deltas reset per block
    deltas = doc.astype(np.uint64).copy()
    with np.errstate(over="ignore"):
        deltas[1:] -= doc[:-1].astype(np.uint64)
    deltas[bstarts] = doc[bstarts].astype(np.uint64)
    enc_d, len_d = varint_encode(deltas), varint_lengths(deltas)
    enc_t, len_t = varint_encode(tf), varint_lengths(tf)
    enc_l, len_l = varint_encode(dlen), varint_lengths(dlen)
    off_d = np.zeros(n + 1, dtype=np.int64); np.cumsum(len_d, out=off_d[1:])
    off_t = np.zeros(n + 1, dtype=np.int64); np.cumsum(len_t, out=off_t[1:])
    off_l = np.zeros(n + 1, dtype=np.int64); np.cumsum(len_l, out=off_l[1:])

    max_tf = np.maximum.reduceat(tf, bstarts).astype(np.int32)
    min_tf = np.minimum.reduceat(tf, bstarts).astype(np.int32)
    max_len = np.maximum.reduceat(dlen, bstarts).astype(np.int32)
    min_len = np.minimum.reduceat(dlen, bstarts).astype(np.int32)

    nb = len(bstarts)
    bidx = np.append(bstarts, n)

    def _block_binary(enc: bytes, off: np.ndarray):
        """Per-block payload column WITHOUT per-block Python: blocks tile
        the group, so the block byte ranges are just off[bidx] — one
        zero-copy BinaryArray over the whole-group encode buffer
        (r7; the old per-block slice list comps were ~4 Python
        objects per block × ~700k blocks per 960k-doc build). int64
        offsets (a single group's payload could pass 2 GiB at extreme
        scale) would need LargeBinary — fall back to slicing then."""
        boff = off[bidx]
        if boff[-1] < (1 << 31):
            return pa.BinaryArray.from_buffers(
                pa.binary(),
                nb,
                [
                    None,
                    pa.py_buffer(boff.astype(np.int32).tobytes()),
                    pa.py_buffer(enc),
                ],
            )
        return pa.array(
            [enc[off[bidx[i]]:off[bidx[i + 1]]] for i in range(nb)],
            type=pa.binary(),
        )

    doc_bytes = _block_binary(enc_d, off_d)
    tf_bytes = _block_binary(enc_t, off_t)
    len_bytes = _block_binary(enc_l, off_l)

    if has_pos:
        # gather the (sorted-order) per-row byte runs into one buffer with a
        # vectorized index build, then slice per block
        poffs = pos_col.buffers()[1]
        pvals = np.frombuffer(pos_col.buffers()[2], dtype=np.uint8)
        a0 = pos_col.offset
        poff = (
            np.frombuffer(poffs, dtype=np.int32)[a0 : a0 + n + 1]
            .astype(np.int64)
        )
        row_start = poff[:-1][order]
        row_len = (poff[1:] - poff[:-1])[order]
        total = int(row_len.sum())
        out_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(row_len, out=out_off[1:])
        gather = (
            np.repeat(row_start - out_off[:-1], row_len)
            + np.arange(total, dtype=np.int64)
        )
        pdata = pvals[gather].tobytes()
        pos_bytes = _block_binary(pdata, out_off)
    else:
        pos_bytes = pa.BinaryArray.from_buffers(
            pa.binary(),
            nb,
            [
                None,
                pa.py_buffer(np.zeros(nb + 1, dtype=np.int32).tobytes()),
                pa.py_buffer(b""),
            ],
        )

    term_vals = pa.DictionaryArray.from_arrays(
        pa.array(tcodes[bstarts], type=pa.int32()), tdict
    ).cast(pa.string())
    # dictionary-coded field column too — no per-block Python (r7)
    field_vals = pa.DictionaryArray.from_arrays(
        pa.array(fcodes[bstarts].astype(np.int32)),
        pa.array(fdict, type=pa.string()),
    ).cast(pa.string())
    return pa.table(
        {
            "field": field_vals,
            "bucket": pa.array(np.full(nb, bucket, dtype=np.int32)),
            "term": term_vals,
            "salt": pa.array(salt[bstarts].astype(np.int32)),
            "block_id": pa.array(block_id),
            "n_docs": pa.array((bends - bstarts).astype(np.int32)),
            "first_doc_id": pa.array(doc[bstarts]),
            "last_doc_id": pa.array(doc[bends - 1]),
            "max_tf": pa.array(max_tf),
            "min_tf": pa.array(min_tf),
            "min_len": pa.array(min_len),
            "max_len": pa.array(max_len),
            "doc_bytes": doc_bytes,
            "tf_bytes": tf_bytes,
            "len_bytes": len_bytes,
            "pos_bytes": pos_bytes,
        }
    )


_BLOCK_TYPES = [
    pa.string(), pa.int32(), pa.string(), pa.int32(), pa.int32(), pa.int32(),
    pa.int64(), pa.int64(), pa.int32(), pa.int32(), pa.int32(), pa.int32(),
    pa.binary(), pa.binary(), pa.binary(), pa.binary(),
]

def encode_blocks(
    rows: DataFrame | pa.Table, block_size: int
) -> DataFrame | pa.Table:
    """Posting rows → block rows (BLOCK_SCHEMA), the one encode step of the
    build, of a segment put and of a merge, so all three write
    byte-identical blocks for the same postings.

    Rows are projected to exactly the encoder's inputs BEFORE the exchange:
    anything else a caller left on the frame (a `wave` bookkeeping column,
    say) would otherwise ride the full posting-row shuffle. The exchange
    hash-partitions by (bucket, salt), so each bucket's rows of one salt
    sit in exactly one task. An Arrow table (a put small enough for the
    driver) is grouped by (bucket, salt) on the driver instead, and the
    blocks come back as an Arrow table."""

    def encode(table: pa.Table) -> pa.Table:
        return encode_group_table(table, block_size)

    cols = ["doc_id", "field", "term", "tf", "doc_len", "pos_bytes",
            "bucket", "salt"]
    if isinstance(rows, DataFrame):
        return rows.select(*cols).groupBy("bucket", "salt").applyInArrow(
            encode, BLOCK_SCHEMA
        )
    rows = rows.select(cols).sort_by([("bucket", "ascending"),
                                      ("salt", "ascending")])
    key = np.stack([rows[c].to_numpy() for c in ("bucket", "salt")])
    starts = np.flatnonzero(
        np.r_[True, (key[:, 1:] != key[:, :-1]).any(axis=0)]
    )
    ends = np.r_[starts[1:], rows.num_rows]
    return pa.concat_tables(
        [encode(rows.slice(s, e - s)) for s, e in zip(starts, ends)]
    )


def write_base_blocks(blocks: DataFrame, path: str) -> None:
    """A base wave directory: one (field, bucket) directory level each.
    After encode_blocks' exchange the dynamic-partition writer emits one
    file per (field, bucket) dir per salt group, so no re-shuffle of the
    encoded payloads is needed to keep the file count at O(dirs). (r7: an
    explicit repartition(field, bucket) re-shuffled the whole encoded index
    a second time, ~30% of the blockify stage at 960k.)"""
    blocks.write.mode("overwrite").partitionBy("field", "bucket").parquet(path)


def salt_column(hot_terms: list[str], salt_span: int):
    """A posting row's salt: doc_id // salt_span for a hot term, 0 for any
    other. The build and merge both salt with it, so a merge keeps the
    build's block layout."""
    if not hot_terms:
        return F.lit(0)
    return F.when(
        F.col("term").isin(hot_terms),
        (F.col("doc_id") / F.lit(salt_span)).cast("int"),
    ).otherwise(F.lit(0))


def row_tiebreak(df: DataFrame):
    """Order among one url's rows with equal warc_ts: an xxhash64 over every
    column, taken descending, so the build and a put pick the same upsert
    winner from the same rows."""
    return F.xxhash64(*[F.col(c) for c in df.columns])


# The column that carries row_tiebreak while rows are ordered.
TIEBREAK = "_tiebreak"
# The upsert order, with nulls last on every key: one url's winner is its
# first row. The build's window, a large put's window and a small put's
# pyarrow sort all order by these keys, so they pick the same winner.
UPSERT_ORDER = (
    ("url", "ascending"), ("warc_ts", "descending"), (TIEBREAK, "descending")
)


def upsert_order() -> list:
    """UPSERT_ORDER as Spark sort columns."""
    return [
        F.col(c).asc_nulls_last() if order == "ascending"
        else F.col(c).desc_nulls_last()
        for c, order in UPSERT_ORDER
    ]


@dataclass
class BuildReport:
    n_docs: int
    stages_run: list[str]
    stages_skipped: list[str]
    wall_s: float


def _success(path: str) -> bool:
    from bayard_spark.fsio import IndexFS

    return IndexFS(path).exists(os.path.join(path, "_SUCCESS"))


class IndexBuilder:
    def __init__(self, spark: SparkSession, meta: IndexMeta, root: str):
        from bayard_spark.fsio import IndexFS

        self.spark = spark
        self.meta = meta
        self.paths = IndexPaths(root)
        self.io = IndexFS(root)
        self.analyzers = build_analyzers(meta.analyzers)

    # ---------- lineage ----------

    def _lineage_path(self, stage: str) -> str:
        # `_w0`: the marker names of the older multi-wave build, so an index
        # that build completed with one wave still resumes stage by stage
        return self.io.path("lineage", f"{stage}_w0.json")

    def _log_lineage(self, stage: str, metrics: dict) -> None:
        row = {
            "stage": stage,
            "ts": time.time(),
            **{k: float(v) for k, v in metrics.items()},
        }
        self.io.write_text(self._lineage_path(stage), json.dumps(row))

    def _lineage_done(self, stage: str) -> bool:
        return self.io.exists(self._lineage_path(stage))

    # ---------- stage 1: docs + dense ids ----------

    last_n_docs: int | None = None

    def url_bucket(self):
        """A row's doc bucket: its url hash modulo num_buckets."""
        return F.pmod(F.xxhash64("url"), F.lit(self.meta.num_buckets)).cast("int")

    def term_bucket(self):
        """A posting row's bucket: its term hash modulo num_buckets."""
        return F.pmod(F.xxhash64("term"), F.lit(self.meta.num_buckets)).cast("int")

    def bucket_offsets(
        self, frame: DataFrame, count, base: int
    ) -> tuple[DataFrame, int]:
        """Contiguous doc-id ranges per url bucket, the build's and a large
        put's id method: per-bucket `count`s of `frame` (num_buckets rows to
        the driver — metadata, not data), prefix-summed from `base`. Returns
        the broadcast (doc_bucket, _offset) frame and the end of the last
        range."""
        counts = dict(
            frame.groupBy(self.url_bucket().alias("doc_bucket"))
            .agg(count.alias("n"))
            .collect()
        )
        offsets, acc = [], base
        for b in range(self.meta.num_buckets):
            offsets.append((b, acc))
            acc += counts.get(b, 0)
        off_df = self.spark.createDataFrame(
            offsets, "doc_bucket int, _offset long"
        )
        return F.broadcast(off_df), acc

    def assign_doc_ids(self, source: DataFrame) -> DataFrame:
        """Dedupe-by-url (last write wins) + dense doc_id assignment in ONE
        full-data shuffle.

        Phase 1 is a projected scan (url column only): exact distinct-url
        counts per bucket → contiguous bucket offsets (num_buckets rows to
        the driver — metadata, not data). Phase 2 shuffles the full rows
        once, by doc_bucket; a single window sort (url, warc_ts desc,
        tiebreak) yields BOTH the upsert winner flag (url boundary via lag)
        and the dense per-bucket url index (running sum of boundary flags).
        The previous layout used two full-data shuffles (window by url,
        then window by bucket) plus a persist; at 100 TB the saved exchange
        is the dominant cost of this stage.
        """
        off_df, self.last_n_docs = self.bucket_offsets(
            source, F.countDistinct("url"), 0
        )
        src = source.withColumn(TIEBREAK, row_tiebreak(source)).withColumn(
            "doc_bucket", self.url_bucket()
        )
        w = Window.partitionBy("doc_bucket").orderBy(*upsert_order())
        is_first = (
            F.lag("url").over(w).isNull()
            | (F.lag("url").over(w) != F.col("url"))
        ).cast("int")
        cum = Window.partitionBy("doc_bucket").orderBy(
            *upsert_order()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        deduped = (
            src.withColumn("_new", is_first)
            .withColumn("_urlrank", F.sum("_new").over(cum))
            .filter(F.col("_new") == 1)
        )
        if self.meta.sort_by_field:
            # index-time presort: rank winners by the sort field within the
            # SAME doc_bucket partitioning — Catalyst reuses the exchange
            # (one shuffle total), only an extra in-partition sort runs.
            # Per-bucket order mirrors tantivy's per-segment presort.
            sf = self.meta.sort_by_field
            w_sorted = Window.partitionBy("doc_bucket").orderBy(
                F.col(sf).asc_nulls_last(), "url"
            )
            deduped = deduped.withColumn(
                "_urlrank", F.row_number().over(w_sorted)
            )
        return (
            deduped.join(off_df, "doc_bucket")
            .withColumn("doc_id", F.col("_offset") + F.col("_urlrank") - 1)
            .drop("_offset", "doc_bucket", "_new", "_urlrank", TIEBREAK)
        )

    def write_docs(self, with_ids: DataFrame) -> None:
        # with_ids is hash-partitioned by doc_bucket, and each bucket is a
        # CONTIGUOUS doc_id range by construction — a within-partition sort
        # already yields range-layout files (row-group min/max pruning works)
        # without repartitionByRange's extra sampling pass + shuffle.
        (
            with_ids.sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .option("compression", self.meta.docstore_compression)
            .parquet(self.paths.docs)
        )

    def docs_footers(self, path: str) -> tuple[StructType, int]:
        """The Spark schema and the row count of docs table `path`, from
        its parquet footers (no Spark job)."""
        from bayard_spark.build.segments import (
            footer_spark_schema,
            read_footers,
        )

        footers = read_footers(self.io, path)
        return (
            footer_spark_schema(footers[0][1], footers[0][0]),
            sum(md.num_rows for _, md in footers),
        )

    # ---------- stage 2: analyzer pass → posting rows ----------

    POSTING_TYPES = ("text", "bytes", "json_object")

    def posting_fields(self, type_: str | None = None) -> list[FieldDef]:
        """The indexed fields posting_rows reads (of one type, if given).
        posting_rows and its bytes and json parts take their fields from
        here, so a driver put knows every column they read."""
        return [
            f for f in self.meta.fields
            if f.indexed and f.type in self.POSTING_TYPES
            and type_ in (None, f.type)
        ]

    def text_analysis(self) -> TextAnalysis:
        """The analyzer pass over the meta's indexed text fields."""
        from bayard_spark.analysis import arrow_native

        return TextAnalysis(tuple(
            (f.name, an, f.record == "position", arrow_native.supports(an))
            for f in self.posting_fields("text")
            for an in [self.analyzers[f.analyzer]]
        ))

    def posting_rows(self, docs: DataFrame) -> DataFrame:
        text = self.text_analysis()

        def analyze(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for rb in batches:
                yield from text.analyze_batch(rb)

        out = docs.select("doc_id", *text.columns).mapInArrow(
            analyze, POSTING_ROW_SCHEMA
        )
        extra = self.jvm_posting_rows(docs)
        return out if extra is None else out.unionByName(extra)

    def jvm_posting_rows(self, docs: DataFrame) -> DataFrame | None:
        """The posting rows of the bytes and json_object fields, built in
        the JVM (json leaves are tokenized in Python), or None when the
        meta indexes neither."""
        parts = [
            p for p in (self._bytes_posting_rows(docs),
                        self._json_posting_rows(docs))
            if p is not None
        ]
        return reduce(DataFrame.unionByName, parts) if parts else None

    def _bytes_posting_rows(self, docs: DataFrame) -> DataFrame | None:
        """bytes fields (docs/schema.md:27,106-122): one raw term per value,
        encoded base64 (the reference API carries bytes values as base64).
        Pure JVM expressions — no Python."""
        out: DataFrame | None = None
        for f in self.posting_fields("bytes"):
            part = (
                docs.filter(F.col(f.name).isNotNull())
                .select(
                    "doc_id",
                    F.lit(f.name).alias("field"),
                    F.base64(F.col(f.name)).alias("term"),
                    F.lit(1).alias("tf"),
                    F.lit(1).alias("doc_len"),
                    F.lit(None).cast("binary").alias("pos_bytes"),
                )
            )
            out = part if out is None else out.unionByName(part)
        return out

    JSON_MAX_DEPTH = 4

    def _json_leaves(self, docs: DataFrame, colname: str) -> DataFrame:
        """Dynamic leaf-path expansion of a json_object column
        (docs/schema.md:125-157) → (doc_id, path, value), JVM-side.

        from_json(map<string,string>) stringifies scalar leaf values and
        leaves nested objects as JSON text, so depth unrolls as a fixed
        chain of explodes (documented depth cap; tantivy's json expansion
        is unbounded, web metadata in practice is ≤ 3 deep)."""
        cur = docs.select(
            "doc_id", F.lit("").alias("path"), F.col(colname).alias("js")
        ).filter(F.col("js").isNotNull())
        out: DataFrame | None = None
        for _ in range(self.JSON_MAX_DEPTH):
            kv = cur.select(
                "doc_id",
                "path",
                F.explode(F.from_json("js", "map<string,string>")).alias(
                    "k", "v"
                ),
            ).select(
                "doc_id",
                F.when(F.col("path") == "", F.col("k"))
                .otherwise(F.concat_ws(".", "path", "k"))
                .alias("path"),
                "v",
            )
            is_obj = F.col("v").rlike(r"^\s*\{")
            leaf = kv.filter(~is_obj & F.col("v").isNotNull()).select(
                "doc_id", "path", F.col("v").alias("value")
            )
            out = leaf if out is None else out.unionByName(leaf)
            cur = kv.filter(is_obj).select(
                "doc_id", "path", F.col("v").alias("js")
            )
        return out

    def _json_posting_rows(self, docs: DataFrame) -> DataFrame | None:
        """json_object fields → posting rows with terms '<path>=<token>'.

        Leaf values are analyzed with the field's analyzer (leaf expansion
        JVM-side, tokenize in the shared Arrow kernel); same-term hits from
        different leaves aggregate by sum(tf); doc_len = total tokens across
        all leaves of the doc (BM25 length). Positions are NOT recorded —
        phrase queries across json leaves are ill-defined, so json fields
        require record ∈ {basic, freq} (the engine rejects phrase on them).
        """
        jfields = self.posting_fields("json_object")
        if not jfields:
            return None
        out: DataFrame | None = None
        for f in jfields:
            if f.record == "position":
                raise ValueError(
                    f"json_object field {f.name!r} cannot record positions"
                )
            an = self.analyzers[f.analyzer]
            leaves = self._json_leaves(docs, f.name)

            def tok_leaves(batches, an=an):
                for pdf in batches:
                    frame = an.tokenize(
                        pdf["value"].fillna("").reset_index(drop=True)
                    )
                    if len(frame) == 0:
                        continue
                    row_id = frame["idx"].to_numpy()
                    toks = frame["token"].reset_index(drop=True)
                    paths = (
                        pdf["path"].iloc[row_id].reset_index(drop=True)
                    )
                    yield pd.DataFrame(
                        {
                            "doc_id": pdf["doc_id"].iloc[row_id].to_numpy(),
                            "term": paths.str.cat(toks, sep="="),
                        }
                    )

            toks = leaves.mapInPandas(
                tok_leaves, "doc_id long, term string"
            )
            agg = toks.groupBy("doc_id", "term").agg(
                F.count("*").cast("int").alias("tf")
            )
            lens = agg.groupBy("doc_id").agg(
                F.sum("tf").cast("int").alias("doc_len")
            )
            part = agg.join(lens, "doc_id").select(
                "doc_id",
                F.lit(f.name).alias("field"),
                "term",
                "tf",
                "doc_len",
                F.lit(None).cast("binary").alias("pos_bytes"),
            )
            out = part if out is None else out.unionByName(part)
        return out

    # ---------- stage 3: hot terms / blockify ----------

    HOT_SAMPLE_MOD = 20  # 5% deterministic doc sample for hot-term detection

    def _hot_terms_sampled(self, docs: DataFrame) -> list[str]:
        """Hot-term detection from a deterministic 5% doc sample.

        Salting is a performance decision, not a correctness one: a term's
        df estimate only needs order-of-magnitude accuracy, so a hash-based
        sample (pure function of url → deterministic, resumable) avoids a
        full tokenize pass.
        """
        mod = self.HOT_SAMPLE_MOD
        sample = docs.filter(F.pmod(F.xxhash64("url"), F.lit(mod)) == 0)
        thr = max(self.meta.hot_df_threshold // mod, 1)
        hot = (
            self.posting_rows(sample)
            .groupBy("field", "term")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > thr)
            .select("term")
            .distinct()
        )
        return [r["term"] for r in hot.collect()]

    def blockify_wave(self, rows: DataFrame, wave: int,
                      hot_terms: list[str]) -> dict:
        """Salt the hot terms' posting rows, encode them and write base wave
        `wave` (a directory name only: every row of `rows` lands in it)."""
        salt = salt_column(hot_terms, self.meta.salt_span)
        t0 = time.time()
        write_base_blocks(
            encode_blocks(rows.withColumn("salt", salt), self.meta.block_size),
            os.path.join(self.paths.postings, f"wave={wave}"),
        )
        return {"build_ms": (time.time() - t0) * 1000}

    # ---------- stage 4: stats ----------

    def read_back_stats(self, wave: str, n_docs: int) -> dict:
        """BM25 stats of a base wave just written, read back from its
        blocks: {field: {"total_len", "n_docs"}} for every posting field,
        0 for a field without postings. A doc's field length is the sum of
        its tfs in that field, so a field's total length is Σ tf over its
        postings: one mapInArrow decodes the wave's doc, tf and len columns
        and sums each block's tfs, and a groupBy(field) brings back one row
        per field. `n_docs` is the wave's doc count."""

        def tf_sums(
            batches: Iterator[pa.RecordBatch],
        ) -> Iterator[pa.RecordBatch]:
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                dec = decode_blocks(*rb.columns[1:])
                tfs = dec.tfs.astype(np.int64)
                starts = np.cumsum(dec.counts) - dec.counts
                yield pa.RecordBatch.from_arrays(
                    [rb.column(0), pa.array(np.add.reduceat(tfs, starts))],
                    names=["field", "total_len"],
                )

        totals = dict(
            self.spark.read.schema(BLOCK_SCHEMA).parquet(wave)
            .select("field", "doc_bytes", "tf_bytes", "len_bytes")
            .mapInArrow(tf_sums, "field string, total_len long")
            .groupBy("field").agg(F.sum("total_len"))
            .collect()
        )
        return {
            f.name: {"total_len": int(totals.get(f.name, 0)), "n_docs": n_docs}
            for f in self.posting_fields()
        }

    def write_norms_stats_direct(
        self, docs: DataFrame | None, n_docs: int | None = None
    ) -> None:
        """The build's stats stage: base wave 0's stats (read_back_stats)
        and its dense-id count, published in one commit-log write. `docs`
        is not read; without `n_docs` the count comes from the docs
        footers."""
        from bayard_spark.build.segments import CommitLog

        if n_docs is None:
            _, n_docs = self.docs_footers(self.io.path("docs"))
        stats = self.read_back_stats(
            os.path.join(self.paths.postings, "wave=0"), n_docs
        )
        # Read-modify-write: committed segments and tombstones survive a
        # rebuild, and the high-water doc_id never moves back.
        log = CommitLog(self.paths.root)
        state = log.read()
        state["next_doc_id"] = max(int(state.get("next_doc_id", 0)), n_docs)
        state["stats"] = stats
        log.write(state)

    # ---------- orchestration ----------

    def build(self, source: DataFrame, resume: bool = True) -> BuildReport:
        """docs → blocks_w0 → stats; with `resume`, a stage whose lineage
        marker and output exist is skipped."""
        from bayard_spark.build.segments import CommitLog

        t_start = time.time()
        run: list[str] = []
        skipped: list[str] = []
        self.io.makedirs(self.paths.root)
        self._drop_multiwave_build(resume)
        self.io.write_text(self.paths.meta, self.meta.to_json())

        if resume and _success(self.paths.docs) and self._lineage_done("docs"):
            skipped.append("docs")
        else:
            t0 = time.time()
            self.write_docs(self.assign_doc_ids(source))
            self._log_lineage("docs", {"docs": self.last_n_docs,
                                       "build_ms": (time.time() - t0) * 1e3})
            run.append("docs")

        # the docs read takes its schema and the doc count from the footers
        schema, n_docs = self.docs_footers(self.io.path("docs"))
        docs = self.spark.read.schema(schema).parquet(self.paths.docs)
        # parquet reads coalesce small files toward maxPartitionBytes, which
        # can leave the (CPU-heavy) analyzer pass with 1-2 tasks on a small
        # corpus. Ensure at least one task per core; no-op at real scale
        # where file count >> cores.
        par = self.spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < par:
            docs = docs.repartition(par * 2)

        # one tokenize pass flows straight into the blockify exchange; hot
        # terms come from a deterministic 5% sample
        if resume and self._lineage_done("blocks"):
            skipped.append("blocks_w0")
        else:
            t0 = time.time()
            # Salt only a term whose true df can exceed the threshold: none
            # can when the threshold is at or above the doc count, and no
            # salt is nonzero when every doc_id // salt_span is 0. The 5%
            # sample's scaled estimate can pass such a threshold, so this
            # skip, not the sample, decides that no term is salted then.
            if (
                n_docs <= self.meta.salt_span
                or self.meta.hot_df_threshold >= n_docs
            ):
                hot_terms = []
            else:
                hot_terms = self._hot_terms_sampled(docs)
            t1 = time.time()
            rows = self.posting_rows(docs).withColumn(
                "bucket", self.term_bucket()
            )
            metrics = self.blockify_wave(rows, 0, hot_terms)
            metrics["hot_detect_ms"] = (t1 - t0) * 1e3
            metrics["n_hot_terms"] = len(hot_terms)
            self._log_lineage("blocks", metrics)
            run.append("blocks_w0")

        # stats are read back from the wave's blocks and live in the log
        if (
            resume and self._lineage_done("stats")
            and "stats" in CommitLog(self.paths.root).read()
        ):
            skipped.append("stats")
        else:
            t0 = time.time()
            self.write_norms_stats_direct(docs, n_docs)
            self._log_lineage("stats", {"build_ms": (time.time() - t0) * 1e3})
            run.append("stats")

        return BuildReport(
            n_docs=n_docs,
            stages_run=run,
            stages_skipped=skipped,
            wall_s=time.time() - t_start,
        )

    def _drop_multiwave_build(self, resume: bool) -> None:
        """An index begun by the old staged multi-wave build cannot resume:
        its completed stages may lack waves 1+. A fresh build
        (resume=False) removes the staging table, base waves 1+ and their
        lineage, which wave 0 alone would otherwise sit beside."""
        if not self._lineage_done("staging"):
            return
        if resume:
            raise RuntimeError(
                f"{self.paths.root} holds an interrupted or older multi-wave "
                "build; rebuild it with resume=False"
            )
        self.io.delete_dir(self.io.path("postings_staging"))
        for w in self.io.listdir(self.io.path("postings")):
            if re.fullmatch(r"wave=\d+", w) and w != "wave=0":
                self.io.delete_dir(self.io.path("postings", w))
        for f in self.io.listdir(self.io.path("lineage")):
            if f.startswith(("staging_", "blocks_")):
                self.io.delete_file(self.io.path("lineage", f))
