"""Distributed inverted-index build.

Pipeline (all stages declarative DataFrame ops; Python only inside Arrow
batches):

  source (url, warc_ts, html?, text, lang)
    │ 1. upsert: last write per url wins (window by url, warc_ts desc)
    │    — reference semantics bayard/src/node.rs:1191-1192 (delete_term+add)
    │ 2. dense doc_id: rank of url within url-hash bucket + bucket offset
    │    (deterministic: no sampling; one shuffle; bucket ranges contiguous)
    ├─ docs/    parquet, doc_id-sorted within partitions (min/max pruning)
    │ 3. analyzer pass (mapInPandas): per (doc, field, term) → tf, positions,
    │    doc_len — shuffle volume is postings, not token occurrences
    ├─ postings_staging/  parquet, partitioned by wave (= bucket % num_waves)
    │ 4. term df agg → hot-term set (df > hot_df_threshold) → salting plan
    │ 5. per wave: groupBy(bucket, term, salt) → applyInPandas block encoder
    │    (delta+varint, 128-doc blocks, block-max metadata as plain columns)
    ├─ postings/field=<f>/bucket=<b>/  parquet
    ├─ norms/   (field, doc_id, len)   — exact lengths (SURVEY §2.7)
    ├─ stats/   (field, n_docs, total_len, avg_len)
    └─ lineage/ per-stage/wave metrics: docs, postings, bytes, build_ms —
       restart skips completed stages/waves (resumable builds).

Salting: a hot term's postings are split into contiguous doc_id ranges
(salt = doc_id // salt_span), so concatenating salts in order preserves
global doc order — intersection/WAND never needs a re-sort. Cold terms get
salt 0. This is explicit skew handling for Zipfian df (SURVEY §7).

Scale notes: the only full-data shuffles are (dedupe by url) + (doc-bucket
exchange) + (staging write by wave) + (blockify exchange by bucket/term/salt).
All aggregations are partial-agg friendly. No driver-side iteration over
data, no collect() of anything larger than bucket counts (num_buckets rows).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bayard_spark.analysis.analyzer import Analyzer, build_analyzers
from bayard_spark.build.codec import encode_block, varint_encode, varint_lengths
from bayard_spark.schema import IndexMeta, IndexPaths

# positions are ALREADY delta+varint encoded per (doc, term) at analyzer
# time — one vectorized encode over the whole Arrow batch, zero-copy sliced
# into a BinaryArray. Block building then only concatenates bytes, and the
# block codec's segmented decode (absolute first position per doc) reads the
# concatenation directly.
POSTING_ROW_SCHEMA = (
    "doc_id long, field string, term string, tf int, doc_len int, "
    "pos_bytes binary"
)
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


def encode_group_frame(pdf: pd.DataFrame, block_size: int = 128) -> pd.DataFrame:
    """pandas frame of posting rows (doc_id, field, term, tf, doc_len,
    pos_bytes, bucket, salt) → block rows (BLOCK_SCHEMA). The independent
    per-group reference for encode_group_table, which every write path
    (build, segment put, merge) runs: tests pin the two byte-identical.

    pos_bytes per posting are already delta+varint framed (absolute first
    position per doc), so a block's pos_bytes is a plain concatenation —
    no position re-encoding ever happens after the analyzer pass."""
    pdf = pdf.sort_values(["field", "term", "salt", "doc_id"], ignore_index=True)
    out_rows = []
    for (fld, term, salt), g in pdf.groupby(["field", "term", "salt"], sort=False):
        doc_ids = g["doc_id"].to_numpy(dtype=np.int64)
        tfs = g["tf"].to_numpy(dtype=np.uint64)
        lens = g["doc_len"].to_numpy(dtype=np.uint64)
        has_pos = g["pos_bytes"].iloc[0] is not None
        pos_list = g["pos_bytes"].tolist() if has_pos else None
        bucket = int(g["bucket"].iloc[0])
        n = len(g)
        starts = np.arange(0, n, block_size)
        ends = np.minimum(starts + block_size, n)
        # whole-group varint encodes, sliced at block byte-boundaries —
        # per-block work is O(1) byte slicing, all math is vectorized
        deltas = doc_ids.astype(np.uint64).copy()
        with np.errstate(over="ignore"):
            deltas[1:] -= doc_ids[:-1].astype(np.uint64)
        deltas[starts] = doc_ids[starts].astype(np.uint64)  # blocks self-contained
        enc_d = varint_encode(deltas)
        off_d = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(varint_lengths(deltas), out=off_d[1:])
        enc_t = varint_encode(tfs)
        off_t = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(varint_lengths(tfs), out=off_t[1:])
        enc_l = varint_encode(lens)
        off_l = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(varint_lengths(lens), out=off_l[1:])
        max_tf = np.maximum.reduceat(tfs, starts)
        min_tf = np.minimum.reduceat(tfs, starts)
        max_len = np.maximum.reduceat(lens, starts)
        min_len = np.minimum.reduceat(lens, starts)
        for bi in range(len(starts)):
            b0, b1 = int(starts[bi]), int(ends[bi])
            out_rows.append(
                (fld, bucket, term, int(salt), bi, b1 - b0,
                 int(doc_ids[b0]), int(doc_ids[b1 - 1]),
                 int(max_tf[bi]), int(min_tf[bi]),
                 int(min_len[bi]), int(max_len[bi]),
                 enc_d[off_d[b0]:off_d[b1]],
                 enc_t[off_t[b0]:off_t[b1]],
                 enc_l[off_l[b0]:off_l[b1]],
                 b"".join(pos_list[b0:b1]) if has_pos else b"")
            )
    cols = [c.split(" ")[0] for c in BLOCK_SCHEMA.split(", ")]
    return pd.DataFrame(out_rows, columns=cols)


def encode_group_table(table: pa.Table, block_size: int = 128) -> pa.Table:
    """Arrow-native block encoder for one (bucket, salt) group.

    Same output as encode_group_frame (byte-identical blocks), but terms
    stay dictionary-encoded ints end-to-end: one lexsort over (field, term,
    salt, doc_id) int codes, run/block boundaries vectorized, ONE varint
    pass per payload column for the whole group, per-block byte slicing.
    Python work is O(#blocks), not O(#postings).
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

import pyarrow.compute as pc  # noqa: E402  (used by encode_group_table)


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

    def _log_lineage(self, stage: str, wave: int, metrics: dict) -> None:
        row = {
            "stage": stage,
            "wave": wave,
            "ts": time.time(),
            **{k: float(v) for k, v in metrics.items()},
        }
        self.io.write_text(
            self.io.path("lineage", f"{stage}_w{wave}.json"), json.dumps(row)
        )

    def _lineage_done(self, stage: str, wave: int = 0) -> bool:
        return self.io.exists(
            self.io.path("lineage", f"{stage}_w{wave}.json")
        )

    # ---------- stage 1: docs + dense ids ----------

    last_n_docs: int | None = None

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
        nb = self.meta.num_buckets
        bucket_col = F.pmod(F.xxhash64("url"), F.lit(nb)).cast("int")
        counts = {
            r["doc_bucket"]: r["n"]
            for r in source.select(bucket_col.alias("doc_bucket"), "url")
            .groupBy("doc_bucket")
            .agg(F.countDistinct("url").alias("n"))
            .collect()
        }
        offsets, acc = {}, 0
        for b in range(nb):
            offsets[b] = acc
            acc += counts.get(b, 0)
        self.last_n_docs = acc
        off_df = self.spark.createDataFrame(
            [(b, offsets[b]) for b in range(nb)], "doc_bucket int, _offset long"
        )
        src = source.withColumn(
            "_tb", F.xxhash64(*[F.col(c) for c in source.columns])
        ).withColumn("doc_bucket", bucket_col)
        w = Window.partitionBy("doc_bucket").orderBy(
            "url", F.desc("warc_ts"), F.desc("_tb")
        )
        is_first = (
            F.lag("url").over(w).isNull()
            | (F.lag("url").over(w) != F.col("url"))
        ).cast("int")
        cum = Window.partitionBy("doc_bucket").orderBy(
            "url", F.desc("warc_ts"), F.desc("_tb")
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
            deduped.join(F.broadcast(off_df), "doc_bucket")
            .withColumn("doc_id", F.col("_offset") + F.col("_urlrank") - 1)
            .drop("_offset", "doc_bucket", "_new", "_urlrank", "_tb")
        )

    def write_docs(self, with_ids: DataFrame) -> None:
        # with_ids is hash-partitioned by doc_bucket, and each bucket is a
        # CONTIGUOUS doc_id range by construction — a within-partition sort
        # already yields range-layout files (row-group min/max pruning works)
        # without repartitionByRange's extra sampling pass + shuffle.
        #
        # Per-field token lengths (_dl_<field>) are computed IN this pass
        # (the text already streams through it), so norms/stats later read
        # tiny int columns instead of re-tokenizing the corpus — one fewer
        # full text pass per build.
        (
            self._with_doc_lengths(with_ids.sortWithinPartitions("doc_id"))
            .write.mode("overwrite")
            .option("compression", self.meta.docstore_compression)
            .parquet(self.paths.docs)
        )

    def _with_doc_lengths(self, docs: DataFrame) -> DataFrame:
        """Append one `_dl_<field>` int column per text field (kept-token
        count under that field's analyzer) via a single Arrow pass."""
        from bayard_spark.analysis import arrow_native

        fields = [
            (f.name, self.analyzers[f.analyzer])
            for f in self.meta.text_fields()
        ]
        schema = ", ".join(
            [f"{f.name} {f.dataType.simpleString()}" for f in docs.schema]
            + [f"_dl_{name} int" for name, _ in fields]
        )

        def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for rb in batches:
                arrays = list(rb.columns)
                names = list(rb.schema.names)
                pdf = None
                for fname, an in fields:
                    col = rb.column(fname)
                    if arrow_native.supports(an):
                        lens = arrow_native.doc_lengths(col, an)
                    else:
                        if pdf is None:
                            pdf = rb.to_pandas()
                        frame = an.tokenize(pdf[fname].reset_index(drop=True))
                        lens = np.bincount(
                            frame["idx"].to_numpy(), minlength=rb.num_rows
                        ).astype(np.int32)
                    arrays.append(pa.array(lens, type=pa.int32()))
                    names.append(f"_dl_{fname}")
                yield pa.RecordBatch.from_arrays(arrays, names)

        return docs.mapInArrow(run, schema)

    # ---------- stage 2: analyzer pass → posting rows ----------

    def posting_rows(self, docs: DataFrame) -> DataFrame:
        fields = [
            (f.name, self.analyzers[f.analyzer], f.record)
            for f in self.meta.text_fields()
        ]
        want_pos = {name: rec == "position" for name, _, rec in fields}
        analyzer_by_field: dict[str, Analyzer] = {
            name: an for name, an, _ in fields
        }
        field_names = [name for name, _, _ in fields]

        from bayard_spark.analysis import arrow_native

        arrow_ok = {
            name: arrow_native.supports(analyzer_by_field[name])
            for name in field_names
        }

        def analyze_batch(rb: pa.RecordBatch) -> Iterator[pa.RecordBatch]:
            doc_ids = rb.column("doc_id").to_numpy(zero_copy_only=False)
            pdf = None
            for fname in field_names:
                an = analyzer_by_field[fname]
                if arrow_ok[fname]:
                    row_id, codes, pos, dictionary, doc_len = (
                        arrow_native.tokenize_ints(rb.column(fname), an)
                    )
                    batch = _runs_from_ints(
                        row_id, codes, pos, dictionary, doc_len,
                        doc_ids, fname, want_pos[fname],
                    )
                else:
                    if pdf is None:
                        pdf = rb.to_pandas()
                    frame = an.tokenize(pdf[fname].reset_index(drop=True))
                    if len(frame) == 0:
                        continue
                    batch = _runs_to_record_batch(
                        frame, doc_ids, fname, want_pos[fname]
                    )
                if batch is not None:
                    yield batch

        def analyze(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for rb in batches:
                yield from analyze_batch(rb)

        cols = ["doc_id"] + field_names
        out = docs.select(*cols).mapInArrow(analyze, POSTING_ROW_SCHEMA)
        extra = self._bytes_posting_rows(docs)
        if extra is not None:
            out = out.unionByName(extra)
        extra = self._json_posting_rows(docs)
        if extra is not None:
            out = out.unionByName(extra)
        return out

    def _bytes_posting_rows(self, docs: DataFrame) -> DataFrame | None:
        """bytes fields (docs/schema.md:27,106-122): one raw term per value,
        encoded base64 (the reference API carries bytes values as base64).
        Pure JVM expressions — no Python."""
        bfields = [
            f for f in self.meta.fields if f.type == "bytes" and f.indexed
        ]
        out: DataFrame | None = None
        for f in bfields:
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
        jfields = [
            f for f in self.meta.fields
            if f.type == "json_object" and f.indexed
        ]
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

    # ---------- stage 3: staging / df / blockify ----------

    def stage_postings(self, docs: DataFrame) -> None:
        nb = self.meta.num_buckets
        nw = self.meta.num_waves
        rows = self.posting_rows(docs).withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(nb)).cast("int")
        ).withColumn("wave", (F.col("bucket") % nw).cast("int"))
        (
            rows.write.mode("overwrite")
            .partitionBy("wave")
            .parquet(self._staging_path)
        )

    @property
    def _staging_path(self) -> str:
        return os.path.join(self.paths.root, "postings_staging")

    def _hot_terms(self, staging: DataFrame) -> list[str]:
        thr = self.meta.hot_df_threshold
        hot = (
            staging.groupBy("field", "term")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > thr)
            .select("term")
            .distinct()
        )
        return [r["term"] for r in hot.collect()]

    HOT_SAMPLE_MOD = 20  # 5% deterministic doc sample for hot-term detection

    def _hot_terms_sampled(self, docs: DataFrame) -> list[str]:
        """Hot-term detection from a deterministic 5% doc sample (fast path).

        Salting is a performance decision, not a correctness one: a term's
        df estimate only needs order-of-magnitude accuracy, so a hash-based
        sample (pure function of url → deterministic, resumable) avoids a
        full tokenize pass. Multi-wave builds use exact df over the durable
        staging table instead.
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

    def norms_direct(self, docs: DataFrame) -> DataFrame:
        """(field, doc_id, len) from the `_dl_<field>` columns materialized
        by write_docs — a JVM-only unpivot of tiny int columns (the text is
        NOT re-tokenized). bytes fields contribute len 0/1 (JVM expr);
        json_object fields derive lengths from the written posting blocks
        (their token counts only exist post-expansion)."""
        out: DataFrame | None = None
        for f in self.meta.text_fields():
            part = docs.select(
                F.lit(f.name).alias("field"),
                "doc_id",
                F.col(f"_dl_{f.name}").cast("int").alias("len"),
            )
            out = part if out is None else out.unionByName(part)
        for f in self.meta.fields:
            if f.type == "bytes" and f.indexed:
                part = docs.select(
                    F.lit(f.name).alias("field"),
                    "doc_id",
                    F.when(F.col(f.name).isNotNull(), 1)
                    .otherwise(0)
                    .cast("int")
                    .alias("len"),
                )
                out = part if out is None else out.unionByName(part)
        jnames = [
            f.name for f in self.meta.fields
            if f.type == "json_object" and f.indexed
        ]
        if jnames:
            jn = self.norms_from_blocks(fields=jnames).select(
                "field", "doc_id", F.col("len").cast("int").alias("len")
            )
            out = jn if out is None else out.unionByName(jn)
        assert out is not None, "index has no indexed fields"
        return out

    def norms_from_blocks(self, fields: list[str] | None = None) -> DataFrame:
        """Derive (field, doc_id, len) by decoding block doc/len columns —
        a pass over the COMPRESSED index instead of a second tokenize."""
        from bayard_spark.build.codec import delta_decode, varint_decode

        blocks = read_postings(self.spark, self.paths).select(
            "field", "doc_bytes", "len_bytes"
        )
        if fields is not None:
            blocks = blocks.filter(F.col("field").isin(fields))

        def run(batches):
            for pdf in batches:
                fields, dids, lens = [], [], []
                for r in pdf.itertuples(index=False):
                    d = delta_decode(varint_decode(r.doc_bytes))
                    ln = varint_decode(r.len_bytes)
                    fields.append(np.full(len(d), r.field, dtype=object))
                    dids.append(d.astype(np.int64))
                    lens.append(ln.astype(np.int64))
                if dids:
                    yield pd.DataFrame(
                        {
                            "field": np.concatenate(fields),
                            "doc_id": np.concatenate(dids),
                            "len": np.concatenate(lens),
                        }
                    )

        decoded = blocks.mapInPandas(run, "field string, doc_id long, len long")
        return decoded.groupBy("field", "doc_id").agg(F.max("len").alias("len"))

    def blockify_wave(self, staging: DataFrame, wave: int,
                      hot_terms: list[str]) -> dict:
        meta = self.meta
        span = meta.salt_span
        block_size = meta.block_size

        part = staging.filter(F.col("wave") == wave)
        if hot_terms:
            hot_set = F.array([F.lit(t) for t in hot_terms])
            part = part.withColumn(
                "salt",
                F.when(
                    F.array_contains(hot_set, F.col("term")),
                    (F.col("doc_id") / F.lit(span)).cast("int"),
                ).otherwise(F.lit(0)),
            )
        else:
            part = part.withColumn("salt", F.lit(0))

        # project to exactly the encoder's inputs BEFORE the exchange: the
        # `wave` bookkeeping column (and anything else a caller left on the
        # frame) would otherwise ride the full posting-row shuffle — 8+
        # bytes × every posting in the corpus (guide §2.3)
        part = part.select(
            "doc_id", "field", "term", "tf", "doc_len", "pos_bytes",
            "bucket", "salt",
        )

        def encode_group(table: pa.Table) -> pa.Table:
            return encode_group_table(table, block_size)

        blocks = part.groupBy("bucket", "salt").applyInArrow(
            encode_group, BLOCK_SCHEMA
        )
        t0 = time.time()
        (
            # The groupBy exchange above hash-partitions by (bucket, salt),
            # so every bucket's rows (per salt) already sit in exactly ONE
            # task and the dynamic-partition writer emits one file per
            # (field, bucket) dir per salt group — no re-shuffle of the
            # encoded block payloads is needed to keep the commit's file
            # count at O(dirs). (r7: the previous explicit
            # repartition(field, bucket) re-shuffled the entire encoded
            # index a second time for a layout the encode exchange already
            # guarantees — measured ~30% of the blockify stage at 960k.)
            blocks.write.mode("overwrite")
            .partitionBy("field", "bucket")
            .parquet(os.path.join(self.paths.postings, f"wave={wave}"))
        )
        return {"build_ms": (time.time() - t0) * 1000}

    # ---------- stage 4: norms + stats ----------

    def write_norms_stats(
        self, staging: DataFrame, n_docs: int | None = None
    ) -> None:
        norms = (
            staging.groupBy("field", "doc_id")
            .agg(F.max("doc_len").alias("len"))
        )
        norms.repartition("field").write.mode("overwrite").partitionBy(
            "field"
        ).parquet(self.paths.norms)
        if n_docs is None:
            n_docs = self.spark.read.parquet(self.paths.docs).count()
        self._write_stats_from_norms(n_docs)

    def write_norms_stats_direct(
        self, docs: DataFrame, n_docs: int | None = None
    ) -> None:
        """Fast-path variant: shuffle-free norms from the analyzer kernels."""
        norms = self.norms_direct(docs)
        norms.repartition("field").write.mode("overwrite").partitionBy(
            "field"
        ).parquet(self.paths.norms)
        if n_docs is None:
            n_docs = self.spark.read.parquet(self.paths.docs).count()
        self._write_stats_from_norms(n_docs)

    def write_norms_stats_from_blocks(self, n_docs: int | None = None) -> None:
        """Merge-path variant: norms decoded from the written blocks."""
        norms = self.norms_from_blocks()
        norms.repartition("field").write.mode("overwrite").partitionBy(
            "field"
        ).parquet(self.paths.norms)
        if n_docs is None:
            n_docs = self.spark.read.parquet(self.paths.docs).count()
        self._write_stats_from_norms(n_docs)

    def _write_stats_from_norms(self, n_docs: int) -> None:
        stats = (
            self.spark.read.parquet(self.paths.norms)
            .groupBy("field")
            .agg(
                F.count("*").alias("n_docs_field"),
                F.sum("len").alias("total_len"),
            )
            .withColumn("n_docs", F.lit(n_docs))
            .withColumn(
                "avg_len", F.col("total_len") / F.col("n_docs")
            )
        )
        stats.write.mode("overwrite").parquet(self.paths.stats)

    # ---------- orchestration ----------

    def build(self, source: DataFrame, resume: bool = True) -> BuildReport:
        t_start = time.time()
        run: list[str] = []
        skipped: list[str] = []
        self.io.makedirs(self.paths.root)
        self.io.write_text(self.paths.meta, self.meta.to_json())

        n_docs: int | None = None
        if resume and _success(self.paths.docs) and self._lineage_done("docs"):
            skipped.append("docs")
        else:
            t0 = time.time()
            with_ids = self.assign_doc_ids(source)
            self.write_docs(with_ids)
            n_docs = self.last_n_docs
            self._log_lineage("docs", 0, {"docs": n_docs,
                                          "build_ms": (time.time() - t0) * 1e3})
            run.append("docs")

        docs = self.spark.read.parquet(self.paths.docs)
        # parquet reads coalesce small files toward maxPartitionBytes, which
        # can leave the (CPU-heavy) analyzer pass with 1-2 tasks on a small
        # corpus. Ensure at least one task per core; no-op at real scale
        # where file count >> cores.
        par = self.spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < par:
            docs = docs.repartition(par * 2)

        if self.meta.num_waves <= 1:
            # FAST PATH (single wave): no staging parquet, no persist — ONE
            # full tokenize pass flows straight into the blockify exchange.
            # Hot terms come from a deterministic 5% sample; norms are
            # decoded from the written blocks (compressed, much smaller than
            # a staging table). Resume granularity is unchanged (a single
            # wave restarts whole either way). Multi-wave builds (the 100 TB
            # path) keep the durable staging table, which is what makes
            # waves independently restartable.
            staging = None
            if resume and self._lineage_done("blocks", 0):
                skipped.append("blocks_w0")
            else:
                t0 = time.time()
                hot_terms = self._hot_terms_sampled(docs)
                t1 = time.time()
                nb = self.meta.num_buckets
                rows = (
                    self.posting_rows(docs)
                    .withColumn(
                        "bucket",
                        F.pmod(F.xxhash64("term"), F.lit(nb)).cast("int"),
                    )
                    .withColumn("wave", F.lit(0))
                )
                metrics = self.blockify_wave(rows, 0, hot_terms)
                metrics["hot_detect_ms"] = (t1 - t0) * 1e3
                metrics["n_hot_terms"] = len(hot_terms)
                self._log_lineage("blocks", 0, metrics)
                run.append("blocks_w0")
        else:
            if resume and _success(self._staging_path) and self._lineage_done(
                "staging"
            ):
                skipped.append("staging")
            else:
                t0 = time.time()
                self.stage_postings(docs)
                self._log_lineage(
                    "staging", 0, {"build_ms": (time.time() - t0) * 1e3}
                )
                run.append("staging")

            staging = self.spark.read.parquet(self._staging_path)
            hot_terms = self._hot_terms(staging)

            for wave in range(self.meta.num_waves):
                if resume and self._lineage_done("blocks", wave):
                    skipped.append(f"blocks_w{wave}")
                    continue
                metrics = self.blockify_wave(staging, wave, hot_terms)
                self._log_lineage("blocks", wave, metrics)
                run.append(f"blocks_w{wave}")

        if resume and _success(self.paths.stats) and self._lineage_done(
            "stats"
        ):
            skipped.append("stats")
        else:
            t0 = time.time()
            if staging is None:
                self.write_norms_stats_direct(docs, n_docs)
            else:
                self.write_norms_stats(staging, n_docs)
            self._log_lineage("stats", 0,
                              {"build_ms": (time.time() - t0) * 1e3})
            run.append("stats")

        if n_docs is None:
            n_docs = self.spark.read.parquet(self.paths.docs).count()
        return BuildReport(
            n_docs=n_docs,
            stages_run=run,
            stages_skipped=skipped,
            wall_s=time.time() - t_start,
        )


def read_postings(spark: SparkSession, paths: IndexPaths) -> DataFrame:
    """All postings blocks across waves (wave dirs are a build artifact;
    readers see one logical table)."""
    return spark.read.option("basePath", paths.postings).parquet(
        os.path.join(paths.postings, "wave=*")
    ).drop("wave")
