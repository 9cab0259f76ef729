"""Segment lifecycle: incremental puts, deletes, commit/rollback, merge.

Reference semantics re-expressed for a storage-shared Spark layout:

- put_documents: upsert = delete-by-id + add, buffered until commit
  (bayard/src/node.rs:1108-1196, upsert pair :1191-1192). Here: a new
  SEGMENT (one postings file + a docs table) is staged; existing urls
  are tombstoned. Nothing is visible until commit(). An update-sized
  batch stages on the driver in one Spark job, the one that brings it
  back; a larger one in Spark.
- delete_documents: tombstone doc_ids by url (node.rs:1198-1241), found
  through the url field's postings on the driver (no Spark job).
- commit: atomically publish staged segments + tombstones by rewriting the
  commit log (node.rs:1243-1261 — tantivy IndexWriter::commit per shard;
  ours is one atomic rename, strictly stronger than the reference's
  all-shards-must-succeed fan-out, client.rs:622-658).
- rollback: drop staged-but-uncommitted segments (node.rs:1263-1281).
- merge_segments: sort-merge compaction of posting blocks across segments,
  applying tombstones physically and resetting the log (the tantivy
  background-merge analogue, CHANGES.md 0.3.0 #49).

The commit log is a JSON file listing visible segment names and the current
tombstone files; every reader resolves it once, through one `Snapshot`, so
concurrent readers see either the old or the new snapshot (rename is atomic
on a posix fs; on an object store this file maps to an Iceberg snapshot
pointer).
"""

from __future__ import annotations

import json
import os
import posixpath
import re
import secrets
import time
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from functools import cached_property, reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from bayard_spark.build.codec import decode_blocks
from bayard_spark.build.indexer import (
    BLOCK_SCHEMA,
    POSTING_ROW_ARROW,
    TIEBREAK,
    UPSERT_ORDER,
    TextAnalysis,
    encode_blocks,
    row_tiebreak,
    salt_column,
    upsert_order,
    write_base_blocks,
)
from bayard_spark.build.xxh64 import hash_buckets
from bayard_spark.fsio import IndexFS
from bayard_spark.schema import IndexPaths

COMMIT_LOG = "commits.json"

# Explicit read schemas: a schema-less spark.read.parquet runs one
# schema-inference job per call, per table and per segment, on every
# snapshot open and put. `wave` is the partition column of the postings
# tree; field and bucket are already in BLOCK_SCHEMA.
POSTINGS_READ_SCHEMA = BLOCK_SCHEMA + ", wave string"
# The same hive directory levels for pyarrow reads of the postings tree.
POSTINGS_PARTITIONING = ds.partitioning(
    pa.schema([
        ("wave", pa.string()), ("field", pa.string()), ("bucket", pa.int32()),
    ]),
    flavor="hive",
)
TOMBSTONE_SCHEMA = "doc_id long"
# Footer key holding the Spark schema a parquet file was written with. It
# keeps Spark-only types (timestamp_ntz) that an Arrow conversion of the
# parquet schema would turn into plain timestamps.
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
# Spark reads a file whose footer names a Spark version, and no legacy
# calendar key, without rebasing its dates and timestamps.
SPARK_VERSION_METADATA = b"org.apache.spark.version"
# Row order and statistics columns of a segment's postings file.
SEGMENT_SORT = ["field", "bucket", "term", "salt", "block_id"]


class CommitLog:
    """Snapshot pointer, routed through IndexFS so it works on object
    stores (local paths, s3://, hdfs:// resolve from the same root URI)."""

    def __init__(self, root: str):
        self.root = root
        self.io = IndexFS(root)
        self.path = self.io.path(COMMIT_LOG)

    def read(self) -> dict:
        if not self.io.exists(self.path):
            return {"segments": [], "tombstones": [], "version": 0}
        return json.loads(self.io.read_text(self.path))

    def write(self, state: dict) -> None:
        self.io.publish(self.path, json.dumps(state, indent=1))

    def committed_segments(self) -> list[str]:
        return list(self.read()["segments"])


class SegmentWriter:
    """Stages new segments; commit()/rollback() control visibility.

    A put or a delete resolves urls against the writer's view: the
    committed snapshot plus this writer's staged segments and tombstones.
    So a url put twice before one commit keeps one live version, and a url
    put and then deleted keeps none. Urls are found through the url
    field's postings, so `url` must be an indexed text field under the
    raw analyzer, and a null or empty url (which has no url posting) is
    rejected."""

    # A put of at most BULK_ID_THRESHOLD rows and BULK_BYTES_THRESHOLD
    # Arrow bytes runs on the driver: one Spark job brings the batch back,
    # and the driver deduplicates it, finds the urls it replaces, assigns
    # ids, writes the docs and tombstone files, analyzes and buckets the
    # text and writes the postings. A larger batch, which need not fit in
    # driver memory, stages through Spark with the build's bucket-offset
    # ids. The row bound caps what the job brings back; the byte bound
    # caps the driver's work after it, whose peak grows with the batch's
    # bytes: about 10x its Arrow bytes of Python on webtext, since the
    # analyzer's token arrays live on the driver. Measured on webtext, 4
    # cores, 2 GB driver heap (median of 3 puts; Python peak by
    # tracemalloc), against the two-job put this replaced: 1,024 rows
    # 0.29 s (was 0.73 s), 17 MB (8 MB); 4,096 rows 0.56 s (1.10 s),
    # 52 MB (29 MB); 16,384 rows (22 MB of Arrow) 1.96 s (2.87 s), 235 MB
    # (114 MB); 7,800 wide rows (30 MiB) 2.06 s (2.76 s), 295 MB
    # (116 MB). The Spark path took 7.3-8.5 s at 16,384 rows
    # (ARCHITECTURE.md, Commit/rollback).
    BULK_ID_THRESHOLD = 16_384
    BULK_BYTES_THRESHOLD = 32 << 20

    def __init__(self, spark: SparkSession, builder) -> None:
        # builder: bayard_spark.build.indexer.IndexBuilder (shares analyzers,
        # meta, paths)
        url = {f.name: f for f in builder.meta.fields}.get("url")
        an = url and builder.analyzers.get(url.analyzer)
        if not (
            url and url.type == "text" and url.indexed
            and an and an.tokenizer_name == "raw" and not an.filter_specs
        ):
            raise ValueError(
                "a SegmentWriter needs `url` to be an indexed text field "
                "under the raw analyzer: puts and deletes find a url's "
                "live docs through its url postings"
            )
        self.spark = spark
        self.b = builder
        self.paths: IndexPaths = builder.paths
        self.log = CommitLog(self.paths.root)
        self.io = self.log.io
        self._staged_segments: list[str] = []
        self._staged_tombstones: list[str] = []
        self._reserved_next: int | None = None
        self._reserved_base: int | None = None

    # ---------- helpers ----------

    def _view(self) -> Snapshot:
        """The committed snapshot plus this writer's staged segments and
        tombstones."""
        state = self.log.read()
        return Snapshot(self.paths, {
            **state,
            "segments": state["segments"] + self._staged_segments,
            "tombstones": state["tombstones"] + self._staged_tombstones,
        })

    def _next_doc_id(self, view: Snapshot) -> int:
        """High-water doc_id — ids are never reused.

        Served from the commit log's persisted `next_doc_id` (one JSON
        read, zero Spark jobs), maxed against the reservation markers of
        any STAGED-but-uncommitted segments on disk: a second interleaved
        writer advances its reservations via tiny `_reserved.json` files
        before it commits, so two writers never hand out the same range
        (ADVICE r4 — the old committed-only read reintroduced the
        collision the original dir scan prevented). The build publishes
        the first `next_doc_id` (its dense-id count). Within a writer the
        reservation advances locally as puts stage ids, so consecutive
        puts don't re-read the log. Until its first reservation a writer
        has staged no segment, so `view` names only committed ones."""
        if self._reserved_next is not None:
            return self._reserved_next
        nd = max(
            view.next_doc_id,
            self._staged_reservation_high(set(view.state["segments"])),
        )
        self._reserved_next = nd
        self._reserved_base = nd
        return nd

    def _staged_reservation_high(self, committed: set[str]) -> int:
        """Max reserved id bound over segment dirs not in `committed`
        (other writers' staged work). Marker reads are tiny JSON files — no
        Spark jobs."""
        seg_root = self.io.path("segments")
        high = 0
        for seg in self.io.listdir(seg_root):
            if seg in committed:
                continue
            marker = posixpath.join(seg_root, seg, "_reserved.json")
            if self.io.exists(marker):
                # an unreadable marker hides another writer's range, which
                # would hand out overlapping ids; refuse to guess
                try:
                    high = max(
                        high, int(json.loads(self.io.read_text(marker))["next"])
                    )
                except (ValueError, KeyError, TypeError) as e:
                    raise ValueError(
                        f"corrupt reservation marker {marker}: {e}"
                    ) from e
        return high

    def _segment_name(self) -> str:
        # the random part keeps two writers in one millisecond, or one
        # writer's successive deletes, from writing the same files
        return f"seg{int(time.time() * 1000)}_{secrets.token_hex(4)}"

    def _reserve(self, seg: str, base: int, n: int) -> None:
        """Take ids [base, base + n) and publish the reservation BEFORE any
        data lands: a concurrent writer created after this point sees the
        marker and reserves past base + n (see _staged_reservation_high)."""
        self._reserved_next = base + n
        seg_dir = self.io.path("segments", seg)
        self.io.makedirs(seg_dir)
        self.io.write_text(
            posixpath.join(seg_dir, "_reserved.json"),
            json.dumps({"next": base + n}),
        )

    def _stage(self, seg: str, ts_file: str) -> str:
        self._staged_segments.append(seg)
        self._staged_tombstones.append(ts_file)
        return seg

    # ---------- §2.1 put / delete ----------

    def put_documents(self, source: DataFrame) -> str:
        """Stage an upsert segment; returns segment name (invisible until
        commit). Last write per url wins within the batch, ties broken as
        the build breaks them; urls live in the writer's view get
        tombstoned (delete-by-id + add).

        One Spark job brings back at most BULK_ID_THRESHOLD + 1 rows with
        the build's tiebreak hash; a batch within both gates stages on the
        driver (`_put_on_driver`), a larger one through Spark."""
        seg = self._segment_name()
        batch = (
            source.select("*", row_tiebreak(source).alias(TIEBREAK))
            .limit(self.BULK_ID_THRESHOLD + 1)
            .toArrow()
        )
        if (
            batch.num_rows > self.BULK_ID_THRESHOLD
            or batch.nbytes > self.BULK_BYTES_THRESHOLD
        ):
            del batch  # the Spark path reads the source again
            return self._put_with_spark(seg, source)
        return self._put_on_driver(seg, batch, source.schema)

    def _put_on_driver(
        self, seg: str, batch: pa.Table, schema: StructType
    ) -> str:
        """Dedupe, url lookup, ids, the docs and tombstone files, the
        text fields' analyzer pass (`analyze_on_driver`), the term buckets
        (`hash_buckets`, Spark's xxhash64 in numpy) and the encode step,
        all on the driver: no Spark job. A meta with indexed bytes or
        json_object fields builds their rows in Spark, in one action over
        doc_id and those columns only."""
        check_urls(batch["url"])
        batch = batch.take(pc.sort_indices(
            batch, sort_keys=list(UPSERT_ORDER), null_placement="at_end"
        ))
        url = batch["url"].combine_chunks()
        first = np.ones(len(url), dtype=bool)
        first[1:] = pc.not_equal(url[1:], url[:-1]).to_numpy(
            zero_copy_only=False
        )
        latest = batch.filter(pa.array(first)).drop_columns([TIEBREAK])
        view = self._view()
        dead = view.live_url_ids(latest["url"])
        # ids by url rank, as Spark's window over the same batch gives them
        base, n = self._next_doc_id(view), latest.num_rows
        latest = latest.append_column(
            pa.field("doc_id", pa.int64(), nullable=False),
            [np.arange(base, base + n, dtype=np.int64)],
        )
        self._reserve(seg, base, n)
        ts_file = self.io.path("tombstones", f"{seg}.parquet")
        write_tombstones(self.io, ts_file, dead)
        self._write_docs(seg, latest, StructType(
            schema.fields + [StructField("doc_id", LongType(), False)]
        ))
        rows = [analyze_on_driver(self.b.text_analysis(), latest)]
        jvm_cols = [
            f.name for f in self.b.posting_fields() if f.type != "text"
        ]
        if jvm_cols:
            rows.append(self.b.jvm_posting_rows(self.spark.createDataFrame(
                latest.select(["doc_id", *jvm_cols]),
                StructType([StructField("doc_id", LongType(), False)]
                           + [schema[c] for c in jvm_cols]),
            )).toArrow().cast(POSTING_ROW_ARROW))
        rows = pa.concat_tables(rows)
        blocks = encode_blocks(
            rows.append_column(
                "bucket", [hash_buckets(rows["term"], self.b.meta.num_buckets)]
            ).append_column(
                "salt", pa.array(np.zeros(rows.num_rows, dtype=np.int32))
            ),
            self.b.meta.block_size,
        )
        # zstd: a put's one small postings file is about 16% smaller
        # than with snappy, and every put adds one until a merge
        write_parquet(
            self.io, self.io.path("postings", f"wave={seg}"),
            blocks.sort_by([(c, "ascending") for c in SEGMENT_SORT]),
            compression="zstd",
            use_dictionary=["field", "term"],
            write_statistics=SEGMENT_SORT,
        )
        return self._stage(seg, ts_file)

    def _write_docs(self, seg: str, docs: pa.Table, schema: StructType) -> None:
        """A driver-side put's docs file, no larger than Spark's for the
        same rows: the footer carries the Spark schema (footer_spark_schema
        reads it), min/max statistics exist only where a reader prunes
        (doc_id and the fast fields), only a column with at most half as
        many distinct values as rows is dictionary-encoded, and zstd runs
        at parquet-mr's default level 3."""
        meta = self.b.meta
        fast = {f.name for f in meta.fields if f.fast}
        codec = {"uncompressed": "none"}.get(
            meta.docstore_compression, meta.docstore_compression
        )
        write_parquet(
            self.io, self.io.path("segments", seg, "docs"),
            docs.replace_schema_metadata({
                SPARK_ROW_METADATA: schema.json(),
                SPARK_VERSION_METADATA: self.spark.version,
            }),
            compression=codec,
            compression_level=3 if codec == "zstd" else None,
            use_dictionary=[
                c for c in docs.column_names
                if 2 * pc.count_distinct(docs[c]).as_py() <= docs.num_rows
            ],
            write_statistics=[
                c for c in docs.column_names if c == "doc_id" or c in fast
            ],
        )

    def _put_with_spark(self, seg: str, source: DataFrame) -> str:
        """A batch over the gate: the url window, the build's bucket-offset
        ids, the tombstone join against the writer's view of the doc store
        and every write run in Spark; the tombstones land in one file. The deduplicated batch feeds the
        count, the ids and the join, so it is persisted for the call: the
        url window runs once instead of once per action."""
        latest = (
            source.withColumn(TIEBREAK, row_tiebreak(source))
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("url").orderBy(*upsert_order())
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn", TIEBREAK)
            .persist()
        )
        try:
            n, bad = latest.agg(
                F.count("*"),
                F.count(F.when(F.coalesce("url", F.lit("")) == "", 1)),
            ).first()
            if bad:
                raise ValueError(f"{bad} put urls are null or empty")
            view = self._view()
            base = self._next_doc_id(view)
            with_ids = self._assign_ids_bucketed(latest, base)
            self._reserve(seg, base, n)
            ts_file = self.io.path("tombstones", f"{seg}.parquet")
            (
                view.docs(self.spark)
                .join(latest.select("url"), "url").select("doc_id")
                .coalesce(1).write.mode("overwrite").parquet(ts_file)
            )
            seg_docs = os.path.join(self.paths.root, "segments", seg, "docs")
            (
                with_ids.write.mode("overwrite")
                .option("compression", self.b.meta.docstore_compression)
                .parquet(seg_docs)
            )
            docs_df = self.spark.read.schema(with_ids.schema).parquet(seg_docs)
            self._write_segment_blocks(
                self.b.posting_rows(docs_df).withColumn(
                    "bucket", self.b.term_bucket()
                ),
                seg,
            )
        finally:
            latest.unpersist()
        return self._stage(seg, ts_file)

    def _assign_ids_bucketed(self, latest: DataFrame, base: int) -> DataFrame:
        """Dense deterministic ids for a large batch from the build's bucket
        offsets (IndexBuilder.bucket_offsets), then a url rank within each
        bucket; no dedupe (latest is already one row per url)."""
        off_df, _ = self.b.bucket_offsets(latest, F.count("*"), base)
        w = Window.partitionBy("doc_bucket").orderBy("url")
        return (
            latest.withColumn("doc_bucket", self.b.url_bucket())
            .join(off_df, "doc_bucket")
            .withColumn(
                "doc_id", F.col("_offset") + F.row_number().over(w) - 1
            )
            .drop("doc_bucket", "_offset")
        )

    def delete_documents(self, urls: list[str]) -> str:
        """Stage deletes: tombstone every doc live in the writer's view
        whose url matches. The lookup and the write run on the driver
        (zero Spark jobs)."""
        seg = self._segment_name() + "_del"
        urls = pa.array(urls, type=pa.string())
        check_urls(urls)
        ts_file = self.io.path("tombstones", f"{seg}.parquet")
        write_tombstones(self.io, ts_file, self._view().live_url_ids(urls))
        self._staged_tombstones.append(ts_file)
        return seg

    def _write_segment_blocks(self, rows: DataFrame, seg: str) -> None:
        """The build's and merge's encode step, so a segment's blocks are
        byte-identical to what a build over the same postings writes. The
        segment is ONE file sorted by (field, bucket, term), with field and
        bucket as data columns: a (field, bucket) directory tree would cost
        one file and one footer per pair, most of a small put's bytes."""
        blocks = encode_blocks(
            rows.withColumn("salt", F.lit(0)), self.b.meta.block_size
        )
        (
            blocks.coalesce(1)
            .sortWithinPartitions(*SEGMENT_SORT)
            .write.mode("overwrite")
            .parquet(os.path.join(self.paths.postings, f"wave={seg}"))
        )

    # ---------- §2.1 commit / rollback ----------

    def commit(self) -> dict:
        """Publish staged segments + tombstones atomically.

        Each commit records its [base, next) id range in the log; a commit
        whose staged range INTERSECTS an already-committed range fails
        loudly — that means another writer (created before our reservation
        marker existed) handed out overlapping doc_ids, and publishing
        would stage duplicates the max() merge below would silently mask.
        Ranges reserved correctly via the markers never intersect, so
        marker-honoring writers commit in any order."""
        state = self.log.read()
        if self._staged_segments and self._reserved_base is not None:
            lo, hi = self._reserved_base, self._reserved_next
            for other in state.get("id_ranges", []):
                if other[0] < hi and other[1] > lo:
                    raise RuntimeError(
                        "doc-id reservation conflict: committed range "
                        f"[{other[0]}, {other[1]}) overlaps this writer's "
                        f"staged range [{lo}, {hi}) — another writer "
                        "reserved before our marker existed; rollback() "
                        "and re-stage."
                    )
            state.setdefault("id_ranges", []).append([lo, hi])
        state["segments"].extend(self._staged_segments)
        state["tombstones"].extend(self._staged_tombstones)
        state["version"] += 1
        if self._reserved_next is not None:
            state["next_doc_id"] = max(
                int(state.get("next_doc_id", 0)), self._reserved_next
            )
        self.log.write(state)
        self._staged_segments = []
        self._staged_tombstones = []
        # Start a NEW reservation window: the range just committed is now in
        # id_ranges, so a writer reused across commits (StreamingIngestor
        # commits per micro-batch: put→commit→put→commit) must not re-check
        # its own published range against its next staged one (ADVICE r4 —
        # the stale base raised a spurious reservation-conflict error on the
        # second non-empty epoch).
        if self._reserved_next is not None:
            self._reserved_base = self._reserved_next
        return state

    def rollback(self) -> None:
        """Discard staged work (files removed; log untouched)."""
        for seg in self._staged_segments:
            self.io.delete_dir(
                posixpath.join(self.paths.postings, f"wave={seg}")
            )
            self.io.delete_dir(self.io.path("segments", seg))
        for ts in self._staged_tombstones:
            self.io.delete_dir(ts)
        self._staged_segments = []
        self._staged_tombstones = []


def parquet_files(io: IndexFS, path: str) -> list[str]:
    """Data files of a Spark-written parquet table directory ([] when it
    does not exist); `_SUCCESS`, `.crc` and anything under a `_`/`.`
    prefixed entry (e.g. `_temporary`) are skipped, as Spark's listing
    does."""
    sel = pafs.FileSelector(path, recursive=True, allow_not_found=True)
    return sorted(
        fi.path
        for fi in io.fs.get_file_info(sel)
        if fi.type == pafs.FileType.File
        and fi.base_name.endswith(".parquet")
        and not any(
            p.startswith(("_", "."))
            for p in posixpath.relpath(fi.path, path).split("/")
        )
    )


def read_footers(io: IndexFS, table: str) -> list[tuple[str, pq.FileMetaData]]:
    """(file, footer) of each data file of table directory `table`. Spark
    and `write_parquet` write at least one file per table, empty or not,
    so a table without one is missing."""
    files = parquet_files(io, table)
    if not files:
        raise FileNotFoundError(f"committed table missing: {table}")
    return [(f, pq.read_metadata(f, filesystem=io.fs)) for f in files]


def footer_spark_schema(md: pq.FileMetaData, path: str) -> StructType:
    """The Spark schema a parquet file was written with, from its footer."""
    kv = md.metadata or {}
    if SPARK_ROW_METADATA not in kv:
        raise ValueError(f"{path}: no Spark schema in the parquet footer")
    return StructType.fromJson(json.loads(kv[SPARK_ROW_METADATA]))


class Snapshot:
    """One version of the index: the base waves and doc store plus the
    segments, tombstones and BM25 stats one commit-log state names.

    The log is read once, when no state is given. Each part is listed, and
    each of its footers read, the first time a caller asks for it and
    never again, so every table a reader takes from one Snapshot belongs
    to the same version, and a put or a delete pays only for the postings
    and tombstones it reads. Nothing here runs a Spark job: Spark reads
    carry explicit schemas and name the same directories as ever (more
    than 32 paths in one read would run a listing job). A file the log
    names must exist; skipping it would resurrect a tombstone's deleted
    docs or drop a segment's live ones, so it raises FileNotFoundError."""

    def __init__(self, paths: IndexPaths, state: dict | None = None):
        log = CommitLog(paths.root)
        self.paths = paths
        self.io = log.io
        self.state = log.read() if state is None else state

    @property
    def next_doc_id(self) -> int:
        """The log's high-water doc id: every id below it is taken."""
        return int(self.state["next_doc_id"])

    # ---------- postings ----------

    @cached_property
    def _waves(self) -> tuple[list[str], list[str]]:
        """Postings wave directory names, as (base, segments): the integer
        base build waves, partitioned by (field, bucket), and the committed
        segments', each one file with field and bucket as data columns
        (other writers' staged segments stay hidden)."""
        root = self.io.path("postings")
        names = self.io.listdir(root)
        segs = [f"wave={s}" for s in self.state["segments"]]
        gone = next((w for w in segs if w not in names), None)
        if gone:
            raise FileNotFoundError(
                f"committed postings missing: {posixpath.join(root, gone)}"
            )
        return [w for w in names if re.fullmatch(r"wave=\d+", w)], segs

    @cached_property
    def _postings_files(self) -> tuple[list[str], list[str]]:
        """The data files of the base and of the segment waves."""
        root = self.io.path("postings")
        return tuple(
            [f for w in waves
             for f in parquet_files(self.io, posixpath.join(root, w))]
            for waves in self._waves
        )

    def postings(self, spark: SparkSession) -> DataFrame:
        """Every block of the version: one schema-pinned read of the base
        tree unioned with one of the segment files."""
        base, segs = self._waves
        if not base:
            raise FileNotFoundError(
                f"no postings waves under {self.paths.postings}"
            )
        out = (
            spark.read.schema(POSTINGS_READ_SCHEMA)
            .option("basePath", self.paths.postings)
            .parquet(*(posixpath.join(self.paths.postings, w) for w in base))
            .drop("wave")
        )
        if segs:
            out = out.unionByName(
                spark.read.schema(BLOCK_SCHEMA).parquet(
                    *(posixpath.join(self.paths.postings, w) for w in segs)
                )
            )
        return out

    def postings_dataset(self) -> ds.Dataset:
        """pyarrow view of the same blocks as `postings` (plus `wave`, null
        for segment rows), for driver-side metadata reads."""
        base, segs = self._postings_files
        return ds.dataset([
            ds.dataset(base, filesystem=self.io.fs, format="parquet",
                       partitioning=POSTINGS_PARTITIONING,
                       partition_base_dir=self.io.path("postings")),
            ds.dataset(segs, filesystem=self.io.fs, format="parquet"),
        ])

    def live_url_ids(self, urls: pa.Array) -> np.ndarray:
        """Sorted ids of the live docs whose url is in `urls`: the url
        field's raw analyzer makes each url its own term, so its blocks
        list every doc that ever held it, and the tombstones drop the dead
        ones."""
        blocks = self.postings_dataset().to_table(
            columns=["doc_bytes"],
            filter=(pc.field("field") == "url") & pc.field("term").isin(urls),
        )
        ids = decode_blocks(
            blocks["doc_bytes"].combine_chunks()
        ).doc_ids.astype(np.int64)
        return np.setdiff1d(ids, self.tombstone_ids())

    # ---------- docs ----------

    @cached_property
    def _docs_footers(self) -> list[tuple[str, list]]:
        """(Spark path, [(file, Spark schema, footer)]) of the base doc
        store and of each committed segment's docs."""
        tables = [(self.paths.docs, self.io.path("docs"))] + [
            (posixpath.join(self.paths.root, "segments", s, "docs"),
             self.io.path("segments", s, "docs"))
            for s in self.state["segments"]
        ]
        return [
            (path, [(f, footer_spark_schema(md, f), md)
                    for f, md in read_footers(self.io, table)])
            for path, table in tables
        ]

    @cached_property
    def doc_files(
        self,
    ) -> list[tuple[str, StructType, pq.FileMetaData, np.ndarray]]:
        """(file, Spark schema, footer, [min, max] doc_id of each row
        group) of every non-empty docs file; a row group without
        statistics spans every id. Build files hold a few contiguous bucket
        ranges each and a put writes one file, so a handful of ids maps to
        a handful of files and row groups."""
        out = []
        for _, files in self._docs_footers:
            for f, schema, md in files:
                if md.num_rows == 0:
                    continue
                col = [
                    md.schema.column(i).path for i in range(md.num_columns)
                ].index("doc_id")
                ranges = []
                for r in range(md.num_row_groups):
                    st = md.row_group(r).column(col).statistics
                    ranges.append(
                        (st.min, st.max) if st is not None and st.has_min_max
                        else (-(1 << 63), (1 << 63) - 1)
                    )
                out.append((f, schema, md, np.array(ranges, dtype=np.int64)))
        return out

    def docs(self, spark: SparkSession) -> DataFrame:
        """The live docs. Each table's read is pinned to its first footer's
        schema (no inference job); segments may lack optional stored
        columns (e.g. html) or carry extra ones, so the reads union on
        names, padding missing ones with nulls."""
        out = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            (spark.read.schema(files[0][1]).parquet(path)
             for path, files in self._docs_footers),
        )
        ts = self.tombstones(spark)
        return out if ts is None else out.join(ts, "doc_id", "left_anti")

    # ---------- tombstones and stats ----------

    @cached_property
    def _tombstone_files(self) -> list[tuple[str, pq.FileMetaData]]:
        return [
            ff for t in self.state["tombstones"]
            for ff in read_footers(self.io, t)
        ]

    @property
    def tombstone_rows(self) -> int:
        """Tombstone rows summed over the footers. A doc tombstoned in two
        files counts twice: an over-count, the safe direction for the
        TOMBSTONE_BROADCAST_MAX gate."""
        return sum(md.num_rows for _, md in self._tombstone_files)

    def tombstone_ids(self) -> np.ndarray:
        """The tombstoned doc ids, sorted and distinct, read on the driver
        with the footers already read. Callers bound the size first with
        `tombstone_rows`."""
        ids = [np.empty(0, dtype=np.int64)]
        for f, md in self._tombstone_files:
            with pq.ParquetFile(f, metadata=md, filesystem=self.io.fs) as pf:
                ids.append(pf.read(columns=["doc_id"])["doc_id"].to_numpy())
        return np.unique(np.concatenate(ids))

    def tombstones(self, spark: SparkSession) -> DataFrame | None:
        """The tombstoned ids as a Spark frame, or None when the files hold
        no rows: a put that replaced nothing leaves an empty file, and an
        anti-join against it would cost a job and filter nothing. An id can
        repeat; every consumer is a left-anti join, which repeats on its
        right side cannot change."""
        if self.tombstone_rows == 0:
            return None
        return spark.read.schema(TOMBSTONE_SCHEMA).parquet(
            *self.state["tombstones"]
        )

    def stats(self) -> dict[str, dict]:
        """field → {n_docs, avg_len}, from the (total_len, n_docs) pair per
        field that a build or a merge publishes in the log."""
        if "stats" not in self.state:
            raise ValueError(
                f"{self.paths.root}: {COMMIT_LOG} carries no BM25 stats; "
                "run merge_segments or rebuild the index"
            )
        return {
            f: {"n_docs": s["n_docs"],
                "avg_len": s["total_len"] / s["n_docs"] if s["n_docs"] else 0.0}
            for f, s in self.state["stats"].items()
        }


def visible_docs(spark: SparkSession, paths: IndexPaths) -> DataFrame:
    """The live docs of the committed version."""
    return Snapshot(paths).docs(spark)


def check_urls(urls: pa.Array | pa.ChunkedArray) -> None:
    """A null or empty url has no url posting, so no later put or delete
    could find its doc: reject it."""
    bad = urls.null_count + (pc.sum(pc.equal(urls, "")).as_py() or 0)
    if bad:
        raise ValueError(f"{bad} urls are null or empty")


def write_parquet(io: IndexFS, table_dir: str, table: pa.Table, **options) -> None:
    """`table` as the one data file of parquet table directory `table_dir`,
    written with pyarrow (Spark and `parquet_files` list it like a file
    Spark wrote); `options` go to `pq.write_table`. pyarrow writes a
    table's schema metadata to the footer only beside the serialized
    Arrow schema, so a table without metadata gets neither."""
    io.makedirs(table_dir)
    pq.write_table(
        table, posixpath.join(table_dir, "part-00000.parquet"),
        filesystem=io.fs, store_schema=bool(table.schema.metadata), **options,
    )


def analyze_on_driver(text: TextAnalysis, docs: pa.Table) -> pa.Table:
    """The posting rows of `docs`' text fields (POSTING_ROW_ARROW): the
    build's `analyze_batch` over one row slice per driver core, in a
    thread pool. The tokenizer kernels release the GIL for most of their
    work, so the slices run in parallel."""
    batch = docs.select(["doc_id", *text.columns]).combine_chunks()
    n = batch.num_rows
    k = max(1, min(len(os.sched_getaffinity(0)), n))
    bounds = np.linspace(0, n, k + 1).astype(np.int64)
    slices = [batch.slice(s, e - s) for s, e in zip(bounds[:-1], bounds[1:])]
    with ThreadPoolExecutor(k) as pool:
        parts = list(pool.map(
            lambda t: [rb for b in t.to_batches()
                       for rb in text.analyze_batch(b)],
            slices,
        ))
    return pa.Table.from_batches(
        [rb for part in parts for rb in part], POSTING_ROW_ARROW
    )


def write_tombstones(io: IndexFS, ts_file: str, doc_ids: np.ndarray) -> None:
    """A staged tombstone file: one file inside the `<seg>.parquet/`
    directory the commit log names."""
    write_parquet(
        io, ts_file, pa.table({"doc_id": pa.array(doc_ids, type=pa.int64())}),
        compression="snappy", use_dictionary=False, write_statistics=False,
    )


# Tombstone-count ceiling for the broadcast anti-join hint: 10M ids ≈
# 80 MB — comfortably a broadcast. Above it (a web-scale purge can doom
# billions of ids) the anti-join must shuffle; forcing the hint would
# OOM the driver/executors exactly when deletes are biggest (the same
# failure class as VERDICT r4's unconditional unigram broadcast).
TOMBSTONE_BROADCAST_MAX = 10_000_000


def tombstone_side(ts: DataFrame, n_ts: int) -> DataFrame:
    """The anti-join's right side: broadcast-hinted only under the gate."""
    return F.broadcast(ts) if n_ts <= TOMBSTONE_BROADCAST_MAX else ts


def block_rows(post: DataFrame) -> DataFrame:
    """Decode posting blocks → one row per posting (doc_id, tf, doc_len,
    pos_bytes, field, term, salt, bucket). Positions stay as their original
    per-doc varint byte runs — never re-encoded after the analyzer pass:
    each row's pos_bytes is a zero-copy slice of its block's buffer, null
    for a freq-only field."""

    def to_rows(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            pos_col = rb.column("pos_bytes")
            dec = decode_blocks(
                rb.column("doc_bytes"), rb.column("tf_bytes"),
                rb.column("len_bytes"), pos_col,
            )
            n = dec.doc_ids.size
            has_pos = np.diff(dec.pos_byte_offsets) > 0
            pos_bytes = pa.BinaryArray.from_buffers(
                pa.binary(),
                n,
                [
                    None if has_pos.all() else pa.py_buffer(
                        np.packbits(has_pos, bitorder="little")
                    ),
                    pa.py_buffer(dec.pos_byte_offsets.astype(np.int32)),
                    pos_col.buffers()[2] or pa.py_buffer(b""),
                ],
            )
            block_of = pa.array(
                np.repeat(np.arange(rb.num_rows, dtype=np.int32), dec.counts)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(dec.doc_ids.astype(np.int64)),
                    pa.array(dec.tfs.astype(np.int32)),
                    pa.array(dec.lens.astype(np.int32)),
                    pos_bytes,
                    *(rb.column(c).take(block_of)
                      for c in ("field", "term", "salt", "bucket")),
                ],
                names=["doc_id", "tf", "doc_len", "pos_bytes", "field",
                       "term", "salt", "bucket"],
            )

    cols = ["field", "bucket", "term", "salt", "doc_bytes", "tf_bytes",
            "len_bytes", "pos_bytes"]
    schema = (
        "doc_id long, tf int, doc_len int, pos_bytes binary, field string, "
        "term string, salt int, bucket int"
    )
    return post.select(*cols).mapInArrow(to_rows, schema)


def merge_segments(spark: SparkSession, builder) -> dict:
    """Compact all visible postings into fresh base waves, applying
    tombstones physically; resets the commit log, with the merged
    version's BM25 stats, in one write.

    Fully distributed: blocks decode to posting rows (mapInArrow),
    tombstones drop via an anti-join (JVM-side — the driver never
    materializes doomed ids). The broadcast hint on the tombstone side
    is SIZE-GATED: at web scale a purge can doom billions of ids, and
    forcing a broadcast there would fail exactly when deletes are
    biggest; past the gate the anti-join shuffles. The build's hot terms
    (those with a block of salt > 0) are salted as the build salts them,
    then the build's encode step and base-wave write run, so merged
    output is byte-deterministic with a fresh build. The stats are read
    back from the merged blocks and the merged docs' footers as a build
    reads its own, so a merge also brings stats into the log of an index
    that has none.
    """
    paths: IndexPaths = builder.paths
    snap = Snapshot(paths)
    hot = snap.postings_dataset().to_table(
        columns=["term"], filter=pc.field("salt") > 0
    )["term"]
    rows = block_rows(snap.postings(spark)).withColumn(
        "salt",
        salt_column(pc.unique(hot).to_pylist(), builder.meta.salt_span),
    )
    ts = snap.tombstones(spark)
    if ts is not None:
        # a re-put url lives under a new doc_id; its old id is doomed. The
        # join strategy is picked from the footer row count (no job).
        rows = rows.join(
            tombstone_side(ts, snap.tombstone_rows), "doc_id", "left_anti"
        )
    io = snap.io
    merged_dir = io.path("postings_merged")
    io.delete_dir(merged_dir)
    merged_wave = os.path.join(merged_dir, "wave=0")
    write_base_blocks(
        encode_blocks(rows, builder.meta.block_size), merged_wave
    )
    # rewrite docs without tombstones; swap the dirs; reset the log
    new_docs_dir = io.path("docs_merged")
    io.delete_dir(new_docs_dir)
    (
        snap.docs(spark).write.mode("overwrite")
        .option("compression", builder.meta.docstore_compression)
        .parquet(new_docs_dir)
    )
    _, n_docs = builder.docs_footers(new_docs_dir)
    stats = builder.read_back_stats(merged_wave, n_docs)
    old_post = paths.postings + ".old"
    io.delete_dir(old_post)
    io.rename(paths.postings, old_post)
    io.rename(merged_dir, paths.postings)
    old_docs = paths.docs + ".old"
    io.delete_dir(old_docs)
    io.rename(paths.docs, old_docs)
    io.rename(new_docs_dir, paths.docs)
    io.delete_dir(old_post)
    io.delete_dir(old_docs)
    io.delete_dir(io.path("segments"))
    io.delete_dir(io.path("tombstones"))
    io.delete_dir(io.path("stats"))  # the table older builds wrote
    # merge keeps doc ids; the high-water mark survives
    CommitLog(paths.root).write({
        "segments": [], "tombstones": [],
        "version": snap.state["version"] + 1,
        "next_doc_id": snap.next_doc_id, "stats": stats,
    })
    return {"merged": True}
