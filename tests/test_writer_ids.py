"""Doc-id assignment across builds, writers and commits.

- The commit log carries next_doc_id: a fresh writer starts at the
  persisted high-water mark, and large puts assign dense ids per bucket.
- Writers reserve id ranges: interleaved writers never share a range, an
  overlapping reservation fails the commit loudly, a corrupt reservation
  marker fails the reservation, and one writer reused across commits (the
  streaming shape) opens a new window per commit.
"""

import itertools
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from bayard_spark.build.indexer import IndexBuilder
from bayard_spark.build.segments import CommitLog, SegmentWriter, visible_docs
from bayard_spark.schema import webtext_index_meta
from bayard_spark.sources.webtext import webtext_df

_groups = itertools.count()


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    gid = f"writer-ids-{next(_groups)}"
    sc.setJobGroup(gid, "test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


class TestIncrementalPutScale:
    @pytest.fixture()
    def index_root(self, spark):
        root = tempfile.mkdtemp(prefix="seg_idx_r3_")
        meta = webtext_index_meta(num_buckets=4)
        builder = IndexBuilder(spark, meta, root)
        builder.build(webtext_df(spark, 200, partitions=4))
        yield root, builder
        shutil.rmtree(root, ignore_errors=True)

    @staticmethod
    def _batch(spark, n, prefix="https://bulk.example/"):
        rows = [
            (f"{prefix}{i:05d}", "2025-06-01 00:00:00",
             f"bulkput doc number {i} alpha beta", "en")
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "url string, warc_ts string, text string, lang string"
        ).withColumn("warc_ts", F.to_timestamp("warc_ts"))

    def test_large_put_bucket_offset_ids(self, spark, index_root, monkeypatch):
        root, builder = index_root
        monkeypatch.setattr(SegmentWriter, "BULK_ID_THRESHOLD", 10)
        w = SegmentWriter(spark, builder)
        w.put_documents(self._batch(spark, 50))
        w.commit()

        log = CommitLog(root)
        state = log.read()
        assert state["next_doc_id"] == 250  # 200 base + 50 put

        seg = state["segments"][-1]
        seg_docs = spark.read.parquet(log.io.path("segments", seg, "docs"))
        rows = seg_docs.select(
            "doc_id", "url",
            F.pmod(F.xxhash64("url"), F.lit(4)).cast("int").alias("b"),
        ).collect()
        ids = sorted(r["doc_id"] for r in rows)
        assert ids == list(range(200, 250))  # dense, after the high-water
        # ids were assigned per-BUCKET (multi-partition path), not by one
        # global url window: ordering by doc_id must equal ordering by
        # (bucket, url), which differs from plain url order here
        by_id = sorted(rows, key=lambda r: r["doc_id"])
        assert [(r["b"], r["url"]) for r in by_id] == sorted(
            (r["b"], r["url"]) for r in rows
        )
        assert len({r["b"] for r in rows}) > 1

    def test_next_doc_id_survives_new_writer(self, spark, index_root,
                                             monkeypatch):
        root, builder = index_root
        monkeypatch.setattr(SegmentWriter, "BULK_ID_THRESHOLD", 10)
        # the build publishes its dense-id count: the first put after a
        # fresh build starts there and runs the same Spark jobs as the
        # writer's next put, which serves ids from its own reservation (no
        # max-scan of the doc store)
        assert CommitLog(root).read()["next_doc_id"] == 200
        w0 = SegmentWriter(spark, builder)
        seg, first_put_jobs = spark_jobs(
            spark,
            lambda: w0.put_documents(
                self._batch(spark, 15, prefix="https://w0.example/")
            ),
        )
        _, next_put_jobs = spark_jobs(
            spark,
            lambda: w0.put_documents(
                self._batch(spark, 15, prefix="https://w0b.example/")
            ),
        )
        ids = sorted(
            r["doc_id"] for r in spark.read.parquet(
                CommitLog(root).io.path("segments", seg, "docs")
            ).collect()
        )
        w0.rollback()
        assert ids == list(range(200, 215))
        assert first_put_jobs == next_put_jobs
        w1 = SegmentWriter(spark, builder)
        w1.put_documents(self._batch(spark, 15))
        w1.commit()
        # fresh writer: must start at the persisted high-water mark (no
        # segment scan needed) and never reuse ids
        w2 = SegmentWriter(spark, builder)
        w2.put_documents(self._batch(spark, 3, prefix="https://w2.example/"))
        w2.commit()
        assert CommitLog(root).read()["next_doc_id"] == 218
        docs = visible_docs(spark, builder.paths)
        n = docs.count()
        assert docs.select("doc_id").distinct().count() == n


def _mini_builder(spark, tmp_path_factory, n_docs=40):
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta
    from bayard_spark.sources.webtext import webtext_df

    root = str(tmp_path_factory.mktemp("r5_idx"))
    meta = webtext_index_meta(num_buckets=4)
    builder = IndexBuilder(spark, meta, root)
    builder.build(webtext_df(spark, n_docs, partitions=2))
    return builder


def _put_batch(spark, n, seed):
    from bayard_spark.sources.webtext import webtext_df

    return webtext_df(spark, n, seed=seed).withColumn(
        "url", F.concat(F.lit(f"https://put{seed}.example/"), F.col("url"))
    )


def test_interleaved_writers_never_share_id_ranges(spark, tmp_path_factory):
    from bayard_spark.build.segments import SegmentWriter

    builder = _mini_builder(spark, tmp_path_factory)
    w1 = SegmentWriter(spark, builder)
    w1.put_documents(_put_batch(spark, 5, seed=101))  # staged, NOT committed
    # a second writer created while w1 has staged-but-uncommitted work must
    # reserve PAST w1's marker, not reuse its range
    w2 = SegmentWriter(spark, builder)
    base2 = w2._next_doc_id(w2._view())
    assert base2 >= w1._reserved_next
    w2.put_documents(_put_batch(spark, 5, seed=202))
    w2.commit()
    w1.commit()
    from bayard_spark.build.segments import visible_docs

    docs = visible_docs(spark, builder.paths)
    n_ids = docs.select("doc_id").distinct().count()
    assert n_ids == docs.count(), "duplicate doc_ids across writers"


def test_commit_fails_loudly_on_overlapping_reservation(
    spark, tmp_path_factory
):
    from bayard_spark.build.segments import SegmentWriter

    builder = _mini_builder(spark, tmp_path_factory)
    w1 = SegmentWriter(spark, builder)
    w1._next_doc_id(w1._view())  # reserve BEFORE w2 stages (no marker yet -> overlap)
    w2 = SegmentWriter(spark, builder)
    w2.put_documents(_put_batch(spark, 5, seed=303))
    w2.commit()
    w1.put_documents(_put_batch(spark, 5, seed=404))
    with pytest.raises(RuntimeError, match="reservation conflict"):
        w1.commit()


def test_corrupt_reservation_marker_raises(spark, tmp_path_factory):
    """An unreadable marker hides another writer's staged range; a writer
    must refuse to reserve rather than hand out ids that may overlap."""
    import os

    builder = _mini_builder(spark, tmp_path_factory)
    seg = os.path.join(builder.paths.root, "segments", "seg0_0")
    os.makedirs(seg)
    with open(os.path.join(seg, "_reserved.json"), "w") as f:
        f.write("{not json")
    w = SegmentWriter(spark, builder)
    with pytest.raises(ValueError, match="corrupt reservation marker"):
        w._next_doc_id(w._view())
    with open(os.path.join(seg, "_reserved.json"), "w") as f:
        f.write('{"other": 1}')
    w = SegmentWriter(spark, builder)
    with pytest.raises(ValueError, match="corrupt reservation marker"):
        w._next_doc_id(w._view())


def test_same_writer_put_commit_put_commit(spark, tmp_path_factory):
    """The continuous-streaming shape: one writer, a commit per epoch.
    Before the fix the second commit raised a spurious 'doc-id
    reservation conflict' against the writer's own first range."""
    from bayard_spark.build.segments import SegmentWriter, visible_docs

    builder = _mini_builder(spark, tmp_path_factory)
    w = SegmentWriter(spark, builder)
    w.put_documents(_put_batch(spark, 5, seed=501))
    state1 = w.commit()
    w.put_documents(_put_batch(spark, 5, seed=502))
    state2 = w.commit()  # raised RuntimeError before the fix
    # two disjoint contiguous ranges recorded
    r1, r2 = state2["id_ranges"][-2], state2["id_ranges"][-1]
    assert r1[1] <= r2[0], (r1, r2)
    docs = visible_docs(spark, builder.paths)
    assert docs.select("doc_id").distinct().count() == docs.count()


def test_three_epoch_streaming_ingest(spark, tmp_path_factory):
    """StreamingIngestor itself across 3 non-empty epochs on one writer
    (the exact ADVICE scenario: available_now=False continuous ingest is
    foreachBatch calls on a shared ingestor)."""
    from bayard_spark.build.segments import visible_docs
    from bayard_spark.streaming.ingest import StreamingIngestor

    builder = _mini_builder(spark, tmp_path_factory)
    ingestor = StreamingIngestor(spark, builder)
    for epoch, seed in enumerate((601, 602, 603)):
        ingestor(_put_batch(spark, 4, seed=seed), epoch)
    docs = visible_docs(spark, builder.paths)
    assert docs.select("doc_id").distinct().count() == docs.count()
    assert docs.filter(F.col("url").rlike("put60[123]")).count() == 12
