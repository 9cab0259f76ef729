"""Structured Streaming ingestion → segment commits (SURVEY §2.9 analogue)."""

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from bayard_spark.build.indexer import IndexBuilder
from bayard_spark.build.segments import CommitLog
from bayard_spark.query import SearchEngine
from bayard_spark.schema import webtext_index_meta
from bayard_spark.sources.webtext import synthesize_batch, webtext_df
from bayard_spark.streaming.ingest import StreamingIngestor, start_ingest


@pytest.fixture()
def stream_env(spark):
    root = tempfile.mkdtemp(prefix="stream_idx_")
    src = tempfile.mkdtemp(prefix="stream_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    meta = webtext_index_meta(num_buckets=4)
    builder = IndexBuilder(spark, meta, root)
    builder.build(webtext_df(spark, 100, partitions=4))
    yield root, src, ckpt, builder
    for d in (root, src, ckpt):
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_ingest_commits_batches(spark, stream_env):
    root, src, ckpt, builder = stream_env
    # two file drops → two micro-batches under availableNow? (file source
    # may batch them together; either way, all docs must land committed)
    pdf1 = synthesize_batch(np.arange(1000, 1020), seed=7)
    pdf2 = synthesize_batch(np.arange(2000, 2010), seed=7)
    spark.createDataFrame(pdf1).write.mode("overwrite").parquet(f"{src}/d1")
    spark.createDataFrame(pdf2).write.mode("overwrite").parquet(f"{src}/d2")

    q = start_ingest(spark, builder, f"{src}/d*", ckpt)
    q.awaitTermination(120)

    log = CommitLog(root)
    assert len(log.committed_segments()) >= 1
    engine = SearchEngine(spark, root)
    n = engine.docs.filter(
        F.col("url").isin(
            [pdf1["url"][0], pdf2["url"][0]]
        )
    ).count()
    assert n == 2


def test_epoch_replay_is_idempotent(spark, stream_env):
    root, src, ckpt, builder = stream_env
    ing = StreamingIngestor(spark, builder)
    batch = spark.createDataFrame(synthesize_batch(np.arange(5000, 5005), seed=3))
    ing(batch, epoch_id=0)
    segs_after_first = CommitLog(root).committed_segments()
    ing(batch, epoch_id=0)  # replay
    assert CommitLog(root).committed_segments() == segs_after_first
    ing(batch.limit(0), epoch_id=1)  # empty batch commits nothing
    assert CommitLog(root).committed_segments() == segs_after_first
