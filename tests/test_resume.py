"""Resumability: interrupted builds restart from lineage and converge to the
same index (FIXTURES.md §5: restart → identical query results)."""

import json
import os
import shutil
import tempfile

import pytest

from bayard_spark.build.indexer import IndexBuilder
from bayard_spark.build.segments import CommitLog
from bayard_spark.query import SearchEngine
from bayard_spark.schema import webtext_index_meta
from bayard_spark.sources.webtext import webtext_df


class _Boom(RuntimeError):
    pass


def _term_results(engine, term):
    q = {"kind": "term", "options": {"field": "text", "term": term}}
    return sorted(
        (r["doc_id"], round(r["score"], 10)) for r in engine.scores(q).collect()
    )


def test_resume_after_midbuild_failure(spark):
    rootA = tempfile.mkdtemp(prefix="resA_")
    rootB = tempfile.mkdtemp(prefix="resB_")
    try:
        meta = webtext_index_meta(num_buckets=4)
        src = webtext_df(spark, 300, partitions=4)

        # A: uninterrupted build
        IndexBuilder(spark, meta, rootA).build(src)

        # B: kill the build inside the blocks stage (docs completed and its
        # lineage was logged), then resume
        builder = IndexBuilder(spark, meta, rootB)
        original = builder.blockify_wave

        def sabotage(rows, wave, hot_terms):
            builder.blockify_wave = original  # next run is clean
            raise _Boom("simulated driver loss inside blocks_w0")

        builder.blockify_wave = sabotage
        with pytest.raises(_Boom):
            builder.build(src)
        # lineage shows partial progress
        lineage = os.path.join(rootB, "lineage")
        assert os.path.exists(os.path.join(lineage, "docs_w0.json"))
        assert not os.path.exists(os.path.join(lineage, "blocks_w0.json"))
        assert not os.path.exists(os.path.join(lineage, "stats_w0.json"))

        report = builder.build(src)  # resume
        assert report.stages_skipped == ["docs"]
        assert report.stages_run == ["blocks_w0", "stats"]
        assert report.n_docs == 300

        # identical query results across the two indexes
        ea, eb = SearchEngine(spark, rootA), SearchEngine(spark, rootB)
        assert eb.stats == ea.stats
        for term in ["the", "water", "father"]:
            assert _term_results(ea, term) == _term_results(eb, term)
    finally:
        shutil.rmtree(rootA, ignore_errors=True)
        shutil.rmtree(rootB, ignore_errors=True)


def test_multiwave_build_leftovers(spark):
    """An index begun by the retired staged multi-wave build refuses to
    resume (its stages may lack waves 1+); a fresh build clears the
    staging table, the waves past 0 and their lineage."""
    root = tempfile.mkdtemp(prefix="resW_")
    try:
        lineage = os.path.join(root, "lineage")
        os.makedirs(lineage)
        for f in ("docs_w0.json", "staging_w0.json", "blocks_w0.json",
                  "blocks_w1.json"):
            with open(os.path.join(lineage, f), "w") as fh:
                fh.write("{}")
        for d in ("postings_staging/wave=0", "postings/wave=1/field=text"):
            os.makedirs(os.path.join(root, d))
        meta = webtext_index_meta(num_buckets=4)
        src = webtext_df(spark, 60, partitions=2)
        builder = IndexBuilder(spark, meta, root)
        with pytest.raises(RuntimeError, match="resume=False"):
            builder.build(src)

        report = builder.build(src, resume=False)
        assert report.stages_run == ["docs", "blocks_w0", "stats"]
        assert sorted(os.listdir(os.path.join(root, "postings"))) == ["wave=0"]
        assert not os.path.exists(os.path.join(root, "postings_staging"))
        assert sorted(os.listdir(lineage)) == [
            "blocks_w0.json", "docs_w0.json", "stats_w0.json"
        ]
        assert builder.build(src).stages_run == []
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_resume_noop_when_complete(spark):
    """Resuming a complete build runs no stage and no Spark job: the docs
    read takes its schema and the doc count from the footers, and the
    stats are in the commit log, not in a `stats/` table or in length
    columns of the docs."""
    root = tempfile.mkdtemp(prefix="resC_")
    try:
        meta = webtext_index_meta(num_buckets=4)
        src = webtext_df(spark, 120, partitions=4)
        b = IndexBuilder(spark, meta, root)
        b.build(src)
        assert set(CommitLog(root).read()["stats"]) == {"url", "text", "lang"}
        assert not os.path.exists(os.path.join(root, "stats"))
        assert not any(
            c.startswith("_dl_")
            for c in spark.read.parquet(b.paths.docs).columns
        )
        sc = spark.sparkContext
        sc.setJobGroup("resume-noop", "test")
        try:
            rep = b.build(src)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("resume-noop") == []
        assert rep.stages_run == []
        assert set(rep.stages_skipped) >= {"docs", "blocks_w0", "stats"}
        assert rep.n_docs == 120
        # the stats stage counts as done only while the log carries stats
        log = CommitLog(root)
        state = log.read()
        stats = state.pop("stats")
        log.write(state)
        assert b.build(src).stages_run == ["stats"]
        assert log.read()["stats"] == stats
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_threshold_at_doc_count_salts_nothing(spark):
    """With hot_df_threshold at the doc count no term's true df can exceed
    it, so the build salts nothing: it skips the 5% sample, whose scaled
    estimate does pass the threshold for this corpus."""
    root = tempfile.mkdtemp(prefix="resH_")
    try:
        n = 200
        meta = webtext_index_meta(
            num_buckets=4, salt_span=50, hot_df_threshold=n
        )
        b = IndexBuilder(spark, meta, root)
        assert b.build(webtext_df(spark, n, partitions=4)).n_docs == n
        with open(b._lineage_path("blocks")) as fh:
            assert json.load(fh)["n_hot_terms"] == 0
        salts = spark.read.parquet(b.paths.postings).select("salt").distinct()
        assert [r.salt for r in salts.collect()] == [0]
        assert b._hot_terms_sampled(spark.read.parquet(b.paths.docs))
    finally:
        shutil.rmtree(root, ignore_errors=True)
