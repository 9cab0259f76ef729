"""Segment lifecycle: put/delete/commit/rollback/merge (SURVEY §2.1)."""

import json
import os
import shutil
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from bayard_spark.build.indexer import IndexBuilder
from bayard_spark.build.segments import (
    CommitLog,
    SegmentWriter,
    Snapshot,
    merge_segments,
    visible_docs,
)
from bayard_spark.query import SearchEngine
from bayard_spark.schema import IndexPaths, webtext_index_meta
from bayard_spark.sources.webtext import webtext_df


def term_q(t):
    return {"kind": "term", "options": {"field": "text", "term": t}}


@pytest.fixture()
def index_root(spark, request):
    # indirect param "salted": a low hot_df_threshold and a small salt_span
    # split the head terms of the 200 docs into several salts
    salted = getattr(request, "param", "plain") == "salted"
    root = tempfile.mkdtemp(prefix="seg_idx_")
    meta = webtext_index_meta(
        num_buckets=4,
        **({"hot_df_threshold": 40, "salt_span": 50} if salted else {}),
    )
    builder = IndexBuilder(spark, meta, root)
    builder.build(webtext_df(spark, 200, partitions=4))
    yield root, builder
    shutil.rmtree(root, ignore_errors=True)


def new_batch(spark, urls_texts):
    return spark.createDataFrame(
        [(u, "2025-06-01 00:00:00", t, "en") for u, t in urls_texts],
        "url string, warc_ts string, text string, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))


def live_postings(spark, root):
    """Every live posting (doc_id, field, term, tf, doc_len, positions) of
    the committed snapshot, decoded block by block with the per-block
    reference decoder; positions are None for a freq-only field."""
    from bayard_spark.build.codec import decode_block, varint_decode

    snap = Snapshot(IndexPaths(root))
    ts = snap.tombstones(spark)
    dead = set() if ts is None else {r["doc_id"] for r in ts.collect()}
    cols = ["field", "term", "doc_bytes", "tf_bytes", "len_bytes", "pos_bytes"]
    tbl = snap.postings_dataset().to_table(columns=cols)
    out = []
    for f, t, db, tb, lb, pb in zip(*(tbl[c].to_pylist() for c in cols)):
        d, tf, pos, offs = decode_block(db, tb, pb)
        ln = varint_decode(lb)
        out += [
            (int(d[k]), f, t, int(tf[k]), int(ln[k]),
             None if pos is None else tuple(pos[offs[k]:offs[k + 1]].tolist()))
            for k in range(len(d))
            if int(d[k]) not in dead
        ]
    return Counter(out)


def max_salt(root):
    salts = Snapshot(IndexPaths(root)).postings_dataset().to_table(
        columns=["salt"]
    )["salt"]
    return max(salts.to_pylist())


class TestSegments:
    def test_put_invisible_until_commit_then_visible(self, spark, index_root):
        root, builder = index_root
        w = SegmentWriter(spark, builder)
        w.put_documents(
            new_batch(spark, [("https://new.example/1", "zzzunique token here")])
        )
        e1 = SearchEngine(spark, root)
        assert e1.scores(term_q("zzzunique")).count() == 0  # staged only
        w.commit()
        e2 = SearchEngine(spark, root)
        assert e2.scores(term_q("zzzunique")).count() == 1

    def test_upsert_replaces_old_version(self, spark, index_root):
        root, builder = index_root
        w = SegmentWriter(spark, builder)
        w.put_documents(
            new_batch(spark, [("https://u.example/x", "firstversion words")])
        )
        w.commit()
        w2 = SegmentWriter(spark, builder)
        w2.put_documents(
            new_batch(spark, [("https://u.example/x", "secondversion words")])
        )
        w2.commit()
        e = SearchEngine(spark, root)
        assert e.scores(term_q("firstversion")).count() == 0
        assert e.scores(term_q("secondversion")).count() == 1
        urls = [
            r["url"]
            for r in visible_docs(spark, e.paths)
            .filter(F.col("url") == "https://u.example/x")
            .collect()
        ]
        assert len(urls) == 1

    def test_delete_documents(self, spark, index_root):
        root, builder = index_root
        w = SegmentWriter(spark, builder)
        w.put_documents(
            new_batch(spark, [("https://del.example/1", "doomedterm here")])
        )
        w.commit()
        w2 = SegmentWriter(spark, builder)
        w2.delete_documents(["https://del.example/1"])
        w2.commit()
        e = SearchEngine(spark, root)
        assert e.scores(term_q("doomedterm")).count() == 0

    def test_rollback_discards_staged(self, spark, index_root):
        root, builder = index_root
        w = SegmentWriter(spark, builder)
        w.put_documents(
            new_batch(spark, [("https://rb.example/1", "rollbackterm")])
        )
        w.rollback()
        w.commit()  # commits nothing
        e = SearchEngine(spark, root)
        assert e.scores(term_q("rollbackterm")).count() == 0
        assert CommitLog(root).committed_segments() == []

    def test_merge_compacts_and_applies_tombstones(self, spark, index_root):
        root, builder = index_root
        w = SegmentWriter(spark, builder)
        w.put_documents(
            new_batch(spark, [("https://m.example/1", "mergeterm alpha")])
        )
        w.commit()
        w2 = SegmentWriter(spark, builder)
        w2.put_documents(
            new_batch(spark, [("https://m.example/1", "mergeterm beta")])
        )
        w2.commit()
        e_before = SearchEngine(spark, root)
        n_before = e_before.scores(term_q("mergeterm")).count()
        assert n_before == 1

        merge_segments(spark, builder)
        assert CommitLog(root).committed_segments() == []
        e = SearchEngine(spark, root)
        assert e.tombstones is None
        assert e.scores(term_q("mergeterm")).count() == 1
        assert e.scores(term_q("alpha")).count() == 0
        assert e.scores(term_q("beta")).count() == 1
        # base corpus still fully searchable after merge
        assert e.scores(term_q("the")).count() > 0


    @pytest.mark.parametrize(
        "index_root", ["plain", "salted"], indirect=True
    )
    def test_merge_preserves_every_live_posting(self, spark, index_root,
                                                request):
        root, builder = index_root
        salted = request.node.callspec.params["index_root"] == "salted"
        w = SegmentWriter(spark, builder)
        base_urls = [
            r["url"] for r in visible_docs(spark, IndexPaths(root))
            .orderBy("doc_id").limit(6).collect()
        ]
        w.put_documents(new_batch(spark, [
            ("https://mp.example/1", "alpha beta alpha gamma"),
            ("https://mp.example/2", "beta beta delta the"),
            (base_urls[0], "replaced base text alpha"),
        ]))
        w.commit()
        w2 = SegmentWriter(spark, builder)
        w2.delete_documents(base_urls[1:3] + ["https://mp.example/2"])
        w2.commit()
        want = live_postings(spark, root)
        assert max(want.values()) == 1
        assert {p[1] for p in want} == {"url", "text", "lang"}
        assert any(p[5] is None for p in want)  # freq-only fields ride along
        assert (max_salt(root) > 0) == salted

        merge_segments(spark, builder)
        assert live_postings(spark, root) == want
        assert (max_salt(root) > 0) == salted
        # stats are the live docs' lengths, field by field
        lens: dict[str, dict[int, int]] = {}
        for doc_id, fld, _t, _tf, doc_len, _p in want:
            assert lens.setdefault(fld, {}).setdefault(doc_id, doc_len) == doc_len
        n_live = visible_docs(spark, IndexPaths(root)).count()
        stats = Snapshot(IndexPaths(root)).state["stats"]
        assert set(stats) == set(lens)
        for fld, by_doc in lens.items():
            assert stats[fld]["total_len"] == sum(by_doc.values())
            assert stats[fld]["n_docs"] == n_live

    def test_merge_publishes_the_log_once_with_stats(
        self, spark, index_root, monkeypatch
    ):
        """A merge writes the commit log exactly once, and that write
        carries the merged version's stats: no reader sees merged postings
        beside the old stats."""
        root, builder = index_root
        w = SegmentWriter(spark, builder)
        w.put_documents(new_batch(spark, [
            ("https://pub.example/1", "alpha beta alpha gamma"),
        ]))
        w.delete_documents([
            r["url"] for r in visible_docs(spark, IndexPaths(root))
            .orderBy("doc_id").limit(2).collect()
        ])
        w.commit()
        before = CommitLog(root).read()
        total_len = Counter()
        for (_, fld, _, tf, _, _), k in live_postings(spark, root).items():
            total_len[fld] += tf * k
        writes = []
        log_write = CommitLog.write

        def record(log, state):
            writes.append(json.loads(json.dumps(state)))
            log_write(log, state)

        monkeypatch.setattr(CommitLog, "write", record)
        merge_segments(spark, builder)
        assert len(writes) == 1
        state = writes[0]
        assert (state["segments"], state["tombstones"]) == ([], [])
        assert state["next_doc_id"] == before["next_doc_id"]
        n_live = 200 + 1 - 2
        assert state["stats"] == {
            f: {"total_len": total_len[f], "n_docs": n_live}
            for f in ("url", "text", "lang")
        }
        assert CommitLog(root).read() == state

    def test_merge_upgrades_an_index_without_log_stats(
        self, spark, index_root
    ):
        """An index whose log carries no stats (built before they moved
        into the log, with a `stats/` table) refuses to open until a merge,
        which publishes the stats a rebuild would and drops `stats/`."""
        root, builder = index_root
        want = SearchEngine(spark, root).stats
        log = CommitLog(root)
        state = log.read()
        del state["stats"]
        log.write(state)
        os.makedirs(os.path.join(root, "stats"))
        with pytest.raises(ValueError, match="merge_segments or rebuild"):
            SearchEngine(spark, root)
        merge_segments(spark, builder)
        assert SearchEngine(spark, root).stats == want
        assert not os.path.exists(os.path.join(root, "stats"))


@pytest.mark.parametrize("index_root", ["salted"], indirect=True)
def test_merge_keeps_the_build_salt_layout(spark, index_root):
    """After a put of docs holding a hot term and a merge, each salt-s
    block of a term the build salted holds only doc ids in
    [s * salt_span, (s + 1) * salt_span), as a build lays them out, and
    every query matches the same docs as before the merge."""
    from bayard_spark.build.codec import decode_block

    root, builder = index_root
    span = builder.meta.salt_span
    w = SegmentWriter(spark, builder)
    w.put_documents(new_batch(spark, [
        (f"https://salt.example/{i}", "the salted page") for i in range(3)
    ]))
    w.commit()
    queries = [term_q(t) for t in ("the", "salted", "page", "water")]

    def matches():
        e = SearchEngine(spark, root)
        return [
            sorted(r["doc_id"] for r in e.scores(q).collect()) for q in queries
        ]

    before = matches()
    merge_segments(spark, builder)
    assert matches() == before
    cols = ["term", "salt", "doc_bytes", "tf_bytes", "pos_bytes"]
    tbl = Snapshot(IndexPaths(root)).postings_dataset().to_table(columns=cols)
    rows = list(zip(*(tbl[c].to_pylist() for c in cols)))
    hot = {t for t, salt, *_ in rows if salt > 0}
    assert "the" in hot
    for t, salt, db, tb, pb in rows:
        if t in hot:
            ids = decode_block(db, tb, pb)[0]
            assert salt * span <= ids.min(), (t, salt)
            assert ids.max() < (salt + 1) * span, (t, salt)


def test_put_and_build_pick_the_same_tied_winner(spark, index_root):
    """Two rows per url with equal warc_ts: a put keeps the same row per
    url as a build over the same batch (the build's all-column hash
    tiebreak), not whichever row came first."""
    root, builder = index_root
    batch = new_batch(spark, [
        (f"https://tie.example/{i:02d}", f"tie {v} {i}")
        for i in range(20) for v in ("first", "second")
    ])
    built_root = tempfile.mkdtemp(prefix="tie_idx_")
    try:
        IndexBuilder(spark, builder.meta, built_root).build(batch)
        want = {
            r["url"]: r["text"]
            for r in visible_docs(spark, IndexPaths(built_root)).collect()
        }
    finally:
        shutil.rmtree(built_root, ignore_errors=True)
    w = SegmentWriter(spark, builder)
    w.put_documents(batch)
    w.commit()
    got = {
        r["url"]: r["text"]
        for r in visible_docs(spark, IndexPaths(root))
        .filter(F.col("url").startswith("https://tie.example/")).collect()
    }
    assert len(want) == 20
    assert got == want


class TestCommittedFilesRequired:
    def test_missing_committed_file_raises(self, spark, index_root):
        """A tombstone file, segment docs dir or segment postings dir the
        commit log names must exist: skipping it would resurrect deleted
        docs, drop live ones, or leave live docs that no term finds."""
        root, builder = index_root
        w = SegmentWriter(spark, builder)
        w.put_documents(
            new_batch(spark, [("https://cf.example/1", "gone token")])
        )
        w.commit()
        w2 = SegmentWriter(spark, builder)
        w2.delete_documents(["https://cf.example/1"])
        w2.commit()
        state = CommitLog(root).read()
        ts_dir = state["tombstones"][-1]
        shutil.move(ts_dir, ts_dir + ".moved")
        with pytest.raises(FileNotFoundError):
            SearchEngine(spark, root)
        shutil.move(ts_dir + ".moved", ts_dir)
        assert SearchEngine(spark, root).scores(term_q("gone")).count() == 0

        seg_docs = os.path.join(root, "segments", state["segments"][-1], "docs")
        seg_postings = os.path.join(
            root, "postings", f"wave={state['segments'][-1]}"
        )
        for gone in (seg_postings, seg_docs):
            shutil.move(gone, gone + ".moved")
            with pytest.raises(FileNotFoundError):
                SearchEngine(spark, root)
            shutil.move(gone + ".moved", gone)


class TestTombstoneCount:
    def test_footer_count_matches_and_overcounts_dups(self, spark, index_root):
        """Snapshot.tombstone_rows is metadata-only (parquet footers):
        equal to the distinct tombstone count normally, and an OVER-count
        when the same doc is tombstoned in two commits — the safe direction
        for the broadcast gate."""
        root, builder = index_root
        w = SegmentWriter(spark, builder)
        w.put_documents(
            new_batch(spark, [("https://tsc.example/1", "alpha beta"),
                              ("https://tsc.example/2", "gamma delta")])
        )
        w.commit()
        paths = IndexPaths(root)
        assert Snapshot(paths).tombstone_rows == 0

        w2 = SegmentWriter(spark, builder)
        w2.delete_documents(["https://tsc.example/1", "https://tsc.example/2"])
        w2.commit()
        snap = Snapshot(paths)
        assert snap.tombstone_rows == snap.tombstone_ids().size == 2

        # deleting an already-deleted url matches no LIVE docs
        # (the url lookup is commit-log aware), so the new tombstone file
        # is empty and the footer count stays exact
        w3 = SegmentWriter(spark, builder)
        w3.delete_documents(["https://tsc.example/1"])
        w3.commit()
        snap = Snapshot(paths)
        assert snap.tombstones(spark).count() == snap.tombstone_rows == 2

        e = SearchEngine(spark, root)
        assert e._n_tombstones == 2
        assert e.scores(term_q("alpha")).count() == 0


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_writer_sees_its_own_staged_work(spark, index_root, monkeypatch, path):
    """Put, re-put and delete before one commit: the re-put tombstones the
    first put's staged docs and the delete the re-put's, so each url is
    visible once and the deleted one not at all, on either put path."""
    root, builder = index_root
    if path == "spark":
        monkeypatch.setattr(SegmentWriter, "BULK_ID_THRESHOLD", 1)
    urls = [f"https://own.example/{i}" for i in range(3)]
    w = SegmentWriter(spark, builder)
    w.put_documents(new_batch(spark, [(u, "ownfirst words") for u in urls]))
    w.put_documents(new_batch(spark, [(u, "ownsecond words") for u in urls]))
    w.delete_documents(urls[:1])
    w.commit()
    got = Counter(
        r["url"] for r in visible_docs(spark, IndexPaths(root))
        .filter(F.col("url").startswith("https://own.example/")).collect()
    )
    assert got == {urls[1]: 1, urls[2]: 1}
    e = SearchEngine(spark, root)
    url_q = {"kind": "term", "options": {"field": "url", "term": urls[0]}}
    assert e.search({"query": url_q, "limit": 5}).total_hits == 0
    assert e.scores(term_q("ownfirst")).count() == 0
    assert e.scores(term_q("ownsecond")).count() == 2


def test_segment_names_do_not_collide(spark, index_root, monkeypatch):
    """Two writers in one millisecond, and one writer's two deletes in it,
    stage under distinct names: every put and delete survives its commit."""
    from bayard_spark.build import segments

    root, builder = index_root
    monkeypatch.setattr(
        segments, "time", type("Clock", (), {"time": staticmethod(lambda: 1e9)})
    )
    doomed = [
        r["url"] for r in visible_docs(spark, IndexPaths(root))
        .orderBy("doc_id").limit(3).collect()
    ]
    w1, w2 = SegmentWriter(spark, builder), SegmentWriter(spark, builder)
    w1.put_documents(new_batch(spark, [("https://c.example/1", "collideone")]))
    w2.put_documents(new_batch(spark, [("https://c.example/2", "collidetwo")]))
    w1.delete_documents(doomed[:1])
    w1.delete_documents(doomed[1:2])
    w2.delete_documents(doomed[2:])
    w1.commit()
    w2.commit()
    state = CommitLog(root).read()
    assert len(set(state["segments"])) == 2
    assert len(set(state["tombstones"])) == 5
    live = {r["url"] for r in visible_docs(spark, IndexPaths(root)).collect()}
    assert {"https://c.example/1", "https://c.example/2"} <= live
    assert not live & set(doomed)
    e = SearchEngine(spark, root)
    assert e.scores(term_q("collideone")).count() == 1
    assert e.scores(term_q("collidetwo")).count() == 1
