"""Index admin ops (SURVEY §2.1 create/get/modify/delete)."""

import json
import os
import shutil
import tempfile

import pytest

from bayard_spark import admin
from bayard_spark.schema import webtext_index_meta


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="admin_idx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_create_get_roundtrip(root):
    meta = webtext_index_meta(num_buckets=4)
    admin.create_index(root, meta)
    got = admin.get_index(root)
    assert got.to_json() == meta.to_json()
    # idempotent re-create with identical meta
    admin.create_index(root, meta)
    # conflicting re-create rejected
    other = webtext_index_meta(num_buckets=8)
    with pytest.raises(ValueError):
        admin.create_index(root, other)


def test_modify_mutable_vs_layout(root):
    admin.create_index(root, webtext_index_meta())
    out = admin.modify_index(root, hot_df_threshold=500, salt_span=1000)
    assert out.hot_df_threshold == 500 and out.salt_span == 1000
    assert admin.get_index(root).hot_df_threshold == 500
    with pytest.raises(ValueError):
        admin.modify_index(root, num_waves=2)  # retired: one build path
    with pytest.raises(ValueError):
        admin.modify_index(root, num_buckets=64)  # layout → rebuild required
    with pytest.raises(ValueError):
        admin.modify_index(root, bm25_k1=2.0)  # scoring → rebuild required
    with pytest.raises(ValueError):
        admin.modify_index(root, nonsense=1)


def test_meta_with_retired_num_waves_loads(root):
    # metas written before the single build path carry num_waves
    d = json.loads(webtext_index_meta(num_buckets=4).to_json())
    with open(os.path.join(root, "meta.json"), "w") as f:
        json.dump({**d, "num_waves": 4}, f)
    got = admin.get_index(root)
    assert got.to_json() == webtext_index_meta(num_buckets=4).to_json()
    assert not hasattr(got, "num_waves")


def test_delete_index(root):
    admin.create_index(root, webtext_index_meta())
    admin.delete_index(root)
    assert not os.path.exists(os.path.join(root, "meta.json"))
    with pytest.warns(UserWarning):
        admin.delete_index(root)  # already gone → warn, no error


def test_index_stats_shape(spark, root):
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.sources.webtext import webtext_df

    meta = webtext_index_meta(num_buckets=4)
    admin.create_index(root, meta)
    IndexBuilder(spark, meta, root).build(webtext_df(spark, 80, partitions=4))
    stats = admin.index_stats(root)
    stages = {e["stage"] for e in stats["lineage"]}
    assert {"docs", "blocks", "stats"} <= stages
    assert all("build_ms" in e for e in stats["lineage"])
