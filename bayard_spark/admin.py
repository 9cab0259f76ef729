"""Index admin operations (SURVEY §2.1: create/get/modify/delete index).

The reference gossips these to every node (bayard/src/node.rs:942-1106);
here the shared filesystem/catalog IS the metastore, so they are plain
metadata operations.
"""

from __future__ import annotations

import json
import os
import shutil
import warnings

from bayard_spark.schema import IndexMeta, IndexPaths

# Fields of IndexMeta that can change without rebuilding the index.
# (The reference likewise refuses index_settings changes with a warning,
# node.rs:1055; num_buckets/block_size define the physical layout.)
MUTABLE_FIELDS = {
    "salt_span", "hot_df_threshold", "seed", "docstore_compression",
}
LAYOUT_FIELDS = {"num_buckets", "block_size", "bm25_k1", "bm25_b"}


def create_index(root: str, meta: IndexMeta) -> IndexPaths:
    """Write meta.json; idempotent if the existing meta is identical,
    error if a different index already lives there."""
    from bayard_spark.fsio import IndexFS

    paths = IndexPaths(root)
    io = IndexFS(root)
    io.makedirs(root)
    if io.exists(paths.meta):
        existing = get_index(root)
        if existing.to_json() != meta.to_json():
            raise ValueError(
                f"index already exists at {root} with different metadata"
            )
        return paths
    io.write_text(paths.meta, meta.to_json())
    return paths


def get_index(root: str) -> IndexMeta:
    """Return the index metadata (GET /indices/:name analogue)."""
    from bayard_spark.fsio import IndexFS

    return IndexMeta.from_json(IndexFS(root).read_text(IndexPaths(root).meta))


def modify_index(root: str, **changes) -> IndexMeta:
    """Apply metadata changes. Build-tuning fields apply immediately;
    physical-layout/scoring fields are refused (they require a rebuild),
    matching the reference's warn-and-ignore for index_settings
    (node.rs:1055) but failing loudly instead of silently."""
    meta = get_index(root)
    for k, v in changes.items():
        if k in LAYOUT_FIELDS:
            raise ValueError(
                f"{k} defines the physical layout/scoring; rebuild the "
                "index to change it"
            )
        if k not in MUTABLE_FIELDS:
            raise ValueError(f"unknown or immutable field {k!r}")
        setattr(meta, k, v)
    from bayard_spark.fsio import IndexFS

    IndexFS(root).publish(IndexPaths(root).meta, meta.to_json())
    return meta


def delete_index(root: str) -> None:
    """Remove the whole index (DELETE /indices/:name analogue)."""
    from bayard_spark.fsio import IndexFS

    paths = IndexPaths(root)
    io = IndexFS(root)
    if not io.exists(paths.meta):
        warnings.warn(f"no index at {root}")
        return
    io.delete_dir(root)


def index_stats(root: str) -> dict:
    """Small operational summary (lineage + commit log)."""
    from bayard_spark.fsio import IndexFS

    paths = IndexPaths(root)
    io = IndexFS(root)
    out = {"root": root, "lineage": [], "commits": None}
    for f in io.listdir(paths.lineage):
        out["lineage"].append(json.loads(io.read_text(io.path("lineage", f))))
    commit_log = io.path("commits.json")
    if io.exists(commit_log):
        out["commits"] = json.loads(io.read_text(commit_log))
    return out
