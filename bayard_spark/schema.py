"""Index metadata model.

Mirrors the reference's per-index metadata (bayard/src/index/metadata.rs:90-100
— schema + analyzers + index settings + shard layout) re-expressed for a
Spark/parquet layout: shards become term-hash buckets, replicas disappear
(shared storage), writer threads/mem become Spark parallelism settings.

Reserved columns (bayard/src/index.rs:9-10 injects `_id` and `_timestamp`
into every schema): here `url` is the document id (raw-analyzed, stored) and
`warc_ts` the timestamp; a dense int64 `doc_id` surrogate is assigned at
build time by sorted rank within url-hash buckets.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field

from bayard_spark import BM25_B, BM25_K1

FIELD_TYPES = {"text", "u64", "i64", "f64", "date", "facet", "bytes", "json_object"}
RECORD_OPTIONS = {"basic", "freq", "position"}  # docs/schema.md:62-65
# Settings older metas and callers still carry; read and ignored.
RETIRED_FIELDS = {"num_waves"}


@dataclass
class FieldDef:
    name: str
    type: str = "text"
    analyzer: str = "default"
    record: str = "position"
    stored: bool = True
    fast: bool = False
    fieldnorms: bool = False  # examples/meta.json sets false for text fields
    indexed: bool = True

    def __post_init__(self):
        if self.type not in FIELD_TYPES:
            raise ValueError(f"unknown field type {self.type!r}")
        if self.record not in RECORD_OPTIONS:
            raise ValueError(f"unknown record option {self.record!r}")


@dataclass
class IndexMeta:
    name: str
    fields: list[FieldDef] = field(default_factory=list)
    analyzers: dict = field(default_factory=dict)
    # physical layout
    num_buckets: int = 32          # term-hash buckets (partition pruning unit)
    salt_span: int = 1 << 20       # docs per salt sub-list for hot terms
    hot_df_threshold: int = 1 << 21  # df above which a term gets salted
    block_size: int = 128
    # scoring
    bm25_k1: float = BM25_K1
    bm25_b: float = BM25_B
    # build
    seed: int = 42
    # index-time presort (docs/rest_api/create_index_api.md "Sort by field"):
    # doc ids are assigned by this field's order WITHIN each url-hash bucket
    # (the per-segment presort tantivy does), so the doc store is physically
    # ordered by the field — row-group min/max pruning + early-exit top-n on
    # field-sorted queries. None = sort by url (pure id locality).
    sort_by_field: str | None = None
    # doc-store page compression (reference: none/lz4/brotli/snappy blocks,
    # docs/rest_api/create_index_api.md; parquet gives us zstd/snappy/gzip)
    docstore_compression: str = "zstd"
    # scoring-time 1-byte fieldnorm quantization (reference fieldnorms:true
    # semantics; bayard_spark/fieldnorm.py). Default off = exact lengths.
    lossy_fieldnorms: bool = False

    def text_fields(self) -> list[FieldDef]:
        return [f for f in self.fields if f.type == "text" and f.indexed]

    def field_def(self, name: str) -> FieldDef:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(f"no field {name!r} in index {self.name!r}")

    def to_json(self) -> str:
        d = asdict(self)
        return json.dumps(d, indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "IndexMeta":
        d = json.loads(s)
        for k in RETIRED_FIELDS:
            d.pop(k, None)
        d["fields"] = [FieldDef(**f) for f in d.get("fields", [])]
        return cls(**d)


@dataclass(frozen=True)
class IndexPaths:
    """Filesystem layout of one index (parquet dirs; Iceberg-shaped: each dir
    is an independently snapshot-able table)."""

    root: str

    @property
    def meta(self) -> str:
        return os.path.join(self.root, "meta.json")

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def lineage(self) -> str:
        return os.path.join(self.root, "lineage")


def webtext_index_meta(name: str = "webtext", **overrides) -> IndexMeta:
    """Default index over the BASELINE input shape
    (url, warc_ts, html, text, lang)."""
    meta = IndexMeta(
        name=name,
        fields=[
            FieldDef(name="url", type="text", analyzer="raw", record="basic"),
            FieldDef(name="text", type="text", analyzer="default",
                     record="position"),
            FieldDef(name="lang", type="text", analyzer="raw", record="basic"),
            FieldDef(name="warc_ts", type="date", fast=True, indexed=True),
        ],
    )
    for k, v in overrides.items():
        if k not in RETIRED_FIELDS:
            setattr(meta, k, v)
    return meta
