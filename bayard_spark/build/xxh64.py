"""Spark's `xxhash64` of a string column, in numpy.

`F.xxhash64(col)` hashes each string's UTF-8 bytes with XXH64 (Spark's
`XXH64.hashUnsafeBytes`) under seed 42. `xxhash64` returns the same
signed 64-bit values for an Arrow string array without nulls, and
`hash_buckets` the build's bucket of each value,
`pmod(xxhash64(v), num_buckets)`, so a put or a query buckets its terms
on the driver without a Spark job.

XXH64's steps depend only on a value's byte length: a 32-byte stripe
per full stripe, then up to three 8-byte words, one 4-byte word and up
to three single bytes. Each step runs once over every row that takes
it, as uint64 array arithmetic, which wraps modulo 2**64 as the JVM's
long does; the Python work grows with the longest value's stripe
count, never with the number of rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Spark's seed for xxhash64 (catalyst's XxHash64 expression).
SPARK_SEED = 42

_U64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
P1, P2, P3, P4, P5 = (np.uint64(p) for p in (_P1, _P2, _P3, _P4, _P5))


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, word: np.ndarray) -> np.ndarray:
    return _rotl(acc + word * P2, 31) * P1


def _seeded(n: int, value: int) -> np.ndarray:
    """`value` as n wrapped uint64s: the seed sums are taken on Python ints
    and wrapped before numpy sees them, so no scalar overflow is raised."""
    return np.full(n, value & _U64, dtype=np.uint64)


def _read(data: np.ndarray, at: np.ndarray, width: int) -> np.ndarray:
    """The little-endian `width`-byte (8, 4 or 1) unsigned word of the
    values buffer `data` at each offset in `at`."""
    if width == 1:
        return data[at].astype(np.uint64)
    raw = data[at[:, None] + np.arange(width)]
    return raw.view(f"<u{width}")[:, 0].astype(np.uint64)


def _strings(values: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(start offsets, byte lengths, values buffer) of a string or
    large_string array, its slice offset applied."""
    off_type = np.int64 if pa.types.is_large_string(values.type) else np.int32
    n = len(values)
    bufs = values.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_type)[
        values.offset: values.offset + n + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    return offsets[:-1], np.diff(offsets), data


def xxhash64(values: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """Spark's `xxhash64(value)` of every value of a string array without
    nulls, as int64."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if values.null_count or values.type not in (pa.string(), pa.large_string()):
        raise TypeError(
            f"xxhash64 takes strings without nulls, not {values.type} "
            f"with {values.null_count} nulls"
        )
    n = len(values)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    start, length, data = _strings(values)

    # 32-byte stripes: rows ordered by stripe count, longest first, so the
    # rows still striping at stripe s are a prefix of that order
    stripes = length // 32
    h = _seeded(n, SPARK_SEED + _P5)
    long_rows = np.flatnonzero(stripes)
    if long_rows.size:
        order = long_rows[np.argsort(-stripes[long_rows], kind="stable")]
        left = stripes[order]
        m = order.size
        acc = [_seeded(m, SPARK_SEED + _P1 + _P2), _seeded(m, SPARK_SEED + _P2),
               _seeded(m, SPARK_SEED), _seeded(m, SPARK_SEED - _P1)]
        at = start[order]
        for s in range(int(left[0])):
            k = int(np.count_nonzero(left > s))
            base = at[:k] + 32 * s
            for lane in range(4):
                acc[lane][:k] = _round(acc[lane][:k], _read(data, base + 8 * lane, 8))
        v = (_rotl(acc[0], 1) + _rotl(acc[1], 7) + _rotl(acc[2], 12)
             + _rotl(acc[3], 18))
        for lane in acc:
            v = (v ^ _round(np.zeros_like(lane), lane)) * P1 + P4
        h[order] = v
    h += length.astype(np.uint64)

    # the tail: the bytes after the last full stripe
    at = start + 32 * stripes
    rest = length - 32 * stripes
    for w in range(3):
        rows = np.flatnonzero(rest >= 8 * (w + 1))
        if not rows.size:
            break
        k1 = _round(np.zeros(rows.size, dtype=np.uint64),
                    _read(data, at[rows] + 8 * w, 8))
        h[rows] = _rotl(h[rows] ^ k1, 27) * P1 + P4
    at += rest & ~7
    rest &= 7
    rows = np.flatnonzero(rest >= 4)
    if rows.size:
        h[rows] = _rotl(h[rows] ^ (_read(data, at[rows], 4) * P1), 23) * P2 + P3
        at[rows] += 4
        rest[rows] -= 4
    for b in range(3):
        rows = np.flatnonzero(rest > b)
        if not rows.size:
            break
        h[rows] = _rotl(h[rows] ^ (_read(data, at[rows] + b, 1) * P5), 11) * P1

    h ^= h >> np.uint64(33)
    h *= P2
    h ^= h >> np.uint64(29)
    h *= P3
    h ^= h >> np.uint64(32)
    return h.view(np.int64)


def hash_buckets(values: pa.Array | pa.ChunkedArray, num_buckets: int
                 ) -> np.ndarray:
    """Spark's `pmod(xxhash64(value), num_buckets)` of every value, as
    int32: the distinct values are hashed once and taken back by index
    (numpy's mod of a positive modulus is never negative, like pmod)."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    enc = pc.dictionary_encode(values)
    buckets = np.mod(xxhash64(enc.dictionary), num_buckets).astype(np.int32)
    return buckets[enc.indices.to_numpy(zero_copy_only=False)]
