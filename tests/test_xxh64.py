"""The numpy XXH64 kernel equals Spark's `xxhash64` and its term bucket.

Every byte length from 0 to 70 (each 4-, 8- and 32-byte boundary and
the lengths either side of it), a few past 128, multi-byte UTF-8, and
webtext urls and terms, as `string` and `large_string`, sliced and
chunked. `hash_buckets` (distinct values hashed, then taken by index)
equals hashing every row and equals `pmod(xxhash64(v), n)` for several
n. The module's constants are wrapped 64-bit values, so hashing raises
no numpy overflow warning: the hash tests turn RuntimeWarning into an
error, and the file also passes under `-W error::RuntimeWarning`.
"""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from bayard_spark.build.xxh64 import hash_buckets, xxhash64
from bayard_spark.sources.webtext import synthesize_batch

BUCKETS = (1, 3, 8, 16, 97)


def corpus() -> list[str]:
    rng = np.random.default_rng(7)
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789 -_./"))
    out = ["".join(rng.choice(alphabet, n)) for n in range(71) for _ in range(3)]
    out += ["".join(rng.choice(alphabet, n)) for n in (127, 128, 129, 160, 257, 1000)]
    # multi-byte UTF-8: 2-, 3- and 4-byte code points across word edges
    out += ["é" * n for n in range(1, 20)] + ["日本語" * n for n in range(1, 12)]
    out += ["a" + "🙂" * n for n in range(1, 10)]
    out += ["Ünïcödé straße", "naïve café"]
    pdf = synthesize_batch(np.arange(40), 3)
    out += list(pdf.url) + sorted({t for s in pdf.text for t in s.split()})
    return out


@pytest.fixture(scope="module")
def spark_hashes(spark):
    """{string: (xxhash64, {n: pmod bucket})} from Spark."""
    strings = corpus()
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    rows = df.select(
        "s", F.xxhash64("s").alias("h"),
        *(F.pmod(F.xxhash64("s"), F.lit(n)).cast("int").alias(f"b{n}")
          for n in BUCKETS),
    ).collect()
    return {r["s"]: (r["h"], {n: r[f"b{n}"] for n in BUCKETS}) for r in rows}


def test_every_byte_length_boundary_is_covered():
    lengths = {len(s.encode()) for s in corpus()}
    assert set(range(71)) <= lengths
    assert any(n > 128 for n in lengths)


@pytest.mark.parametrize("type_", [pa.string(), pa.large_string()])
def test_hash_equals_spark(spark_hashes, type_):
    strings = list(spark_hashes)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = xxhash64(pa.array(strings, type=type_))
    assert got.dtype == np.int64
    assert got.tolist() == [spark_hashes[s][0] for s in strings]


@pytest.mark.parametrize("n", BUCKETS)
def test_buckets_equal_spark_pmod(spark_hashes, n):
    strings = list(spark_hashes)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = hash_buckets(pa.array(strings), n)
    assert got.dtype == np.int32
    assert got.tolist() == [spark_hashes[s][1][n] for s in strings]


def test_sliced_and_chunked_arrays(spark_hashes):
    strings = list(spark_hashes)
    want = [spark_hashes[s][0] for s in strings]
    arr = pa.array(strings)
    sliced = arr.slice(37, 150)
    assert sliced.offset == 37
    assert xxhash64(sliced).tolist() == want[37:187]
    chunked = pa.chunked_array([arr.slice(0, 100), arr.slice(100)])
    assert xxhash64(chunked).tolist() == want
    large = pa.array(strings, type=pa.large_string()).slice(5, 60)
    assert xxhash64(large).tolist() == want[5:65]
    assert hash_buckets(chunked.slice(10), 16).tolist() == [
        spark_hashes[s][1][16] for s in strings[10:]
    ]


def test_distinct_then_take_equals_hashing_every_row(spark_hashes):
    rng = np.random.default_rng(3)
    strings = list(spark_hashes)
    rows = pa.array([strings[i] for i in rng.integers(0, len(strings), 5_000)])
    for n in BUCKETS:
        assert hash_buckets(rows, n).tolist() == np.mod(
            xxhash64(rows), n
        ).tolist()


def test_empty_arrays_and_nulls():
    assert xxhash64(pa.array([], type=pa.string())).size == 0
    assert hash_buckets(pa.chunked_array([], type=pa.string()), 8).size == 0
    with pytest.raises(TypeError, match="without nulls"):
        xxhash64(pa.array(["a", None]))
    with pytest.raises(TypeError, match="without nulls"):
        xxhash64(pa.array([b"a"]))
