from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from jirlbot_spark.functions.hashing import murmur3_x64_128_batch
from tests.scalar_murmur3 import murmur3_x64_128


def _check(data: list[bytes], seed: int = 0):
    h1, h2 = murmur3_x64_128_batch(data, seed=seed)
    for i, b in enumerate(data):
        e1, e2 = murmur3_x64_128(b, seed=seed)
        assert int(h1[i]) == e1, f"h1 mismatch for {b!r}"
        assert int(h2[i]) == e2, f"h2 mismatch for {b!r}"


def test_empty_is_zero():
    h1, h2 = murmur3_x64_128_batch([b""])
    assert int(h1[0]) == 0 and int(h2[0]) == 0


def test_all_lengths_0_to_64():
    data = [bytes(range(1, n + 1)) for n in range(65)]
    _check(data)


def test_block_boundaries_and_seeds():
    payloads = [b"x" * n for n in (7, 8, 9, 15, 16, 17, 31, 32, 33, 127, 128)]
    for seed in (0, 1, 42, 0xDEADBEEF):
        _check(payloads, seed=seed)


def test_urls_batch():
    urls = [f"http://site{i}.example.com/path/{i}?q={i}" for i in range(500)]
    _check([u.encode() for u in urls])


@settings(max_examples=100, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=200), min_size=1, max_size=50))
def test_property_matches_scalar(data):
    _check(data)


def test_series_signed_int64_and_nulls():
    import pyarrow as pa

    from jirlbot_spark.functions.hashing import _url_hash_udf

    out = _url_hash_udf.func(pa.array(["http://a.com/", None, "http://b.com/"]))
    assert out.type == pa.int64()
    assert out[1].as_py() is None  # null stays null, not hash("")
    e1, _ = murmur3_x64_128(b"http://a.com/")
    assert out[0].as_py() == np.uint64(e1).astype(np.int64)
    assert out[0].as_py() < 0  # the top bit survives as a signed int64


def test_distribution_sanity():
    data = [f"u{i}".encode() for i in range(10000)]
    h1, _ = murmur3_x64_128_batch(data)
    assert len(np.unique(h1)) == 10000
    buckets = h1 % np.uint64(32)
    counts = np.bincount(buckets.astype(int), minlength=32)
    assert counts.min() > 10000 / 32 * 0.7


def test_spark_udf_roundtrip(spark):
    from pyspark.sql import functions as F

    from jirlbot_spark.functions.hashing import url_hash_col

    df = spark.createDataFrame(
        [(f"http://s{i}.com/",) for i in range(100)] + [(None,)], "url string"
    )
    rows = df.withColumn("h", url_hash_col("url")).collect()
    assert sum(r.h is None for r in rows) == 1  # null stays null, not hash("")
    signs = set()
    for r in rows:
        if r.url is None:
            assert r.h is None
            continue
        e1, _ = murmur3_x64_128(r.url.encode())
        assert r.h == int(np.uint64(e1).astype(np.int64))
        signs.add(r.h < 0)
    assert signs == {True, False}  # signed int64: the top bit reaches Spark


def test_xxhash64_scalar_reference(spark):
    """Spark's xxhash64 (the engine's universal internal key: DRUM
    hashes, shingles, minhash permutations, DSIR buckets) against the
    INDEPENDENT spec-derived pure-Python XXH64
    (tests/scalar_xxhash64.py) — strings across every length regime
    (empty, <4, <8, 8..31, >=32), longs incl. extremes, and the
    multi-argument running-seed fold."""
    import random

    from pyspark.sql import functions as F

    from tests.scalar_xxhash64 import spark_xxhash64

    rng = random.Random(7)
    strs = ["", "a", "abc", "hello wo", "x" * 31, "y" * 32, "z" * 100,
            "unicode ✓ ü ß 中文"]
    strs += ["".join(rng.choice("abcdef ghij") for _ in range(rng.randint(0, 80)))
             for _ in range(60)]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    for r in df.select("s", F.xxhash64("s").alias("h")).collect():
        assert spark_xxhash64(r["s"]) == r["h"], repr(r["s"])

    longs = [0, 1, -1, 42, 2**62, -(2**62), 2**63 - 1, -(2**63)]
    longs += [rng.randint(-(2**63), 2**63 - 1) for _ in range(40)]
    df2 = spark.createDataFrame([(v,) for v in longs], "v long")
    for r in df2.select("v", F.xxhash64("v").alias("h")).collect():
        assert spark_xxhash64(r["v"]) == r["h"], r["v"]

    df3 = spark.createDataFrame(
        [("ab", 3, "cd"), ("", -5, "x y z")], "a string, b long, c string"
    )
    for r in df3.select(
        "a", "b", "c", F.xxhash64("a", "b", "c").alias("h")
    ).collect():
        assert spark_xxhash64(r["a"], r["b"], r["c"]) == r["h"]
