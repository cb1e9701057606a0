"""64-bit URL keys: vectorized MurmurHash3 x64-128 (numpy, bit-exact) and
JVM-side xxhash64 helpers.

The north rule (BASELINE.json:6,14) pins "canonicalized murmur3 URL hashes"
for the DRUM-analog membership layer, so the frontier key is the first 64
bits of MurmurHash3_x64_128 (little-endian, as in Austin Appleby's public
reference algorithm). murmur3_64_from_arrow computes it straight off an
Arrow string array's UTF-8 buffer — vectorized across rows, looping only
over the (bounded) number of 16-byte blocks — for both the fused prepare
pass and the url_hash_col arrow_udf. A pure-Python scalar implementation
of the same public algorithm lives in tests as the bit-exactness oracle.

For non-pinned engine-internal keys (bucket ids, salts) we use Spark's
built-in `xxhash64` — JVM-side, whole-stage-codegen'd, no Python transfer.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)

_ERRSTATE = np.errstate(over="ignore")


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xFF51AFD7ED558CCD)
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xC4CEB9FE1A85EC53)
    k = k ^ (k >> np.uint64(33))
    return k


def murmur3_x64_128_batch(data: list[bytes], seed: int = 0):
    """MurmurHash3 x64-128 of each byte string; returns (h1, h2) uint64 arrays.

    Vectorized across the batch: the only Python-level loop is over 16-byte
    block positions (max ceil(maxlen/16) iterations per batch).
    """
    n = len(data)
    lens = np.fromiter((len(b) for b in data), dtype=np.int64, count=n)
    maxlen = int(lens.max()) if n else 0
    width = ((maxlen // 16) + 1) * 16  # always room for a zero-padded tail
    buf = np.zeros((n, width), dtype=np.uint8)
    for i, b in enumerate(data):  # memcpy per row; cost is O(total bytes)
        buf[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    return _murmur3_core(buf, lens, seed)


def _murmur3_core(buf: np.ndarray, lens: np.ndarray, seed: int = 0):
    """Block loop over an (n, width) zero-padded uint8 matrix; width % 16 == 0
    and width > maxlen (room for the zero tail). Shared by the bytes-list and
    arrow entry points."""
    n, width = buf.shape
    words = buf.view(np.uint64).reshape(n, width // 8)  # little-endian lanes
    nblocks = (lens // 16).astype(np.int64)

    h1 = np.full(n, np.uint64(seed) & np.uint64(0xFFFFFFFFFFFFFFFF))
    h2 = h1.copy()

    with _ERRSTATE:
        for j in range(width // 16):
            live = nblocks > j
            if not live.any():
                break
            k1 = words[:, 2 * j].copy()
            k2 = words[:, 2 * j + 1].copy()
            k1 = _rotl64(k1 * _C1, 31) * _C2
            nh1 = (_rotl64(h1 ^ k1, 27) + h2) * np.uint64(5) + np.uint64(
                0x52DCE729
            )
            k2 = _rotl64(k2 * _C2, 33) * _C1
            nh2 = (_rotl64((h2 ^ k2), 31) + nh1) * np.uint64(5) + np.uint64(
                0x38495AB5
            )
            h1 = np.where(live, nh1, h1)
            h2 = np.where(live, nh2, h2)

        # tail: zero padding contributes nothing (tail bytes beyond len are 0)
        tail_idx = nblocks * 2
        rows = np.arange(n)
        t1 = words[rows, np.minimum(tail_idx, width // 8 - 2)]
        t2 = words[rows, np.minimum(tail_idx + 1, width // 8 - 1)]
        # mask out lanes for rows whose tail starts beyond buffer (len==width)
        tail_len = lens % 16
        has_tail = (tail_len > 0) | (lens == 0)
        # zero out bytes at/after tail_len within the 16-byte tail window
        shift1 = np.where(tail_len >= 8, 64, tail_len * 8).astype(np.uint64)
        shift2 = np.where(
            tail_len > 8, (tail_len - 8) * 8, 0
        ).astype(np.uint64)
        mask1 = np.where(
            shift1 >= 64,
            np.uint64(0xFFFFFFFFFFFFFFFF),
            (np.uint64(1) << shift1) - np.uint64(1),
        )
        mask2 = np.where(
            shift2 == 0,
            np.uint64(0),
            np.where(
                shift2 >= 64,
                np.uint64(0xFFFFFFFFFFFFFFFF),
                (np.uint64(1) << shift2) - np.uint64(1),
            ),
        )
        k1 = t1 & mask1
        k2 = t2 & mask2
        use = tail_len > 0
        k2m = np.where(use & (tail_len > 8), k2, np.uint64(0))
        k2m = _rotl64(k2m * _C2, 33) * _C1
        h2 = np.where(use & (tail_len > 8), h2 ^ k2m, h2)
        k1m = np.where(use, k1, np.uint64(0))
        k1m = _rotl64(k1m * _C1, 31) * _C2
        h1 = np.where(use, h1 ^ k1m, h1)

        ulens = lens.astype(np.uint64)
        h1 ^= ulens
        h2 ^= ulens
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix64(h1)
        h2 = _fmix64(h2)
        h1 = h1 + h2
        h2 = h2 + h1
    _ = has_tail
    return h1, h2


def murmur3_64_from_arrow(arr, seed: int = 0) -> np.ndarray:
    """First 64 bits of murmur3_x64_128 of each UTF-8 string in a pyarrow
    string array, as int64. NO per-row Python: the padded block matrix is
    gathered straight from the array's contiguous UTF-8 buffer with one
    fancy-indexing pass. Null rows hash as "" — callers carry the validity
    mask (prepare filters rejects before hashing, so nulls never reach
    the store)."""
    from jirlbot_spark.functions.urls_arrow import string_bytes_view

    data, starts, lens = string_bytes_view(arr)
    n = len(lens)
    maxlen = int(lens.max()) if n else 0
    width = ((maxlen // 16) + 1) * 16
    # One contiguous gather: window i reads `width` bytes at starts[i],
    # spilling into the NEXT rows' bytes — harmless, because the core
    # masks every byte beyond lens[i] (block loop gated on nblocks, tail
    # lanes AND-masked), so the spill bytes never reach the hash. Much
    # cheaper than a zero-padded scatter (no per-element index arrays,
    # one memcpy-shaped gather).
    padded = np.concatenate([data, np.zeros(width, np.uint8)])
    windows = np.lib.stride_tricks.sliding_window_view(padded, width)
    buf = windows[starts]  # (n, width), C-contiguous copy
    h1, _ = _murmur3_core(buf, lens.astype(np.int64), seed)
    return h1.view(np.int64)


@F.arrow_udf(LongType())
def _url_hash_udf(urls: pa.Array) -> pa.Array:
    # the kernel hashes null as "" — re-apply the validity mask
    return pa.array(
        murmur3_64_from_arrow(urls),
        pa.int64(),
        mask=pc.is_null(urls).to_numpy(zero_copy_only=False),
    )


def url_hash_col(url_col: str | Column) -> Column:
    """Pinned frontier key: murmur3_x64_128[0:64] of the canonical URL
    (null stays null)."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return _url_hash_udf(c)


def fast_hash_col(col: str | Column) -> Column:
    """JVM-side 64-bit hash for engine-internal keys (salts, buckets)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c)


def bucket_col(hash_col: str | Column, num_buckets: int) -> Column:
    c = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    return F.pmod(c, F.lit(num_buckets)).cast("int")
