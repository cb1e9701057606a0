"""Scalar/column function surface: URL canonicalization, PLD extraction,
hashing (xxhash64 engine keys + bit-exact murmur3-128), image codecs +
perceptual hash, and text analysis. All Python execution is Arrow-batched
(arrow UDFs and mapInArrow over pyarrow compute for URLs and URL hashes,
pandas UDFs elsewhere) over vectorized ops — zero per-row Python UDFs.
"""
