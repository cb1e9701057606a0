"""Deduplication family for training-data pipelines (graft requirement).

Five dedup strategies over a `documents`-shaped table, each built to hold at
100 TB:

  exact_dedup      — hash-groupBy on the full text (one shuffle on a 64-bit
                     key, never on the raw text), keeper = min(doc_id)
  minhash_lsh      — word-shingle MinHash signatures (k permutations, all
                     JVM arithmetic over xxhash64) banded into LSH buckets;
                     candidate pairs come from same-bucket joins, verified
                     by exact shingle Jaccard
  simhash          — 64-bit SimHash via one Arrow-batched pandas UDF
                     (token hashing + bit accumulation fully vectorized
                     with np.add.reduceat across the batch)
  exact_jaccard    — exact shingle Jaccard: per candidate pair, the size
                     of the intersection of the two docs' shingle arrays
                     (the verify stage of minhash_lsh); without pairs, a
                     shingle self-join for small inputs and oracles
  embedding_neardup— cosine near-duplicates over an embedding column via
                     random-hyperplane LSH buckets + in-bucket numpy rerank
                     (see similarity.py)

Scale notes: every self-join on the pipelines' path is blocked (LSH
band/bucket) — no unblocked O(n²) pair enumeration; shingle explosion
carries only (key, shingle_hash) longs, not text.
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from jirlbot_spark.functions.text import tokens_col
from jirlbot_spark.session import materialize

_log = logging.getLogger("jirlbot_spark.text_dedup")

# Per-(band, bucket) cap for the LSH/simhash candidate self-joins. Web
# boilerplate produces mega-buckets (thousands of documents sharing one
# band hash) whose in-bucket pair count grows quadratically — the classic
# MinHash skew killer at the 100 TB tier (r4 verdict). The pipelines
# default to this cap with hot_mode="salted" (identical output, skew
# spread across tasks); a crawl-scale run with heavy boilerplate should
# pass hot_mode="drop" (see bounded_bucket_self_join).
DEFAULT_MAX_BUCKET_SIZE = 4096

# ---- exact dedup ----

def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct text: keeper = min id. Shuffles on xxhash64 of
    the text (cheap fixed-width key); full-text equality is implied by the
    group (collisions: astronomically unlikely at 64-bit; a paranoid exact
    mode groups on (hash, text))."""
    return (
        docs.withColumn("__th", F.xxhash64(F.col(text_col)))
        .groupBy("__th")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("dup_count"),
        )
        .drop("__th")
    )


# ---- shingles ----

def shingle_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """(id, shingle_hash) — distinct word k-gram 64-bit hashes per doc,
    built JVM-side and fully codegen'd: explode the shingle-start index
    sequence, then hash the k tokens with one multi-arg xxhash64 via
    element_at.

    NOT a higher-order `transform` with slice+concat_ws per element:
    lambda functions are CodegenFallback in Spark (interpreted per
    element, allocating a sliced array + concatenated string per
    shingle) — measured 9x slower at sf0.1 (3.8 s vs 0.43 s for 260k
    shingles). Hashing the k tokens directly (multi-arg xxhash64) is
    set-equivalent to hashing their join: tokens come from a \\s+ split
    so no two distinct k-tuples alias. The token array never reaches a
    shuffle — (id, sh) is projected out inside the same codegen stage
    before the distinct exchange.

    Plan-shape load-bearing detail: the token split MUST live in its
    own select below the explode, with the generator and element_at
    referencing the `__toks` COLUMN — written as one select over
    `tokens_col(text)`, the Generate only carries `text` through and
    Catalyst re-derives `split(trim(text))` in the project ABOVE it,
    i.e. one full tokenization PER SHINGLE ROW instead of per doc
    (measured 4.7x: 2.6 s vs 0.56 s for 260k shingles at sf0.1). The
    two-step form survives CollapseProject because the `__toks` alias
    is non-cheap and referenced from multiple sites."""
    step = docs.select(F.col(id_col), tokens_col(text_col).alias("__toks"))
    n_sh = F.size("__toks") - F.lit(k - 1)
    # sequence(1, n) DESCENDS when n < 1 — guard short/empty docs explicitly
    starts = F.when(n_sh < 1, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), F.greatest(n_sh, F.lit(1)))
    )
    i = F.col("__i")
    return (
        step.select(
            F.col(id_col), "__toks", F.explode(starts).alias("__i")
        )
        .select(
            F.col(id_col),
            F.xxhash64(
                *[F.element_at("__toks", i + j) for j in range(k)]
            ).alias("sh"),
        )
        .distinct()
    )


# ---- MinHash + LSH ----

def minhash_signatures(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    seed: int = 7,
) -> DataFrame:
    """k-permutation MinHash over shingle hashes, one groupBy.agg with k
    JVM min() expressions. Permutation i re-hashes the shingle with a
    per-permutation salt: xxhash64(sh, seed, i) — an independent-enough
    family for MinHash, fully JVM-side, and (unlike the affine
    a_i*h + b_i wraparound family this replaces) safe under ANSI mode:
    no overflow semantics involved, so the operator behaves identically
    whether the session runs with spark.sql.ansi.enabled on or off."""
    aggs = [
        F.min(F.xxhash64(F.col("sh"), F.lit(seed), F.lit(i))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def bounded_bucket_self_join(
    buckets: DataFrame,
    key_cols: Sequence[str],
    payload_cols: Sequence[str],
    a_names: Sequence[str],
    b_names: Sequence[str],
    max_bucket_size: int | None = None,
    hot_mode: str = "salted",
    max_salts: int = 256,
) -> DataFrame:
    """All (a < b) row pairs sharing a bucket key, with hot buckets bounded.

    The naive self-join on key_cols blows up quadratically inside any
    mega-bucket (boilerplate-heavy web text puts thousands of docs behind
    one band hash). With `max_bucket_size` set, bucket sizes are counted
    first and over-cap buckets are routed by `hot_mode`:

      "salted" — the hot rows all-pairs join runs SALTED: the left side
        gets salt = hash(id) % S (S sized from the largest hot bucket),
        the right side is replicated once per salt, and the join adds the
        salt to its keys — the SAME pair set as the unsalted join (each
        left row meets each right row in exactly one salt group), but a
        size-m bucket's work spreads across S tasks at ~m·m/S per task
        instead of one m² straggler. Total work is still quadratic in m —
        salting bounds the straggler, not the candidate count.
      "drop" — hot buckets are EXCLUDED and the drop is logged loudly
        (bucket count, largest size, entries, distinct ids) per the
        no-silent-caps rule. Pairs co-occurring ONLY in dropped buckets
        are lost; with b bands a true near-dup pair shares several
        buckets w.h.p., and a bucket too big to enumerate is almost pure
        boilerplate false positives, so this is the right mode for
        crawl-scale corpora.

    `max_bucket_size=None` keeps the single self-join plan untouched.
    Capped mode materializes the bucket table and the hot-key table
    through `session.materialize` — the bucket table is scanned by the
    sizing pass and both join sides, and the uncapped plan was already
    evaluating the upstream pipeline once per side. Both therefore follow
    the session's checkpoint-directory policy (durable parquet when one
    is set).

    Output columns: key_cols + a_names + b_names, filtered to
    a_names[0] < b_names[0]; dedup across buckets (distinct) is the
    caller's job.
    """
    keys = list(key_cols)
    ida, idb = a_names[0], b_names[0]

    def sides(src: DataFrame) -> tuple[DataFrame, DataFrame]:
        left = src.select(
            *keys,
            *[F.col(c).alias(n) for c, n in zip(payload_cols, a_names)],
        )
        right = src.select(
            *keys,
            *[F.col(c).alias(n) for c, n in zip(payload_cols, b_names)],
        )
        return left, right

    lt = F.col(ida) < F.col(idb)
    if hot_mode not in ("salted", "drop"):
        # validated even in uncapped mode: a typo'd mode must fail HERE,
        # not halfway through a later capped run
        raise ValueError(
            f"hot_mode must be 'salted' or 'drop', got {hot_mode!r}"
        )
    if max_bucket_size is None:
        left, right = sides(buckets)
        return left.join(right, keys).filter(lt)
    buckets = materialize(buckets, "lsh-buckets")
    # ONE sizing pass: the hot (keys, count) table is small by
    # construction (≤ entries/cap rows) — materialize it and derive both
    # the stats and the broadcast prune set from the checkpoint
    hot = materialize(
        buckets.groupBy(*keys)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > max_bucket_size),
        "lsh-hot",
    )
    stats = hot.agg(
        F.count("*").alias("k"),
        F.max("__n").alias("mx"),
        F.sum("__n").alias("tot"),
    ).first()
    if stats["k"] == 0:
        left, right = sides(buckets)
        return left.join(right, keys).filter(lt)
    hot_keys = hot.select(*keys)
    cold = buckets.join(F.broadcast(hot_keys), keys, "left_anti")
    cleft, cright = sides(cold)
    cold_pairs = cleft.join(cright, keys).filter(lt)
    hot_rows = buckets.join(F.broadcast(hot_keys), keys, "left_semi")
    if hot_mode == "drop":
        n_ids = hot_rows.select(payload_cols[0]).distinct().count()
        _log.warning(
            "bounded_bucket_self_join: DROPPED %d hot bucket(s) over cap "
            "%d (largest %d rows, %d bucket entries, %d distinct ids); "
            "pairs co-occurring only in dropped buckets are lost — raise "
            "max_bucket_size or use hot_mode='salted' to keep them",
            stats["k"], max_bucket_size, stats["mx"], stats["tot"], n_ids,
        )
        return cold_pairs
    n_salts = min(max(2, -(-int(stats["mx"]) // max_bucket_size)), max_salts)
    _log.info(
        "bounded_bucket_self_join: %d hot bucket(s) over cap %d (largest "
        "%d rows, %d entries) routed to a salted sub-join with %d salts",
        stats["k"], max_bucket_size, stats["mx"], stats["tot"], n_salts,
    )
    hleft, hright = sides(hot_rows)
    hleft = hleft.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col(ida), F.lit(1129)), F.lit(n_salts)).cast(
            "int"
        ),
    )
    hright = hright.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    hot_pairs = (
        hleft.join(hright, keys + ["__salt"]).filter(lt).drop("__salt")
    )
    return cold_pairs.unionByName(hot_pairs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = None,
    hot_mode: str = "salted",
) -> DataFrame:
    """Band the signature, hash each band, self-join on (band, band_hash).

    A pair lands in ≥1 common bucket with prob 1-(1-s^r)^b for Jaccard s
    (r = rows/band). Output: distinct (id_a < id_b) candidates.

    Plan shape: ONE posexplode of an array of per-band hashes — not a
    union of `bands` separate selects over the signature frame, which
    plans as `bands` re-scans of the whole shingle->signature pipeline
    (measured 10x slower at bands=16, sf0.1). Hot band buckets are
    bounded via bounded_bucket_self_join when `max_bucket_size` is set
    (the pipelines default it to DEFAULT_MAX_BUCKET_SIZE)."""
    r = num_hashes // bands
    band_hashes = F.array(
        *[
            F.xxhash64(*[F.col(f"mh{bi * r + j}") for j in range(r)])
            for bi in range(bands)
        ]
    )
    buckets = signatures.select(
        F.col(id_col), F.posexplode(band_hashes).alias("band", "bh")
    )
    pairs = bounded_bucket_self_join(
        buckets,
        ["band", "bh"],
        [id_col],
        ["id_a"],
        ["id_b"],
        max_bucket_size,
        hot_mode,
    )
    return pairs.select("id_a", "id_b").distinct()


def exact_jaccard(
    sh: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact shingle Jaccard: (id_a, id_b, inter, sz_a, sz_b, jaccard)
    with union = sz_a + sz_b - inter, for id_a < id_b. A pair that shares
    no shingle yields no row.

    `sh` is (id, shingle hash), distinct per doc (`shingle_hashes`).
    `pairs` are distinct (id_a, id_b) candidates, as `lsh_candidate_pairs`
    emits; pairs with id_a >= id_b yield no row. With `pairs=None` the
    candidates are every pair sharing a shingle, from a self-join of `sh`
    on the shingle hash (quadratic in each shingle's doc count — for
    small inputs and oracles).

    Each id in a pair gets its shingle array (one `collect_list`), each
    pair joins both arrays, and `size(array_intersect)` counts the shared
    shingles: work linear in the two sets per pair, however many other
    docs share a boilerplate shingle.
    """
    if pairs is None:
        pairs = (
            sh.select(F.col(id_col).alias("id_a"), "sh")
            .join(sh.select(F.col(id_col).alias("id_b"), "sh"), "sh")
            .select("id_a", "id_b")
            .distinct()
        )
    pairs = pairs.select("id_a", "id_b").where(F.col("id_a") < F.col("id_b"))
    ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    sets = (
        sh.join(ids, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("sh").alias("s"))
    )
    out = (
        pairs.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("s").alias("s_a")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("s").alias("s_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("s_a", "s_b"))
            .cast("long")
            .alias("inter"),
            F.size("s_a").cast("long").alias("sz_a"),
            F.size("s_b").cast("long").alias("sz_b"),
        )
        .where(F.col("inter") > 0)
    )
    return out.select(
        "id_a",
        "id_b",
        "inter",
        "sz_a",
        "sz_b",
        (
            F.col("inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )


def minhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    hot_mode: str = "salted",
) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> band -> bucket join ->
    exact-Jaccard verify >= threshold. Returns (id_a, id_b, jaccard).

    The verify (`exact_jaccard`) builds one shingle array per doc that
    is in a candidate pair and intersects the two arrays of each pair.
    The exploded shingle frame feeds two branches (signatures, the verify's
    arrays), and the candidate-pair frame two (the ids that get arrays,
    the pair join). Both are MATERIALIZED before fan-out — the r2-shipped no-materialization form relied on
    "Spark's shuffle-stage reuse dedupes the heavy lifting", which the
    round-3 interleaved A/B (tools/ab_minhash.py, probe-balanced, sf0.1)
    refuted: the semi-join pushdown specializes each branch's exchanges so
    NOTHING is reused, and the shingle+LSH pipeline re-executes per branch
    — 31 s no-materialization vs ~4.6 s with a local checkpoint of both
    frames vs ~5.4 s with a parquet intermediate (plain .persist() was
    worst of all at 131-190 s in a degraded window: the InMemoryRelation
    blocks the semi-join pushdown AND still re-derives the candidate
    pipeline from cache 3x).

    Both frames, and capped mode's bucket tables, go through
    `session.materialize`: executor-local by default, durable parquet
    when the session has a checkpoint directory — set one on multi-node
    runs where executor loss must be survivable, or at the 100 TB tier
    where the shingle frame exceeds executor storage."""
    sh = materialize(
        shingle_hashes(docs, text_col, id_col, k_shingle), "minhash-shingles"
    )
    sig = minhash_signatures(sh, id_col, num_hashes)
    cand = materialize(
        lsh_candidate_pairs(
            sig, id_col, num_hashes, bands, max_bucket_size, hot_mode
        ),
        "minhash-cand",
    )
    jac = exact_jaccard(sh, cand, id_col)
    return jac.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


# ---- SimHash ----

def simhash64_batch(texts: pd.Series) -> pd.Series:
    """64-bit SimHash per text — vectorized across the whole batch:
    tokenize (pandas str), murmur3-hash ALL tokens in one numpy call, then
    per-doc signed bit accumulation with np.add.reduceat. Plain function
    (not a UDF) so the goldens generator can apply it directly; the Spark
    surface wraps it below."""
    from jirlbot_spark.functions.hashing import murmur3_x64_128_batch

    tok_lists = texts.fillna("").str.split()
    lens = tok_lists.str.len().to_numpy(dtype=np.int64)
    flat = [t.encode() for toks in tok_lists for t in toks]
    if not flat:
        return pd.Series(np.zeros(len(texts), dtype=np.int64), index=texts.index)
    h1, _ = murmur3_x64_128_batch(flat)
    bits = (
        (h1[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
        & np.uint64(1)
    ).astype(np.int32) * 2 - 1  # ±1 per bit
    starts = np.zeros(len(texts), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    # reduceat needs strictly valid starts; empty docs handled via mask
    nonempty = lens > 0
    acc = np.zeros((len(texts), 64), dtype=np.int64)
    if nonempty.any():
        red = np.add.reduceat(bits, starts[nonempty], axis=0)
        # reduceat with duplicate starts (consecutive empties) is avoided
        # by indexing only nonempty docs
        acc[nonempty] = red
    sig_bits = (acc > 0).astype(np.uint64)
    vals = np.zeros(len(texts), dtype=np.uint64)
    for i in range(64):
        vals |= sig_bits[:, i] << np.uint64(i)
    out = vals.view(np.int64)
    out[~nonempty] = 0
    return pd.Series(out, index=texts.index)


@F.pandas_udf(LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    return simhash64_batch(texts)


def simhash_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_bits: int = 16,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    hot_mode: str = "salted",
) -> DataFrame:
    """Near-dup candidates: equal SimHash block (4 blocks of 16 bits — any
    pair within Hamming distance 3 shares ≥1 exact block, pigeonhole).
    Returns (id_a, id_b, hamming). Hot (blk, bval) buckets — web
    boilerplate collapses many docs onto one block value — are bounded by
    bounded_bucket_self_join (salted by default: identical output)."""
    sh = docs.select(
        F.col(id_col), simhash64_udf(F.col(text_col)).alias("simhash")
    )
    blocks = []
    n_blocks = 64 // block_bits
    mask = (1 << block_bits) - 1
    for i in range(n_blocks):
        blocks.append(
            sh.select(
                id_col,
                "simhash",
                F.lit(i).alias("blk"),
                (
                    F.shiftrightunsigned("simhash", i * block_bits)
                    .bitwiseAND(F.lit(mask))
                ).alias("bval"),
            )
        )
    b = blocks[0]
    for x in blocks[1:]:
        b = b.unionByName(x)
    pairs = (
        bounded_bucket_self_join(
            b,
            ["blk", "bval"],
            [id_col, "simhash"],
            ["id_a", "sh_a"],
            ["id_b", "sh_b"],
            max_bucket_size,
            hot_mode,
        )
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", ham).select("id_a", "id_b", "hamming")


def text_dup_groups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    hot_mode: str = "salted",
) -> DataFrame:
    """(id, component, keep) — the TRANSITIVE closure of the MinHash
    near-dup relation (minhash_dedup pairs through connected_components'
    star contraction), one canonical keeper per duplicate group: the
    component label is the group MIN id (graph.py contract), so
    keep == (id == component). Documents in no pair label themselves.

    This is the text-side twin of image_dup_groups: dedup_minhash
    answers "which pairs are near-dups", this answers "which documents
    survive" — near-dup CLUSTERS are what the published curation
    recipes drop (RefinedWeb/FineWeb keep one representative per
    MinHash cluster, not one per pair). Scale posture inherits from the
    pieces: banded LSH candidate generation, a per-pair array-intersect
    verify, O(log) contraction rounds that read only materialized edges
    (the verify runs once); nothing corpus-sized reaches the driver.
    """
    from jirlbot_spark.operators.graph import connected_components

    pairs = minhash_dedup(
        docs,
        text_col,
        id_col,
        k_shingle,
        num_hashes,
        bands,
        threshold,
        max_bucket_size,
        hot_mode,
    )
    comp = connected_components(pairs)
    ids = docs.select(F.col(id_col)).distinct()
    return (
        ids.join(comp, ids[id_col] == comp["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
        .withColumn("keep", F.col(id_col) == F.col("component"))
    )
