from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from jirlbot_spark.functions.text import (
    lang_id,
    quality_score,
    token_count,
    token_fingerprint,
)
from jirlbot_spark.operators.similarity import brute_topk, lsh_topk
from jirlbot_spark.operators.text_dedup import (
    exact_dedup,
    exact_jaccard,
    minhash_dedup,
    shingle_hashes,
    simhash_candidates,
    simhash64_udf,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog in a field"),
        (1, "the quick brown fox jumps over the lazy dog in a field"),  # exact dup
        (2, "the quick brown fox jumps over the lazy dog in a meadow"),  # near dup
        (3, "der hund ist nicht ein fuchs und das ist gut"),
        (4, "completely different words about spark engines and shuffles"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count_and_lang(spark, docs):
    got = {
        r.doc_id: (r.n, r.lang)
        for r in docs.select(
            "doc_id",
            token_count("text").alias("n"),
            lang_id("text").alias("lang"),
        ).collect()
    }
    assert got[0] == (12, "en")
    assert got[3][1] == "de"
    assert got[4][1] == "en"  # 'and' hits the en stopword list
    assert got[5] == (0, "und")


def test_quality_and_fingerprint(spark, docs):
    rows = docs.select(
        "doc_id",
        quality_score("text").alias("q"),
        token_fingerprint("text").alias("fp"),
    ).collect()
    by_id = {r.doc_id: r for r in rows}
    assert 0.0 <= by_id[5].q <= 1.0
    assert by_id[0].q > by_id[5].q
    assert by_id[0].fp == by_id[1].fp  # identical text -> identical fp
    assert by_id[0].fp != by_id[2].fp
    # order sensitivity: permuted tokens change the fingerprint
    perm = spark.createDataFrame(
        [(0, "quick the brown fox jumps over the lazy dog in a field")],
        ["doc_id", "text"],
    )
    fp_perm = perm.select(token_fingerprint("text").alias("fp")).first().fp
    assert fp_perm != by_id[0].fp


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs).collect()
    dups = [r for r in out if r.dup_count > 1]
    assert len(dups) == 1 and dups[0].keeper_id == 0 and dups[0].dup_count == 2
    assert len(out) == 5  # 6 docs, one pair merged


def test_minhash_finds_near_dups(spark, docs):
    pairs = minhash_dedup(docs, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got  # exact dup -> jaccard 1.0
    assert (0, 2) in got or (1, 2) in got  # near dup above 0.5
    assert all({a, b} & {3, 4} == set() for a, b in got)


@pytest.fixture(scope="module")
def boilerplate_docs(spark):
    """Adversarial LSH fixture (r4 verdict): 120 documents share identical
    boilerplate text, so EVERY band hash collides and each of the 8 bands
    forms one 120-doc mega-bucket (>10% of the corpus behind one band
    hash); 6 distinct docs ride along."""
    rows = [(i, "common boilerplate header footer nav terms of service "
                "all rights reserved cookie banner") for i in range(120)]
    rows += [
        (200 + i, f"unique document number {i} about topic {i * 7} with "
                  f"original words {i * 13} and phrasing {i * 31}")
        for i in range(6)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_lsh_hot_bucket_salted_identical(spark, boilerplate_docs, caplog):
    """Salted hot-bucket routing must be invisible in the candidate set:
    with the cap far below the 120-doc mega-buckets, the capped run
    returns EXACTLY the uncapped pair set (salting spreads the skew, it
    never changes the pairs), and the salted sub-join actually ran."""
    import logging as _logging

    from jirlbot_spark.operators.text_dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_hashes,
    )

    sig = minhash_signatures(shingle_hashes(boilerplate_docs, k=3))
    base = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sig, max_bucket_size=None).collect()
    }
    assert len(base) >= 120 * 119 // 2  # the mega-bucket really is hot
    with caplog.at_level(
        _logging.INFO, logger="jirlbot_spark.text_dedup"
    ):
        salted = {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(
                sig, max_bucket_size=16, hot_mode="salted"
            ).collect()
        }
    assert salted == base
    assert any("salted sub-join" in r.getMessage() for r in caplog.records)


def test_lsh_hot_bucket_drop_logged(spark, boilerplate_docs, caplog):
    """Drop mode removes pairs that co-occur ONLY in hot buckets — here
    every boilerplate pair — keeps cold-bucket pairs, and logs the drop
    loudly (no-silent-caps rule)."""
    import logging as _logging

    from jirlbot_spark.operators.text_dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_hashes,
    )

    sig = minhash_signatures(shingle_hashes(boilerplate_docs, k=3))
    base = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sig, max_bucket_size=None).collect()
    }
    with caplog.at_level(
        _logging.WARNING, logger="jirlbot_spark.text_dedup"
    ):
        dropped = {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(
                sig, max_bucket_size=16, hot_mode="drop"
            ).collect()
        }
    assert dropped <= base
    # every pure-boilerplate pair lived only in hot buckets -> gone
    assert not any(a < 120 and b < 120 for a, b in dropped)
    msgs = [r.getMessage() for r in caplog.records]
    assert any("DROPPED" in m and "120" in m for m in msgs), msgs


def test_minhash_durable_materialization(
    spark, boilerplate_docs, monkeypatch, tmp_path
):
    """With a checkpoint directory set, every lineage cut of a capped
    MinHash run lands as parquet under it: the same verified pairs as
    the executor-local default, one parquet directory per materialized
    table, and no executor-local RDD left in the returned plan."""
    from pyspark import SparkContext

    def run():
        out = minhash_dedup(boilerplate_docs, max_bucket_size=16)
        plan = out._jdf.queryExecution().executedPlan().toString()
        return {(r.id_a, r.id_b) for r in out.collect()}, plan

    local_pairs, local_plan = run()
    assert "ExistingRDD" in local_plan
    monkeypatch.setattr(
        SparkContext, "getCheckpointDir", lambda self: str(tmp_path)
    )
    durable_pairs, durable_plan = run()
    assert durable_pairs == local_pairs
    assert len(local_pairs) >= 120 * 119 // 2
    assert "ExistingRDD" not in durable_plan
    written = {
        d.name.rsplit("-", 1)[0]
        for d in (tmp_path / "materialize").iterdir()
        if (d / "_SUCCESS").exists()
    }
    assert {"minhash-shingles", "minhash-cand", "lsh-buckets"} <= written


def test_simhash_hot_bucket_salted_identical(spark, boilerplate_docs):
    """The same bound on the simhash pigeonhole join: capped+salted ==
    uncapped, pair for pair, hamming for hamming."""
    base = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_candidates(
            boilerplate_docs, max_bucket_size=None
        ).collect()
    }
    salted = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_candidates(
            boilerplate_docs, max_bucket_size=16, hot_mode="salted"
        ).collect()
    }
    assert salted == base and len(base) >= 120 * 119 // 2


def test_minhash_dedup_default_cap_unchanged(spark, docs):
    """The pipeline's default (capped, salted) path returns the same
    verified pairs as an uncapped run on a normal corpus, and rejects an
    unknown hot_mode loudly."""
    from jirlbot_spark.operators.text_dedup import minhash_dedup as md

    base = {
        (r.id_a, r.id_b)
        for r in md(docs, threshold=0.5, max_bucket_size=None).collect()
    }
    capped = {
        (r.id_a, r.id_b) for r in md(docs, threshold=0.5).collect()
    }
    assert capped == base
    with pytest.raises(ValueError, match="hot_mode"):
        from jirlbot_spark.operators.text_dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
            shingle_hashes,
        )

        lsh_candidate_pairs(
            minhash_signatures(shingle_hashes(docs, k=3)),
            max_bucket_size=4,
            hot_mode="nope",
        )


def test_exact_jaccard_values(spark, docs):
    sh = shingle_hashes(docs, k=3)
    pairs = spark.createDataFrame([(0, 1), (0, 4)], ["id_a", "id_b"])
    out = {(r.id_a, r.id_b): r.jaccard for r in exact_jaccard(sh, pairs).collect()}
    assert out[(0, 1)] == 1.0
    assert (0, 4) not in out  # zero intersection -> no row

    # pure-Python set-Jaccard oracle over word 3-shingles
    texts = {r.doc_id: r.text.split() for r in docs.collect()}
    sets = {
        d: {tuple(t[i:i + 3]) for i in range(len(t) - 2)}
        for d, t in texts.items()
    }
    cand = [(0, 1), (0, 2), (1, 2), (0, 4), (3, 4), (2, 3), (4, 5)]
    exp = {}
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        if inter:
            union = len(sets[a]) + len(sets[b]) - inter
            exp[(a, b)] = (inter, len(sets[a]), len(sets[b]), inter / union)
    got = {
        (r.id_a, r.id_b): (r.inter, r.sz_a, r.sz_b, r.jaccard)
        for r in exact_jaccard(
            sh, spark.createDataFrame(cand, ["id_a", "id_b"])
        ).collect()
    }
    assert got == exp
    assert exp[(0, 2)] == (9, 10, 10, 9 / 11)
    # the all-pairs self-join path agrees on every pair it shares
    every = {
        (r.id_a, r.id_b): (r.inter, r.sz_a, r.sz_b, r.jaccard)
        for r in exact_jaccard(sh).collect()
    }
    assert {k: every[k] for k in exp} == exp


def test_simhash_properties(spark, docs):
    sh = {
        r.doc_id: r.h
        for r in docs.select(
            "doc_id", simhash64_udf(F.col("text")).alias("h")
        ).collect()
    }
    assert sh[0] == sh[1]
    assert bin(sh[0] ^ sh[2]).count("1") <= 12  # near dup -> small hamming
    assert bin(sh[0] ^ sh[4]).count("1") >= 14  # unrelated -> large
    assert sh[5] == 0
    cands = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_candidates(docs).collect()
    }
    assert cands[(0, 1)] == 0


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((30, 64)).astype(np.float32)
    base[7] = base[3] + rng.standard_normal(64).astype(np.float32) * 0.01
    return spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(30)], ["vec_id", "embedding"]
    )


def test_brute_topk_exact(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 3)
    out = brute_topk(queries, vectors, k=5)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert len(rs) == 5
        assert rs[0].vec_id == q and abs(rs[0].cosine - 1.0) < 1e-6
        sims = [r.cosine for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_brute_topk_blocked_queries_identical(spark, vectors):
    """Query-block streaming (driver holds at most max_query_block query
    rows at once) must be invisible in the result: forcing >1 block gives
    the bit-identical top-k of the single-block plan, and the block
    iterator really does split."""
    from jirlbot_spark.operators.similarity import (
        _iter_query_blocks,
        ivf_topk,
    )

    queries = vectors.filter(F.col("vec_id") < 10)
    blocks = list(_iter_query_blocks(queries, "vec_id", "embedding", 3))
    assert len(blocks) > 1  # the split actually happened
    assert sum(len(q) for q, _, _ in blocks) == 10  # no query lost/dup'd
    assert len(np.unique(np.concatenate([q for q, _, _ in blocks]))) == 10
    # n_blocks = ceil(10/3); yielded blocks may be fewer (a hash-mod
    # block can come up empty) but never more
    assert all(nb == 4 for _, _, nb in blocks) and len(blocks) <= 4

    def cmp(one, many, exact):
        one, many = sorted(one), sorted(many)
        assert [r[:3] for r in one] == [r[:3] for r in many]
        if exact:
            assert [r[3] for r in one] == [r[3] for r in many]
        else:
            # float path: BLAS may re-order dot-product summation when
            # the block row count changes kernels — last-ulp only
            np.testing.assert_allclose(
                [r[3] for r in one], [r[3] for r in many], rtol=1e-12
            )

    rows = lambda df: [  # noqa: E731
        (r.query_id, r.rank, r.vec_id, r.cosine) for r in df.collect()
    ]
    cmp(
        rows(brute_topk(queries, vectors, k=4)),
        rows(brute_topk(queries, vectors, k=4, max_query_block=3)),
        exact=False,
    )
    cmp(
        rows(ivf_topk(queries, vectors, k=4, n_centroids=8, nprobe=4)),
        rows(
            ivf_topk(
                queries, vectors, k=4, n_centroids=8, nprobe=4,
                max_query_block=3,
            )
        ),
        exact=False,
    )

    # integer vectors: int64 matmul is exact -> BIT-identical across
    # blockings, the property the exact golden oracles rely on
    rng = np.random.default_rng(11)
    imat = rng.integers(-40, 40, size=(12, 16))
    ivec = spark.createDataFrame(
        [(i, [int(v) for v in imat[i]]) for i in range(12)],
        "vec_id long, embedding array<long>",
    )
    iq = ivec.filter(F.col("vec_id") < 6)
    cmp(
        rows(brute_topk(iq, ivec, k=3)),
        rows(brute_topk(iq, ivec, k=3, max_query_block=2)),
        exact=True,
    )


def test_lsh_recall_vs_brute(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 3)
    brute = {r.vec_id for r in brute_topk(queries, vectors, k=3).collect()}
    approx = {
        r.vec_id
        for r in lsh_topk(
            queries, vectors, k=3, n_planes=6, n_tables=8
        ).collect()
    }
    # the engineered near-dup (7) must be found, self always found
    assert 3 in approx and 7 in approx
    assert len(brute & approx) >= 2


def test_ivf_recall_vs_brute(spark, vectors):
    """IVF finds self + the engineered near-dup and overlaps brute top-k
    well at nprobe/n_centroids = 1/2; exact when probing every cell."""
    from jirlbot_spark.operators.similarity import ivf_topk

    queries = vectors.filter(F.col("vec_id") < 3)
    brute = {
        (r.query_id, r.vec_id)
        for r in brute_topk(queries, vectors, k=3).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(
            queries, vectors, k=3, n_centroids=8, nprobe=4
        ).collect()
    }
    for q in (0, 1, 2):
        assert (q, q) in approx  # self always found
    assert len(brute & approx) >= 6  # >= 2/3 recall on this fixture

    # probing EVERY cell ≡ brute (same candidates, same rerank)
    full = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(
            queries, vectors, k=3, n_centroids=8, nprobe=8
        ).collect()
    }
    assert full == brute

    near = ivf_topk(
        vectors.filter(F.col("vec_id") == 3), vectors, k=2,
        n_centroids=4, nprobe=2,
    ).collect()
    assert {r.vec_id for r in near} == {3, 7}  # engineered near-dup found


def test_ivf_stale_high_hint_bounded(spark, vectors):
    """A stale-HIGH corpus_rows hint empties the hash sample; the
    tiny-corpus fallback must stay BOUNDED (r4 advice): on a genuinely
    tiny corpus it degrades gracefully (trains on the full corpus, same
    answer as no hint), but on a corpus larger than the fallback cap it
    raises instead of collecting the whole corpus onto the driver."""
    from jirlbot_spark.operators.similarity import ivf_topk

    queries = vectors.filter(F.col("vec_id") < 3)
    # tiny corpus (30 rows << 64*train_budget): huge hint is harmless
    with_hint = {
        (r.query_id, r.rank, r.vec_id)
        for r in ivf_topk(
            queries, vectors, k=3, n_centroids=8, nprobe=8,
            corpus_rows=10**12,
        ).collect()
    }
    no_hint = {
        (r.query_id, r.rank, r.vec_id)
        for r in ivf_topk(
            queries, vectors, k=3, n_centroids=8, nprobe=8,
        ).collect()
    }
    assert with_hint == no_hint

    # corpus (100) > fallback cap (64*train_budget = 64): loud error,
    # not a full-corpus driver collect
    big = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[(F.col("id") * (i + 3) % 97).cast("long") for i in range(8)]
        ).alias("embedding"),
    )
    with pytest.raises(ValueError, match="HIGH"):
        ivf_topk(
            big.filter(F.col("vec_id") < 2), big, k=2,
            n_centroids=1, nprobe=1, train_rows_per_centroid=1,
            corpus_rows=10**12,
        )

    # no hint, but every id equal: the hash sample comes back empty
    # (xxhash64(7) mod 100 != 0) or holds every row (xxhash64(30) mod 100
    # == 0), and either error names the ids, not a hint
    for same_id in (7, 30):
        collapsed = big.withColumn("vec_id", F.lit(same_id).cast("long"))
        with pytest.raises(ValueError, match="hash-collapse") as err:
            ivf_topk(
                collapsed.limit(2), collapsed, k=2,
                n_centroids=1, nprobe=1, train_rows_per_centroid=1,
            )
        assert "hint" not in str(err.value)


def test_blocked_neardup_exact_equals_brute_force(spark):
    """blocked_neardup_exact (block-nested self-join) must equal the
    naive all-pairs computation exactly — same pair set, bit-identical
    cosines — across block counts (incl. B > distinct blocks and B=1)."""
    import numpy as np

    from jirlbot_spark.operators.similarity import blocked_neardup_exact

    rng = np.random.default_rng(5)
    n, dim = 60, 8
    mat = rng.integers(-50, 50, size=(n, dim), dtype=np.int64)
    mat[mat.sum(axis=1) == 0, 0] += 1  # no zero-ish degenerate rows
    df = spark.createDataFrame(
        [(i, [int(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<long>",
    )
    expected = {}
    for i in range(n):
        for j in range(i + 1, n):
            dot = float(int(mat[i] @ mat[j]))
            na, nb = int(mat[i] @ mat[i]), int(mat[j] @ mat[j])
            cos = dot / np.sqrt(float(na * nb))
            if cos >= 0.3:
                expected[(i, j)] = cos
    for n_blocks in (1, 4, 16):
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in blocked_neardup_exact(
                df, threshold=0.3, n_blocks=n_blocks
            ).collect()
        }
        assert got.keys() == expected.keys(), n_blocks
        for k in expected:
            assert got[k] == expected[k], (n_blocks, k)
