"""SemDeDup (operators/semdedup.py).

Independent reference: a union-find + brute-force pure-Python
implementation of the pinned semantics (assign, pair within cell,
close, keep least-centroid-similar), no Spark and no operator
internals beyond the shared centroid table.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from jirlbot_spark.operators.semdedup import (
    assign_cells,
    semantic_dedup,
    train_centroids,
)
from jirlbot_spark.sources.fixtures import gen_embeddings

N, DIM, K, THR = 120, 16, 4, 0.9


def _quantize(emb) -> tuple[np.ndarray, np.ndarray]:
    ids = emb["vec_id"].to_numpy().astype(np.int64)
    mat = np.floor(
        np.vstack(emb["embedding"].to_numpy()).astype(np.float64) * 1000.0
    ).astype(np.int64)
    return ids, mat


def _reference(ids, mat, cent_int, threshold):
    """Naive union-find reference of the pinned semantics."""
    dots = mat.astype(np.int64) @ cent_int.T
    nb = np.einsum("ij,ij->i", cent_int, cent_int).astype(np.float64)
    scores = dots.astype(np.float64) / np.sqrt(np.maximum(nb, 1.0))
    cells = scores.argmax(axis=1)
    sims = scores[np.arange(len(ids)), cells]
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if cells[a] != cells[b]:
                continue
            d = int(mat[a] @ mat[b])
            na, nbb = int(mat[a] @ mat[a]), int(mat[b] @ mat[b])
            cos = d / np.sqrt(float(na * nbb))
            if cos >= threshold:
                ra, rb = find(int(ids[a])), find(int(ids[b]))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp = {int(i): find(int(i)) for i in ids}
    best = {}
    for j, i in enumerate(ids):
        key = comp[int(i)]
        cand = (sims[j], int(i))
        if key not in best or cand < best[key]:
            best[key] = cand
    keep = {int(i): best[comp[int(i)]][1] == int(i) for i in ids}
    return cells, comp, keep


@pytest.fixture(scope="module")
def corpus(spark):
    emb = gen_embeddings(31, N, dim=DIM)
    ids, mat = _quantize(emb)
    df = spark.createDataFrame(
        [(int(i), [int(x) for x in v]) for i, v in zip(ids, mat)],
        "vec_id long, embedding array<long>",
    )
    return df, ids, mat


def test_matches_independent_reference(spark, corpus):
    df, ids, mat = corpus
    cent = train_centroids(df, K, seed=31)
    cells, comp, keep = _reference(ids, mat, cent, THR)
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, THR, K, cent_int=cent).collect()
    }
    assert len(out) == N
    for j, i in enumerate(ids):
        r = out[int(i)]
        assert r["cell"] == cells[j], (i, r["cell"], cells[j])
        assert r["component"] == comp[int(i)]
        assert r["keep"] == keep[int(i)]


def test_finds_engineered_clones(spark, corpus):
    df, ids, mat = corpus
    out = semantic_dedup(df, THR, K).collect()
    dropped = {r["vec_id"] for r in out if not r["keep"]}
    comp_of = {r["vec_id"]: r["component"] for r in out}
    # every 9th vector is a noisy copy of i-3 (gen_embeddings): expect
    # most of those pairs grouped (same cell — clones nearly always
    # co-assign) and exactly one survivor per group
    grouped = sum(
        1 for i in range(9, N, 9) if comp_of[i] == comp_of[i - 3]
    )
    assert grouped >= (N // 9) - 2, f"only {grouped} clone pairs grouped"
    assert len(dropped) >= grouped
    # exactly one keeper per component
    from collections import Counter

    keepers = Counter(r["component"] for r in out if r["keep"])
    comps = Counter(r["component"] for r in out)
    assert set(keepers) == set(comps) and all(v == 1 for v in keepers.values())


def test_partitioning_invariance(spark, corpus):
    df, _, _ = corpus
    cent = train_centroids(df, K, seed=31)
    a = sorted(
        map(tuple, semantic_dedup(df.repartition(11), THR, K, cent_int=cent).collect())
    )
    b = sorted(
        map(tuple, semantic_dedup(df.coalesce(1), THR, K, cent_int=cent).collect())
    )
    assert a == b


def test_no_cartesian_product(spark, corpus):
    df, _, _ = corpus
    cent = train_centroids(df, K, seed=31)
    plan = (
        semantic_dedup(df, THR, K, cent_int=cent)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


@pytest.mark.parametrize(
    "same",
    [
        7,  # xxhash64(7) mod 100 == 37: empty sample, capped fallback
        30,  # xxhash64(30) mod 100 == 0: every row lands in the sample
    ],
)
def test_collapsed_ids_fallback_sample_is_bounded(spark, same):
    """Ids that all hash alike put either no row or every row in the
    training hash sample. Both collects are capped at 64x the sample
    budget, so past the cap the caller gets a loud error instead of the
    whole corpus on the driver."""
    same_id = spark.range(100).select(
        F.lit(same).cast("long").alias("vec_id"),
        F.array(F.col("id"), F.lit(1)).cast("array<long>").alias("embedding"),
    )
    # budget = 1 x 1 centroid: cap 64 rows
    with pytest.raises(ValueError, match="hash-collapse"):
        train_centroids(same_id, 1, train_rows_per_centroid=1)
