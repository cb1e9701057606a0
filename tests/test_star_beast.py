from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jirlbot_spark.operators.beast import (
    beast_enforce,
    split_admitted,
    topk_per_bucket,
)
from jirlbot_spark.operators.star import (
    distinct_new_edges,
    pld_indegree,
    star_budgets_scalable,
)
from tests.star_reference import star_budgets


def test_star_indegree_and_budget(spark):
    # pld 1 linked from 3 distinct plds (one duplicated edge, one self-link);
    # pld 2 from 1; spam pld 9 self-links massively -> indegree 0
    edges = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 1), (10, 1), (1, 1), (10, 2)]
        + [(9, 9)] * 50,
        ["src_pld", "dst_pld"],
    )
    d = distinct_new_edges(edges, None)
    deg = {r.pld_hash: r.indegree for r in pld_indegree(d).collect()}
    assert deg == {1: 3, 2: 1}

    budgets = star_budgets_scalable(
        pld_indegree(d), top_k=2, b_hi=100, b_lo=10
    ).collect()
    by_pld = {r.pld_hash: (r.rank, r.budget) for r in budgets}
    assert by_pld[1] == (1, 100)
    assert by_pld[2] == (2, 10)


def test_distinct_edges_incremental(spark):
    e1 = spark.createDataFrame([(1, 2), (1, 3)], ["src_pld", "dst_pld"])
    e2 = spark.createDataFrame(
        [(1, 2), (4, 2), (2, 2)], ["src_pld", "dst_pld"]
    )
    first = distinct_new_edges(e1, None)
    second = distinct_new_edges(e2, first)
    got = sorted((r.src_pld, r.dst_pld) for r in second.collect())
    assert got == [(4, 2)]  # (1,2) already present, (2,2) self-link


def _frontier(spark, rows):
    return spark.createDataFrame(
        rows, ["url_hash", "pld_hash", "priority", "enqueue_batch"]
    )


def test_beast_admission_and_deferral(spark):
    rows = [(i, 1, float(i % 3), 0) for i in range(10)] + [
        (100, 2, 0.0, 0)
    ]
    budgets = spark.createDataFrame([(1, 4)], ["pld_hash", "budget"])
    out = beast_enforce(
        _frontier(spark, rows), budgets, default_budget=10, salt_buckets=1
    )
    admitted, deferred = split_admitted(out)
    a = admitted.collect()
    assert sum(1 for r in a if r.pld_hash == 1) == 4
    assert sum(1 for r in a if r.pld_hash == 2) == 1  # default budget
    d = deferred.collect()
    assert all(r.enqueue_batch == 1 for r in d)
    assert len(d) == 6
    # admission picks lowest (priority, url_hash) first
    keys = sorted(r.url_hash for r in a if r.pld_hash == 1)
    assert keys == [0, 3, 6, 9]  # priority 0.0 rows win


def test_salted_equals_unsalted(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, rng.randint(1, 3), float(rng.randint(0, 5)), 0)
        for i in range(200)
    ]
    budgets = spark.createDataFrame(
        [(1, 17), (2, 5), (3, 50)], ["pld_hash", "budget"]
    )
    f = _frontier(spark, rows)
    unsalted = beast_enforce(f, budgets, salt_buckets=1)
    salted = beast_enforce(f, budgets, salt_buckets=8)
    ua = sorted(
        r.url_hash for r in unsalted.filter(F.col("admitted")).collect()
    )
    sa = sorted(
        r.url_hash for r in salted.filter(F.col("admitted")).collect()
    )
    assert ua == sa


def test_budget_monotonicity(spark):
    """Higher indegree -> budget never smaller (property from SURVEY §5)."""
    import random

    rng = random.Random(3)
    deg = spark.createDataFrame(
        [(p, rng.randint(0, 1000)) for p in range(300)],
        ["pld_hash", "indegree"],
    )
    b = star_budgets_scalable(deg, top_k=100, b_hi=1000, b_lo=10).collect()
    by_deg = sorted(b, key=lambda r: (-r.indegree, r.pld_hash))
    budgets = [r.budget for r in by_deg]
    assert budgets == sorted(budgets, reverse=True)


def test_topk_per_bucket(spark):
    rows = [(i, i % 4, float(i), 0) for i in range(100)]
    f = _frontier(spark, rows).withColumn(
        "bucket", F.pmod("url_hash", F.lit(4))
    )
    out = topk_per_bucket(f, 5, "bucket")
    counts = (
        out.groupBy("bucket").count().collect()
    )
    assert all(r["count"] == 5 for r in counts)
    # each bucket keeps its lowest-priority rows
    got = sorted(r.url_hash for r in out.filter(F.col("bucket") == 0).collect())
    assert got == [0, 4, 8, 12, 16]


def test_star_budgets_scalable_equivalence(spark):
    """star_budgets_scalable ≡ the single-window reference star_budgets
    on (pld_hash, budget) for every PLD, and on rank for the top-k (the
    tail's rank is null by contract)."""
    import random

    rng = random.Random(11)
    rows = [(i, rng.randint(1, 500)) for i in range(937)]
    deg = spark.createDataFrame(rows, "pld_hash long, indegree long").repartition(7)
    a = star_budgets(deg, top_k=50, b_hi=2000, b_lo=10)
    b = star_budgets_scalable(deg, top_k=50, b_hi=2000, b_lo=10)
    am = {r.pld_hash: (r.rank, r.budget) for r in a.collect()}
    bm = {r.pld_hash: (r.rank, r.budget) for r in b.collect()}
    assert set(am) == set(bm)
    for pld, (rank_a, budget_a) in am.items():
        rank_b, budget_b = bm[pld]
        assert budget_a == budget_b, pld
        if rank_a <= 50:
            assert rank_b == rank_a, pld
        else:
            assert rank_b is None, pld


def _pagerank_reference(edges, iterations):
    """Independent pure-Python replication of the PINNED fixed-point
    PageRank recurrence (dict/loop formulation — no DataFrames, no shared
    kernel with the operator)."""
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    out = {}
    for s, _ in e:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    rank = {v: 1_000_000 for v in nodes}
    base = (3 * 1_000_000) // 20
    for _ in range(iterations):
        in_sum = {v: 0 for v in nodes}
        for s, d in e:
            in_sum[d] += rank[s] // out[s]
        dangling = sum(rank[v] for v in nodes if v not in out)
        share = dangling // n
        rank = {v: base + (17 * (in_sum[v] + share)) // 20 for v in nodes}
    return rank


def test_pagerank_matches_independent_reference(spark):
    from jirlbot_spark.operators.star import pld_pagerank

    import random

    rng = random.Random(7)
    # random digraph with self-loops, duplicate edges, and guaranteed
    # dangling nodes (targets 90..99 never appear as sources)
    edges = [
        (rng.randint(0, 89), rng.randint(0, 99)) for _ in range(600)
    ] + [(5, 5), (7, 7), (3, 4), (3, 4)]
    df = spark.createDataFrame(edges, "src_pld long, dst_pld long")
    got = {
        r.pld_hash: r.pagerank
        for r in pld_pagerank(df, iterations=3).collect()
    }
    want = _pagerank_reference(edges, 3)
    assert got == want


def test_pagerank_partition_invariance_and_semantics(spark):
    """Bit-identical under repartitioning (the point of the fixed-point
    arithmetic), and rank-weighted: equal in-degree from a high-rank hub
    beats equal in-degree from a leaf."""
    from jirlbot_spark.operators.star import pld_pagerank

    # hub 1 is linked by 50 distinct sources; it links to 100;
    # leaf 2 (no in-links) links to 200. 100 and 200 both have
    # in-degree 1, but 100 inherits the hub's mass.
    edges = (
        [(10 + i, 1) for i in range(50)] + [(1, 100), (2, 200)]
    )
    df = spark.createDataFrame(edges, "src_pld long, dst_pld long")
    a = {r.pld_hash: r.pagerank for r in pld_pagerank(df, 3).collect()}
    b = {
        r.pld_hash: r.pagerank
        for r in pld_pagerank(df.repartition(13), 3).collect()
    }
    assert a == b
    assert a[100] > a[200]
    assert a[1] > a[100]
