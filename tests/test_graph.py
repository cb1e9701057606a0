"""Connected components / duplicate groups (operators/graph.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from jirlbot_spark.operators.graph import (
    _large_star,
    _small_star,
    connected_components,
    duplicate_groups,
)


def _dsu_components(n_nodes: list[int], edges: list[tuple[int, int]]):
    """Independent oracle: classic union-find, nothing shared with the
    star-contraction implementation."""
    parent = {v: v for v in n_nodes}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups: dict[int, list[int]] = {}
    for v in parent:
        groups.setdefault(find(v), []).append(v)
    return {v: min(g) for g in groups.values() for v in g}


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["id_a", "id_b"]).astype("int64")
    )
    out = connected_components(df, **kw).collect()
    return {r.id: r.component for r in out}


def test_cc_chain_cliques_rings(spark):
    # chain 1-2-3-4, clique {10,11,12}, ring {20,21,22,23}, pair {30,31}
    edges = (
        [(1, 2), (2, 3), (3, 4)]
        + [(10, 11), (10, 12), (11, 12)]
        + [(20, 21), (21, 22), (22, 23), (23, 20)]
        + [(31, 30)]
    )
    got = _cc(spark, edges)
    exp = _dsu_components([], edges)
    assert got == exp
    assert got[4] == 1 and got[12] == 10 and got[23] == 20 and got[31] == 30


def test_cc_self_loops_dups_nulls_dropped(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 2), (3, None)],
        schema="id_a long, id_b long",
    )
    got = {r.id: r.component for r in connected_components(df).collect()}
    # node 3's only edge has a null endpoint -> the edge is dropped AND
    # 3 never appears (it is not an endpoint of any surviving edge)
    assert got == {1: 1, 2: 1}


def test_cc_random_fuzz_vs_union_find(spark):
    rng = np.random.default_rng(7)
    for trial in range(4):
        n = int(rng.integers(20, 120))
        m = int(rng.integers(10, 200))
        edges = [
            (int(rng.integers(0, n)), int(rng.integers(0, n)))
            for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        assert _cc(spark, edges) == _dsu_components([], edges), trial


def test_cc_long_path_converges_logarithmically(spark):
    # a 64-node path is the adversarial case for naive label propagation
    # (diameter 63); star contraction must finish far under the guard
    edges = [(i, i + 1) for i in range(63)]
    got = _cc(spark, edges, max_iterations=12)
    assert set(got.values()) == {0} and len(got) == 64


def test_star_steps_preserve_components(spark):
    # one large+small round on a random graph must not merge or split
    # components (connectivity preservation, checked via the DSU oracle)
    rng = np.random.default_rng(3)
    edges = [
        (int(rng.integers(0, 40)), int(rng.integers(0, 40)))
        for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["u", "v"]).astype("int64")
    ).distinct()
    stepped = _small_star(_large_star(df)).collect()
    exp = _dsu_components([], edges)
    got = _dsu_components([], [(r.u, r.v) for r in stepped])
    # every node keeps its component label set (mins can only be
    # preserved: both steps only ever connect nodes within a component)
    for node, comp in got.items():
        assert exp[node] == comp


def test_duplicate_groups_keep_flags(spark):
    items = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(8))}).astype("int64")
    )
    pairs = spark.createDataFrame(
        pd.DataFrame([(1, 2), (2, 5), (6, 7)], columns=["id_a", "id_b"])
        .astype("int64")
    )
    out = {
        r.doc_id: (r.component, r.keep)
        for r in duplicate_groups(items, pairs, "doc_id").collect()
    }
    assert out == {
        0: (0, True),
        1: (1, True),
        2: (1, False),
        3: (3, True),
        4: (4, True),
        5: (1, False),
        6: (6, True),
        7: (6, False),
    }


def test_cc_string_ids(spark):
    pairs = spark.createDataFrame(
        pd.DataFrame(
            [("img_b", "img_a"), ("img_c", "img_b"), ("zz", "yy")],
            columns=["id_a", "id_b"],
        )
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {
        "img_a": "img_a",
        "img_b": "img_a",
        "img_c": "img_a",
        "yy": "yy",
        "zz": "yy",
    }


def test_cc_iteration_guard(spark):
    # one round leaves a 64-node path far from a star forest, so the
    # guard must fire rather than ship an unverified drop-list
    df = spark.createDataFrame(
        pd.DataFrame(
            [(i, i + 1) for i in range(63)], columns=["id_a", "id_b"]
        ).astype("int64")
    )
    with pytest.raises(RuntimeError):
        connected_components(df, max_iterations=1)


def test_cc_dedup_shaped_graph_one_round(spark):
    # disjoint pairs (either orientation) and cliques: the first round
    # already yields min-rooted stars, and the check stops there
    edges = [
        (a, a + 1) if i % 2 else (a + 1, a)
        for i, a in enumerate(range(100, 120, 2))
    ]
    edges += [(b, a) for i in range(5) for a in range(10 * i, 10 * i + 4)
              for b in range(a + 1, 10 * i + 4)]
    stats: dict = {}
    got = _cc(spark, edges, stats=stats)
    assert got == _dsu_components([], edges)
    assert stats["rounds"] == 1


def test_cc_reads_only_materialized_edges(spark, tmp_path):
    # the result is built from materialized edges alone: nothing in its
    # plan scans the input, so the input's lineage runs exactly once
    path = str(tmp_path / "pairs")
    pd.DataFrame(
        [(1, 2), (2, 3), (7, 8)], columns=["id_a", "id_b"]
    ).astype("int64").to_parquet(path)
    pairs = spark.read.parquet(path)
    assert "parquet" in pairs._jdf.queryExecution().optimizedPlan().toString()
    out = connected_components(pairs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "parquet" not in plan, plan
    got = {r.id: r.component for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_update_components_equals_batch_recompute(spark):
    from jirlbot_spark.operators.graph import update_components

    def df_pairs(pairs):
        return spark.createDataFrame(
            pd.DataFrame(pairs, columns=["id_a", "id_b"]).astype("int64")
        )

    rng = np.random.default_rng(11)
    hist, labeling = [], None
    for batch in range(3):
        new = [
            (int(rng.integers(0, 60)), int(rng.integers(0, 60)))
            for _ in range(25)
        ]
        new = [(a, b) for a, b in new if a != b]
        hist += new
        if labeling is None:
            labeling = connected_components(df_pairs(new))
        else:
            labeling = update_components(labeling, df_pairs(new))
        got = {r.id: r.component for r in labeling.collect()}
        exp = _dsu_components([], hist)
        assert got == exp, f"batch {batch}"
        labeling = spark.createDataFrame(
            pd.DataFrame(
                sorted(got.items()), columns=["id", "component"]
            ).astype("int64")
        )


def test_update_components_preserves_singletons(spark):
    from jirlbot_spark.operators.graph import update_components

    prior = spark.createDataFrame(
        pd.DataFrame(
            [(1, 1), (2, 1), (7, 7)], columns=["id", "component"]
        ).astype("int64")
    )
    new = spark.createDataFrame(
        pd.DataFrame([(3, 2)], columns=["id_a", "id_b"]).astype("int64")
    )
    got = {r.id: r.component for r in update_components(prior, new).collect()}
    # 3 joins {1,2}; singleton 7 survives untouched
    assert got == {1: 1, 2: 1, 3: 1, 7: 7}


def test_update_components_live_lineage_inputs(spark):
    """Regression: update_components fed LIVE connected_components
    output as `prior` and a `range ∪ LocalRelation` frame as the new
    batch used to fail plan optimization inside the contraction loop
    (NoSuchElementException: key not found u#N) before the operator
    materialized the cast batch. Also asserts the incremental result
    equals the batch recompute over the union of raw pairs."""
    from pyspark.sql import functions as F

    from jirlbot_spark.operators.graph import (
        connected_components,
        update_components,
    )

    h = (
        spark.range(0, 100)
        .filter(F.col("id") % 10 < 3)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    n = (
        spark.range(0, 50)
        .filter(F.col("id") % 25 == 0)
        .select(F.col("id").alias("id_a"), (F.col("id") + 50).alias("id_b"))
        .unionByName(
            spark.createDataFrame([(200, 201)], "id_a long, id_b long")
        )
    )
    prior = connected_components(h)  # live lineage, no checkpoint
    got = {
        r.id: r.component for r in update_components(prior, n).collect()
    }
    want = {
        r.id: r.component
        for r in connected_components(h.unionByName(n)).collect()
    }
    assert got == want
