"""STAR — Spam Tracking And Avoidance through Reputation (IRLbot paper).

The reference keeps a DRUM of PLD→PLD link facts and, per update epoch,
ranks pay-level-domains by *distinct in-linking PLD count* (spam resistance:
a PLD can't inflate its own reputation with intra-PLD or single-source
links), then assigns crawl budgets: top-k PLDs get budgets linearly
interpolated between B_hi and B_lo by rank, the tail gets B_lo.

Spark shape:
  - the PLD graph is an append-only DISTINCT edge table; per-batch edge
    dedup reuses the DRUM check_update pattern on hash(src_pld, dst_pld),
    so indegree stays an exact count over distinct pairs at any scale
  - indegree = groupBy(dst_pld).count() over the distinct-edge table
    (map-side partial agg for free); approx_count_distinct variant for the
    10^10 tier where the edge table itself is not materialized
  - ranking runs only over the indegree table (one row per PLD — orders
    of magnitude smaller than the frontier), with per-partition top-k
    pruning before the one global window; result broadcast
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jirlbot_spark.session import materialize

B_HI = 10_000
B_LO = 10
TOP_K = 10_000


def distinct_new_edges(
    new_edges: DataFrame,
    existing: DataFrame | None,
    src: str = "src_pld",
    dst: str = "dst_pld",
) -> DataFrame:
    """Edges not yet in the PLD graph (in-batch dedup + anti-join)."""
    e = new_edges.select(src, dst).filter(F.col(src) != F.col(dst)).distinct()
    if existing is not None:
        e = e.join(existing.select(src, dst), [src, dst], "left_anti")
    return e


def pld_indegree(
    edges: DataFrame,
    src: str = "src_pld",
    dst: str = "dst_pld",
    approx: bool = False,
) -> DataFrame:
    """Distinct in-linking PLD count per target PLD.

    `edges` is the distinct-pair table, so exact mode is a plain count —
    no count_distinct shuffle of raw links. `approx=True` computes HLL
    over a non-deduped edge stream instead (scale path when the distinct
    edge table is skipped)."""
    if approx:
        agg = F.approx_count_distinct(src).alias("indegree")
    else:
        agg = F.count(src).alias("indegree")
    return edges.groupBy(F.col(dst).alias("pld_hash")).agg(agg)


PAGERANK_SCALE = 1_000_000  # fixed-point unit: rank 1.0 == 1e6
PAGERANK_DAMP_NUM = 17  # damping 0.85 held EXACTLY as the rational 17/20
PAGERANK_DAMP_DEN = 20


def pld_pagerank(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src_pld",
    dst: str = "dst_pld",
) -> DataFrame:
    """PageRank over the PLD link graph in EXACT fixed-point arithmetic.

    STAR ranks PLDs by distinct in-degree (spam resistance via source
    diversity); PageRank is the natural next reputation axis — in-degree
    weighted by the rank of WHO links — discussed as the
    budget-function alternative in the IRLbot paper's STAR analysis
    [PAPER:STAR]. No reference counterpart exists (the reference tree is
    empty; JIRLbot implements the in-degree variant per the paper), so
    semantics are pinned here, exactly:

      rank_0(v)  = SCALE                            (unnormalized: total
                                                     mass ~= n * SCALE)
      contrib(e) = rank_i(src) DIV outdeg(src)      (integer floor)
      D_i        = sum of rank_i over dangling nodes (no out-edges)
      rank_{i+1}(v) = (3*SCALE) DIV 20
                    + (17 * (in_sum(v) + D_i DIV n)) DIV 20

    i.e. damping 0.85 as the exact rational 17/20 and EVERY operation in
    int64 — so the result is bit-reproducible regardless of partitioning,
    aggregation order, or platform (float sums are order-dependent; a
    reputation table that differs run-to-run is not checkpointable), and
    an independent SQL engine can recompute it exactly (driver key
    `pld_pagerank`'s DuckDB oracle unrolls these recurrences in pure SQL
    — no golden, no shared kernel). Overflow headroom: 17 * (n * SCALE)
    < 2^63 for n < 5.4e11 PLDs.

    Scale shape (the 10^10-frontier question): the edge table shuffles
    once per iteration joined against two per-PLD sides (ranks, outdeg)
    — AQE handles the hot-PLD skew the same way the budget join does;
    in_sum is a map-side-combinable groupBy; the dangling mass is a
    1-row agg CROSS-JOINED back (broadcast), never a driver round-trip;
    the edge, node and out-degree tables and each iteration's ranks go
    through `session.materialize`, so the plan stays one iteration deep
    (executor-local by default; with Spark's checkpoint directory set,
    durable parquet that survives executor loss). The only driver
    action is the single upfront node count(). Output: (pld_hash,
    pagerank) — one row per PLD, budget-table-sized, broadcastable
    downstream exactly like star_budgets_scalable output.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    e = materialize(e, "pagerank-edges")
    nodes = materialize(
        e.select(F.col("src").alias("pld"))
        .unionByName(e.select(F.col("dst").alias("pld")))
        .distinct(),
        "pagerank-nodes",
    )
    outdeg = materialize(
        e.groupBy("src").agg(F.count("*").alias("outdeg")), "pagerank-outdeg"
    )
    n = nodes.count()
    base = (3 * PAGERANK_SCALE) // PAGERANK_DAMP_DEN
    ranks = nodes.select(
        "pld", F.lit(PAGERANK_SCALE).cast("long").alias("rank")
    )
    for _ in range(iterations):
        contrib = (
            e.join(ranks, e["src"] == ranks["pld"])
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("pld"),
                F.expr("rank DIV outdeg").alias("c"),
            )
        )
        in_sum = contrib.groupBy("pld").agg(F.sum("c").alias("in_sum"))
        dangling = (
            ranks.join(outdeg, ranks["pld"] == outdeg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("d"))
        )
        ranks = materialize(
            nodes.join(in_sum, "pld", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "pld",
                F.expr(
                    f"CAST({base} AS BIGINT) + ({PAGERANK_DAMP_NUM} * "
                    f"(coalesce(in_sum, CAST(0 AS BIGINT))"
                    f" + d DIV {n})) DIV {PAGERANK_DAMP_DEN}"
                ).alias("rank"),
            ),
            "pagerank-ranks",
        )
    return ranks.select(
        F.col("pld").alias("pld_hash"), F.col("rank").alias("pagerank")
    )


def star_budgets_scalable(
    indegree: DataFrame,
    top_k: int = TOP_K,
    b_hi: int = B_HI,
    b_lo: int = B_LO,
) -> DataFrame:
    """Rank PLDs by indegree (desc, pld_hash asc tiebreak) and assign
    budgets: rank 1 -> b_hi, rank top_k -> b_lo, linear in between,
    tail -> b_lo. Output is one row per PLD — broadcast-sized by
    construction (frontier PLD cardinality, not URL cardinality).

    No all-PLD global window: ranking EVERY PLD through one
    single-partition window is fine at testdata scale, a straggler at
    10^8 PLDs. Only the top_k rows need exact ranks (every other PLD gets
    b_lo regardless), so per-partition top-k pruning runs first (parallel
    windows over spark_partition_id), then only the ≤ k·partitions
    survivors are ranked globally; the tail gets budget = b_lo, rank null.

    Budgets equal the single-window formulation's for every PLD
    (property-tested against the reference in tests/star_reference.py);
    only the tail's rank column differs (null here, dense global rank
    there) — the crawl loop consumes (pld_hash, budget) only.

    Plan shape (r5): the top_k rows OVERLAY the full indegree via ONE
    broadcast left join (top is ≤ top_k rows by construction), so
    indegree is scanned exactly twice (candidate pruning + output). The
    earlier union-plus-anti-join formulation scanned it three times —
    the anti branch re-derived the whole candidate pipeline — measured
    as +2 s per call in the 8M-URL bench schedule phase.
    """
    ordering = [F.desc("indegree"), F.asc("pld_hash")]
    part_w = Window.partitionBy(F.spark_partition_id()).orderBy(*ordering)
    candidates = (
        indegree.withColumn("__prn", F.row_number().over(part_w))
        .filter(F.col("__prn") <= top_k)
        .drop("__prn")
    )
    span = max(top_k - 1, 1)
    top = (
        candidates.withColumn(
            "rank", F.row_number().over(Window.orderBy(*ordering))
        )
        .filter(F.col("rank") <= top_k)
        .select(
            "pld_hash",
            "rank",
            (
                F.lit(float(b_hi))
                - (F.col("rank") - 1)
                * F.lit(float(b_hi - b_lo))
                / F.lit(float(span))
            ).cast("long").alias("__btop"),
        )
    )
    # the overlay is ≤ top_k rows — broadcast it at any sane top_k, but
    # let the planner pick the join for a caller demanding millions of
    # exactly-ranked PLDs (a forced broadcast would hit the driver /
    # 8 GB broadcast limits where the old anti-join merely shuffled)
    if top_k <= 1_000_000:
        top = F.broadcast(top)
    return indegree.join(top, "pld_hash", "left").select(
        "pld_hash",
        "indegree",
        "rank",
        F.coalesce("__btop", F.lit(int(b_lo)).cast("long")).alias("budget"),
    )
