"""Distributed connected components — duplicate PAIRS → duplicate GROUPS.

Every near-dup operator in this engine (minhash/simhash/ngram/phash/
embedding) emits candidate-verified PAIRS (id_a, id_b). A training-data
dedup pipeline needs GROUPS: the transitive closure of those pairs, one
canonical representative per group, everything else dropped. Pairs chain
(A~B, B~C with A!~C is routine for banded LSH output), so the closure is
a genuine connected-components computation, not a groupBy.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC 2014). Each round is pure DataFrame ops:

  large-star: for each node u, hang every LARGER neighbor off
      m(u) = min(N(u) ∪ {u});
  small-star: orient edges large→small, hang every smaller-or-self
      node off m(u) = min of u's smaller neighborhood.

Both preserve connectivity and strictly shrink edge "potential"; the
composition converges in O(log² n) rounds (O(log n) observed) to a
fixpoint where every component is a star rooted at its MINIMUM id —
so the output label is deterministic: component = min id in component.

Scale posture (the 100 TB question):
  - per round: one groupBy(u).min (map-side combinable), one shuffle
    join on u, one distinct — all narrow (two id columns);
  - a giant duplicate group makes its min a hot join key; that is the
    hot-PLD shape again and AQE's skew-join split handles it (session
    default), while the groupBy side is pre-aggregated map-side;
  - round count is data-dependent but logarithmic; each round ends in
    `session.materialize` so the plan never grows with iterations and
    a straggler round retries from materialized state, not lineage
    (executor-local by default, so a lost executor fails the job; set
    Spark's checkpoint directory to keep rounds on durable storage);
  - convergence is checked EXACTLY after every round, not by a hash
    proxy — a dedup drop-list must not ship on a probabilistic
    "probably converged". The loop stops at the first STAR FOREST: no
    node is both a `u` and a `v`, and every `u` has exactly one `v`
    (one groupBy(node) role count, then `isEmpty`). Small-star output
    always has v < u and both steps preserve components, so a star
    forest is rooted at each component's min and is already a fixpoint
    of the next round: the labels are read off its edges as they are,
    with no confirming round. Dedup graphs (disjoint pairs, cliques)
    stop after 1-3 rounds.

No reference counterpart: RovoMe/JIRLbot dedups exact URL keys (DRUM);
transitive grouping serves the graft's training-data-pipeline set
(SURVEY.md §2.3), downstream of the pair-emitting dedup operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jirlbot_spark.session import materialize


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: emit (v, m(u)) for every neighbor v > u,
    where m(u) = min(N(u) ∪ {u}). Input/output: distinct (u, v) pairs
    interpreted as undirected edges.

    Symmetrization is ONE explode pass, not a self-union: half the
    scans, and — load-bearing — no Union over a re-aliased checkpointed
    relation. Spark 4.1's Union constraint rewrite
    (UnionBase.rewriteConstraints) throws `NoSuchElementException: key
    not found: u#N` when a union child is a newInstance'd LogicalRDD
    from a local checkpoint under some input lineages (observed: edges
    built from range ∪ LocalRelation pairs; regression-tested in
    test_graph.py::test_update_components_live_lineage_inputs)."""
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge large→small, then for each
    node u hang u and all its smaller neighbors off m(u) = min of the
    smaller neighborhood (m(u) < u always, so no self-loops)."""
    d = (
        edges.where(F.col("u") != F.col("v"))
        .select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        .distinct()
    )
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    # hang-neighbor and hang-self rows come out of ONE explode over the
    # joined frame instead of a two-frame union (see _large_star on why
    # unions are avoided in this loop): hang-self (u, m) repeats per
    # edge of u, but the trailing distinct dedups it; m < u always (d is
    # strictly oriented), so the n != m filter only drops the v == m
    # neighbor rows the old formulation dropped.
    return (
        d.join(mins, "u")
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("n"), F.col("m")),
                    F.struct(F.col("u").alias("n"), F.col("m")),
                )
            ).alias("e")
        )
        .where(F.col("e.n") != F.col("e.m"))
        .select(F.col("e.n").alias("u"), F.col("e.m").alias("v"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff no node of `edges` is both a `u` and a `v`, and every `u`
    has exactly one `v` (edges are distinct). One aggregate: a node that
    is a `u` must appear in exactly one edge."""
    roles = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("node"), F.lit(1).alias("is_u")),
                F.struct(F.col("v").alias("node"), F.lit(0).alias("is_u")),
            )
        ).alias("r")
    ).select("r.*")
    return (
        roles.groupBy("node")
        .agg(F.sum("is_u").alias("n_u"), F.count("*").alias("n"))
        .where((F.col("n_u") > 0) & (F.col("n") > 1))
        .isEmpty()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of the undirected graph given by `pairs`.

    Returns (id, component) for EVERY id appearing in `pairs`, where
    component = the minimum id in that id's component (deterministic
    canonical label). Null endpoints and self-loops are dropped. Ids
    must be an orderable type (long, string, ...).

    Each round ends in `session.materialize`, and every frame the result
    reads (the node set and the labels) comes from materialized edges, so
    `pairs`' lineage runs exactly once. After each round the edges are
    checked for a star forest (module docstring); the first one ends the
    loop, and its edges (u, v) are the labels (id, component) of every
    non-root id, while roots label themselves.

    Raises RuntimeError if no star forest is reached within
    `max_iterations` alternating rounds — at the proven O(log² n)
    convergence that bound allows graphs far beyond any physical table.

    Pass a dict as `stats` to receive {"rounds": n} — dedup-pair graphs
    (small dense groups) converge in 1-3 rounds; a chain-shaped graph
    of diameter d takes ~log2(d) (SCALE.md's round-3 addendum measured
    22 rounds for a 10^6-node path with a check that compared two
    consecutive rounds; the star-forest check stops one round sooner).
    """
    # cut lineage before iterating; eager so each round's cost is its own
    edges = materialize(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .distinct(),
        "cc-edges",
    )
    nodes = edges.select(F.explode(F.array("u", "v")).alias("id")).distinct()
    for rounds in range(1, max_iterations + 1):
        edges = materialize(_small_star(_large_star(edges)), "cc-round")
        if _is_star_forest(edges):
            if stats is not None:
                stats["rounds"] = rounds
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds — pathological input or a broken star step"
        )
    labels = edges.select("u", F.col("v").alias("component"))
    return nodes.join(
        labels, nodes["id"] == labels["u"], "left"
    ).select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("component")
    )


def update_components(
    prior: DataFrame,
    new_pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Incrementally fold a batch of NEW duplicate pairs into an
    existing (id, component) labeling — the per-microbatch shape of
    dedup in a continuously-growing corpus (recomputing the closure
    from scratch every batch would rescan every historical pair).

    A prior labeling IS a star edge set ((id, component) with id !=
    component), already fully contracted — so the union of those stars
    with the new pairs is a graph whose closure equals the closure of
    (all historical pairs ∪ new pairs), and contraction restarts from
    almost-converged state: batches that touch few existing groups
    converge in 1-2 rounds regardless of corpus size. Returns the new
    (id, component) labeling covering every id in `prior` or
    `new_pairs`; labels stay the component MIN, so they are stable
    unless a merge genuinely introduces a smaller member."""
    # No defensive materialization needed here: the Spark 4.1
    # Union-constraint-rewrite failure this path used to hit
    # (`NoSuchElementException: key not found: u#N` at the loop's first
    # materialization) was structural in the star steps' self-unions and
    # is fixed there (see _large_star); live caller lineage — including
    # feeding connected_components output straight back in — is
    # regression-tested in test_graph.py.
    prior_edges = prior.where(
        F.col("id") != F.col("component")
    ).select(F.col("id").alias(src), F.col("component").alias(dst))
    new_cast = new_pairs.select(
        F.col(src).cast(prior.schema["id"].dataType),
        F.col(dst).cast(prior.schema["id"].dataType),
    )
    merged = connected_components(
        new_cast.unionByName(prior_edges),
        src=src,
        dst=dst,
        max_iterations=max_iterations,
        stats=stats,
    )
    # singletons from the prior labeling (id == component, no edge)
    # and brand-new isolated ids keep labeling themselves
    singles = (
        prior.select("id")
        .join(merged.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    return merged.unionByName(singles)


def duplicate_groups(
    items: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Canonicalize duplicate pairs into a keep/drop decision per item.

    Returns `items`' id column plus (component, keep): component is the
    transitive duplicate-group label (min id; items in no pair label
    themselves), keep is true exactly for the canonical representative.
    The drop-list a 100 TB dedup pass actually applies is
    `where(~keep)` — an anti-join key set, never a wide row shuffle."""
    comp = connected_components(pairs, src=src, dst=dst)
    ids = items.select(F.col(id_col))
    return (
        ids.join(comp, ids[id_col] == comp["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
            (
                F.col("component").isNull()
                | (F.col("component") == F.col(id_col))
            ).alias("keep"),
        )
    )
