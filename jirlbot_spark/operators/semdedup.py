"""SemDeDup — semantic (embedding-space) deduplication.

The cluster-then-pair recipe of Abbas et al. 2023 ("SemDeDup: Data-
efficient learning at web-scale through semantic deduplication"): k-means
cluster the embedding space, compare pairs ONLY within a cluster, call a
pair semantic duplicates above a cosine threshold, and keep exactly one
representative per duplicate group. Within-cluster-only comparison is
the published approximation that turns O(n²) into Σ O(|cluster|²); the
representative kept is the member LEAST similar to its cluster centroid
(the paper's choice — it preserves the most "atypical" copy).

This engine's composition (every stage an already-proven component):

1.  **Train** — `_kmeans_numpy` over the bounded deterministic hash
    sample (the ivf_topk pattern: ~train_rows_per_centroid × n_clusters
    rows on the driver REGARDLESS of corpus size), centroids re-quantized
    to int64 (`_quantize_centroids`) so every downstream score is exact.
2.  **Assign** — one mapInPandas pass: cell = argmax over centroids of
    dot(v,c)/sqrt(max(|c|²,1)) via `_cell_scores` — for integer-quantized
    corpora every intermediate is exact (int64 dot < 2^53, IEEE sqrt +
    divide are correctly rounded), so assignment is bit-reproducible
    under any Arrow batching AND recomputable by an ANSI-SQL twin.
    Ties break to the lowest centroid index (numpy argmax = first max).
    cent_sim (the kept score) rides along for the keep rule.
3.  **Pair** — within-cell blocked self-join (the blocked_neardup_exact
    shape, keyed by (cell, block-pair)): n·B shuffle rows, no
    CartesianProduct, one `_cosine_matrix` matmul per task, pairs kept
    at cosine >= threshold.
4.  **Group** — `connected_components` (alternating star contraction)
    turns pairs into duplicate groups with the min-id canonical label.
5.  **Keep** — per component, min (cent_sim, vec_id) wins: the
    least-centroid-similar member, id tiebreak — deterministic.

Scale posture at 10^10 rows: driver holds O(sample + centroids); the
assignment is map-side; the pair stage shuffles each row B times within
its cell only; CC is O(log) rounds of narrow joins; the keep rule is
one map-side-combinable agg. Cross-CLUSTER duplicates are missed by
design (the published trade) — recall against the exact all-pairs
operator is pytest-gated, and the driver oracle mirrors the same
centroids so the contract is exact.

No reference counterpart (JIRLbot crawls; it does not curate); pinned
to the published recipe. Driver key `dedup_semantic`: the goldens
generator pins ONLY the corpus + centroid tables as VALUES; the DuckDB
oracle recomputes assignment (argmax), pairing (exact int cosine),
grouping (recursive CTE closure), and the keep rule ITSELF — algebraic
independence everywhere except the shared centroid data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from jirlbot_spark.operators.graph import connected_components
from jirlbot_spark.operators.similarity import (
    _cell_scores,
    _cosine_matrix,
    _kmeans_numpy,
    _quantize_centroids,
)
from jirlbot_spark.session import materialize

__all__ = ["train_centroids", "assign_cells", "semantic_dedup"]


def train_centroids(
    vectors: DataFrame,
    n_clusters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows_per_centroid: int = 256,
    seed: int = 31,
) -> np.ndarray:
    """Bounded-sample k-means -> int64-quantized centroids (the ivf_topk
    training contract, factored out so SemDeDup and its oracle generator
    share one definition). Driver memory is O(sample), never O(corpus)."""
    budget = max(train_rows_per_centroid * n_clusters, n_clusters)
    n = vectors.count()
    if n == 0:
        raise ValueError("semantic_dedup: empty corpus")
    mod = max(1, n // budget)
    # distinct ids sample ~n/mod <= 2x budget rows; a sample past 64x
    # budget means the ids hash-collapse, and collecting it would pull
    # the whole corpus to the driver
    sample_cap = 64 * budget
    collapsed = f"the {id_col!r} values hash-collapse (duplicate ids?)"
    sampled = vectors.filter(
        F.pmod(F.xxhash64(F.col(id_col)), mod) == 0
    ).select(F.col(vec_col))
    # count the capped sample, then collect the unlimited frame: limit's
    # single-partition shuffle may reorder rows, and k-means init
    # depends on row order
    if sampled.limit(sample_cap + 1).count() > sample_cap:
        raise ValueError(
            "semantic_dedup: the hash sample holds more than "
            f"{sample_cap} rows: {collapsed}"
        )
    sample = sampled.toPandas()
    if len(sample) == 0:
        # degenerate hash sample: on a genuinely tiny corpus the capped
        # fallback returns every row; past the cap the ids hash-collapse
        sample = (
            vectors.select(F.col(vec_col)).limit(sample_cap + 1).toPandas()
        )
        if len(sample) > sample_cap:
            raise ValueError(
                "semantic_dedup: the hash sample came back empty yet the "
                f"corpus holds more than {sample_cap} rows: {collapsed}"
            )
    mat = np.vstack(sample[vec_col].to_numpy()).astype(np.float64)
    return _quantize_centroids(_kmeans_numpy(mat, n_clusters, seed))


def assign_cells(
    vectors: DataFrame,
    cent_int: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cell, cent_sim): nearest centroid by the exact-int
    score, first-max (lowest index) tie-break."""
    fields = [f for f in vectors.schema.fields if f.name in (id_col, vec_col)]
    schema = StructType(
        fields
        + [
            StructField("cell", IntegerType()),
            StructField("cent_sim", DoubleType()),
        ]
    )
    cent = cent_int.copy()

    def assign(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy())
            scores = _cell_scores(mat, cent)
            cells = np.argmax(scores, axis=1)
            out = pdf[[f.name for f in fields]].copy()
            out["cell"] = cells.astype(np.int32)
            out["cent_sim"] = scores[np.arange(len(cells)), cells]
            yield out

    return vectors.select(*[f.name for f in fields]).mapInPandas(
        assign, schema=schema
    )


def _within_cell_pairs(
    assigned: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    n_blocks: int,
) -> DataFrame:
    """Exact cosine pairs (id_a < id_b, cosine >= threshold) restricted
    to same-cell rows — the blocked_neardup_exact plan keyed by
    (cell, block-pair) so a big cluster still fans out over B(B+1)/2
    tasks instead of one."""
    B = int(n_blocks)
    v = assigned.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__v"),
        "cell",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).alias("__blk"),
    )
    partner_groups = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda o: F.least(F.col("__blk"), o) * B
        + F.greatest(F.col("__blk"), o),
    )
    rep = v.withColumn("__grp", F.explode(partner_groups))
    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = int(pdf["__grp"].iloc[0])
        ga, gb = divmod(grp, B)
        ids = pdf["__id"].to_numpy()
        blks = pdf["__blk"].to_numpy()
        mat = np.vstack(pdf["__v"].to_numpy())
        empty = pd.DataFrame(
            {
                "id_a": np.array([], np.int64),
                "id_b": np.array([], np.int64),
                "cosine": np.array([], np.float64),
            }
        )
        if ga == gb:
            sims = _cosine_matrix(mat, mat)
            mask = np.triu(sims >= threshold, k=1)
            ia, ib = np.nonzero(mask)
            id_a, id_b = ids[ia], ids[ib]
        else:
            a_sel = blks == ga
            b_sel = blks == gb
            if not a_sel.any() or not b_sel.any():
                return empty
            sims = _cosine_matrix(mat[a_sel], mat[b_sel])
            ia, ib = np.nonzero(sims >= threshold)
            id_a = ids[a_sel][ia]
            id_b = ids[b_sel][ib]
        cos = sims[ia, ib]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos})

    return rep.groupBy("cell", "__grp").applyInPandas(score, schema=out_schema)


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 4,
    train_rows_per_centroid: int = 256,
    seed: int = 31,
    cent_int: np.ndarray | None = None,
) -> DataFrame:
    """(vec_id, cell, cent_sim, component, keep). Pass `cent_int` to
    reuse pre-trained quantized centroids (the oracle generator does,
    so query and oracle share one centroid table)."""
    if cent_int is None:
        cent_int = train_centroids(
            vectors, n_clusters, id_col, vec_col, train_rows_per_centroid, seed
        )
    assigned = materialize(
        assign_cells(vectors, cent_int, id_col, vec_col), "semdedup-cells"
    )
    pairs = _within_cell_pairs(assigned, threshold, id_col, vec_col, n_blocks)
    comp = connected_components(pairs)
    rows = assigned.join(
        comp, assigned[id_col] == comp["id"], "left"
    ).select(
        F.col(id_col).cast("long").alias("vec_id"),
        "cell",
        "cent_sim",
        F.coalesce("component", F.col(id_col).cast("long")).alias("component"),
    )
    best = rows.groupBy("component").agg(
        F.min(F.struct("cent_sim", "vec_id")).alias("__best")
    )
    return rows.join(best, "component").select(
        "vec_id",
        "cell",
        "cent_sim",
        "component",
        (
            (F.col("cent_sim") == F.col("__best.cent_sim"))
            & (F.col("vec_id") == F.col("__best.vec_id"))
        ).alias("keep"),
    )
