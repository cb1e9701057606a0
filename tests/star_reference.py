"""Single-window STAR budget assignment — the test reference for
jirlbot_spark.operators.star.star_budgets_scalable.

Ranks EVERY PLD through one single-partition window, which is the
definition the shipped operator's per-partition pruning must reproduce
(budgets equal for every PLD, ranks equal for the top_k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jirlbot_spark.operators.star import B_HI, B_LO, TOP_K


def star_budgets(
    indegree: DataFrame,
    top_k: int = TOP_K,
    b_hi: int = B_HI,
    b_lo: int = B_LO,
) -> DataFrame:
    """Rank PLDs by indegree (desc, pld_hash asc tiebreak) and assign
    budgets: rank 1 -> b_hi, rank top_k -> b_lo, linear in between,
    tail -> b_lo. Output is one row per PLD — broadcast-sized by
    construction (frontier PLD cardinality, not URL cardinality).
    """
    w = Window.orderBy(F.desc("indegree"), F.asc("pld_hash"))
    span = max(top_k - 1, 1)
    return indegree.withColumn("rank", F.row_number().over(w)).withColumn(
        "budget",
        F.when(
            F.col("rank") <= top_k,
            (
                F.lit(float(b_hi))
                - (F.col("rank") - 1)
                * F.lit(float(b_hi - b_lo))
                / F.lit(float(span))
            ).cast("long"),
        ).otherwise(F.lit(int(b_lo)).cast("long")),
    )
