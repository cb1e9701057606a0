"""bench.py's timing: a per-key timing forces the plan it names, and the
ranged frontier mode schedules the same URLs as one pass."""

from __future__ import annotations

import pytest

import bench


def test_time_forced_runs_the_pruned_udf(spark):
    from pyspark.sql import functions as F

    def boom(x):
        raise ValueError("forced-udf-ran")

    df = spark.range(4).select(F.udf(boom, "long")("id").alias("x"))
    # count() lets Catalyst prune the projected UDF, so it never runs
    assert df.count() == 4
    with pytest.raises(Exception, match="forced-udf-ran"):
        bench.time_forced(lambda: df)


def test_ranged_frontier_matches_one_pass(spark, tmp_path):
    # build_frontier makes every URL distinct and the pipeline marks
    # every fourth id as seen, so 3n/4 URLs are fresh
    n = 4000
    one, four = (
        bench.run_frontier_pipeline(spark, n, str(tmp_path / f"r{r}"), r)
        for r in (1, 4)
    )
    assert one["n_unique"] == four["n_unique"] == 3 * n // 4
    assert one["n_admitted"] == four["n_admitted"] > 0
    assert one["cpu_s"] > 0 and four["cpu_s"] > 0
