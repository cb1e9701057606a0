"""End-to-end library drive used by /verify: canonicalize dirty URLs ->
murmur3 keys -> DRUM check_update -> atomic commit -> crash-resume in a new
TableStore. Run from ANY cwd (exercises the py-files shipping path).
Prints DRIVE OK on success; raises on any contract violation."""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from jirlbot_spark.functions.hashing import url_hash_col
from jirlbot_spark.functions.urls_arrow import (
    canonicalize_udf,
    host_udf,
    pld_udf,
)
from jirlbot_spark.operators.dedup import RESULT_COL, check_update
from jirlbot_spark.session import get_spark
from jirlbot_spark.sources.storage import TableStore, TableWrite


def main() -> None:
    spark = get_spark(
        app_name="verify-drive", master="local[4]", shuffle_partitions=4
    )
    root = tempfile.mkdtemp(prefix="verify_state_")

    seeds = [
        ("HTTP://Example.COM:80/a/../index.html#top", ""),
        ("http://example.com/index.html", ""),
        ("//example.com/index.html", "https://other.org/"),
        ("rel/page", "http://base.co.uk/dir/x"),
        ("ftp://bad.scheme/x", ""),
    ]
    df = spark.createDataFrame(seeds, ["url", "base"])
    canon = (
        df.withColumn("canonical", canonicalize_udf("url", "base"))
        .filter(F.col("canonical").isNotNull())
        .withColumn("host", host_udf("canonical"))
        .withColumn("pld", pld_udf("host"))
        .withColumn("url_hash", url_hash_col("canonical"))
        .withColumn("arrival", F.monotonically_increasing_id())
    )
    rows = canon.select("canonical", "pld").collect()
    assert len(rows) == 4, rows  # ftp rejected

    store = TableStore(spark, root)
    classified, uniques = check_update(canon, None, order_col="arrival")
    res = [r[RESULT_COL] for r in classified.orderBy("arrival").collect()]
    assert res == [
        "UNIQUE_KEY", "DUPLICATE_KEY", "UNIQUE_KEY", "UNIQUE_KEY",
    ], res
    store.commit_batch(
        0, {"url_seen": TableWrite(uniques, partition_by=("bucket",))}
    )
    assert store.read("url_seen").count() == 3

    store2 = TableStore(spark, root)  # crash-resume
    assert store2.last_batch() == 0
    b1 = (
        spark.createDataFrame(
            [
                ("http://example.com/index.html", ""),
                ("http://new.site.org/", ""),
                ("http://new.site.org/", ""),
            ],
            ["url", "base"],
        )
        .withColumn("canonical", canonicalize_udf("url", "base"))
        .withColumn("url_hash", url_hash_col("canonical"))
        .withColumn("arrival", F.monotonically_increasing_id())
    )
    c1, u1 = check_update(b1, store2.read("url_seen"), order_col="arrival")
    res1 = [r[RESULT_COL] for r in c1.orderBy("arrival").collect()]
    assert res1 == ["DUPLICATE_KEY", "UNIQUE_KEY", "DUPLICATE_KEY"], res1
    store2.commit_batch(
        1, {"url_seen": TableWrite(u1, partition_by=("bucket",))}
    )
    assert store2.read("url_seen").count() == 4
    try:
        store2.commit_batch(1, {"url_seen": TableWrite(u1)})
        raise AssertionError("double-commit not refused")
    except ValueError:
        pass
    spark.stop()
    print("DRIVE OK")


if __name__ == "__main__":
    main()
