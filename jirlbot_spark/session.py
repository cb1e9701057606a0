"""SparkSession construction tuned for the crawl-analytics engine.

Scale posture (100 TB / 1000-executor design, local[k] test):
  - AQE on (runtime coalescing, skew-join splitting) — hot-PLD skew is a
    first-class concern per the north rule.
  - runtime bloom-filter join on — helps the url_seen anti-join probe.
  - Arrow enabled for the vectorized pandas-UDF surface (the ONLY Python
    execution path; per-row Python UDFs are banned in this codebase).
  - ANSI off: classic cast/overflow semantics so engine SQL matches the
    DuckDB oracle's arithmetic (truncating casts handled explicitly).

Every lineage cut in the package goes through `materialize`, whose mode
follows Spark's own checkpoint directory (see its docstring).
"""

from __future__ import annotations

import atexit
import os
import tempfile
import uuid
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Number of hash buckets for the DRUM-analog membership layer. Chosen so one
# bucket of a 10^10-key url_seen table (~80 GB of longs) is ~2.5 GB — one
# executor's working set. Tests use the same constant; semantics never depend
# on it (pure layout).
DEFAULT_NUM_BUCKETS = 32


def parse_env_conf(env_conf: str) -> dict[str, str]:
    """Parse the JIRLBOT_SPARK_CONF deployment hook ("k=v;k2=v2").

    Tolerant of stray semicolons/whitespace; entries without both a key
    and a value are dropped (a truncated env var must not half-apply).
    Values may themselves contain '=' (only the first splits)."""
    out: dict[str, str] = {}
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, _, v = pair.partition("=")
        if k.strip() and v.strip():
            out[k.strip()] = v.strip()
    return out


def materialize(df: DataFrame, tag: str) -> DataFrame:
    """Compute `df` now and return a frame that reads the result, so
    every later consumer starts from it instead of re-running (or
    re-planning) its lineage. The one place the package cuts lineage.

    The mode follows Spark's checkpoint directory, set by
    `spark.checkpoint.dir` or `SparkContext.setCheckpointDir`:

      unset — `localCheckpoint(eager=True)`: blocks live in executor
        storage, nothing to configure or clean up. Lineage is
        truncated, so a block lost with its executor cannot be
        recomputed and the job that reads it fails.
      set — parquet at `<dir>/materialize/<tag>-<uuid>`, read back.
        Survives executor loss and holds intermediates larger than
        executor storage; costs a write to the shared store. Spark does
        not remove these directories; `release` does.

    Set the checkpoint directory on runs that must survive executor
    loss. `tag` names the parquet directory only."""
    ckpt = df.sparkSession.sparkContext.getCheckpointDir()
    if ckpt is None:
        return df.localCheckpoint(eager=True)
    path = f"{ckpt}/materialize/{tag}-{uuid.uuid4().hex}"
    df.write.parquet(path)
    return df.sparkSession.read.parquet(path)


def release(*frames: DataFrame | None) -> None:
    """Delete the parquet directories that `frames` (frames returned by
    `materialize`, or filters and projections of them; None is skipped)
    read, once nothing will read them again. Only directories directly
    under `<checkpoint dir>/materialize/` are deleted, through the
    checkpoint directory's Hadoop filesystem. Without a checkpoint
    directory this does nothing: executor-local blocks go with their
    session."""
    frames = [f for f in frames if f is not None]
    if not frames:
        return
    spark = frames[0].sparkSession
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt is None:
        return
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    root = hpath(f"{ckpt}/materialize")
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    root = fs.makeQualified(root).toString()
    dirs = {
        fs.makeQualified(hpath(f)).getParent().toString()
        for df in frames
        for f in df.inputFiles()
    }
    for d in dirs:
        if d.rsplit("/", 1)[0] == root:
            fs.delete(hpath(d), True)


def _driver_heap() -> str:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(ram // 4, 32 << 30) >> 20}m"


def get_spark(
    app_name: str = "jirlbot-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32")
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # ANSI off by default (classic cast semantics match the DuckDB
        # oracle's truncating casts), but every operator must ALSO be
        # correct under ANSI on — the driver's own harness runs with the
        # Spark 4 ANSI default. SPARK_GRAFT_ANSI=true replicates that.
        .config(
            "spark.sql.ansi.enabled",
            os.environ.get("SPARK_GRAFT_ANSI", "false"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM IS the executor — size its heap for
        # the box: a quarter of physical RAM, at most 32g (8g thrashed
        # GCLocker and died at 128M-row benches on a 128 GiB machine,
        # where 32g left room for tmpfs shuffle data; a fixed 32g on a
        # 15 GiB box grew until the kernel OOM-killed the JVM mid-suite)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _driver_heap()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd for TABLE writes (not shuffle): the frontier's non-scaling
        # resource is bytes through storage/DRAM, and zstd trades those
        # for parallel CPU. Interleaved probe-balanced A/B on the 8M-URL
        # pipeline at local[8] (tools/ab_dedup.py, 2026-08-17): parquet
        # zstd wall 17.5 s median vs snappy 22.5 s (dedup 6.6 vs 8.2 s),
        # while zstd on the SHUFFLE codec is a clear loss (dedup 15.0 s
        # median vs 8.2 s) — lz4 stays for shuffle/spill. Same trade holds
        # against S3/HDFS on a real cluster (aggregate store bandwidth is
        # the shared resource; zstd is the parquet norm there).
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # Shuffle + spill to tmpfs when present: on a multi-node cluster every
    # executor shuffles to node-local disks, so aggregate shuffle bandwidth
    # scales with the cluster; this single-box sandbox has ONE shared disk,
    # which would serialize shuffle-heavy stages and misrepresent the
    # engine's scaling. /dev/shm restores the per-node-local-I/O assumption
    # (RAM is 128 GiB here; Spark spills gracefully if it ever fills).
    if os.path.isdir("/dev/shm") and os.environ.get(
        "SPARK_GRAFT_SHM_SHUFFLE", "1"
    ) != "0":
        shm = "/dev/shm/jirlbot_spark_local"
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    # Iceberg catalog is config-only in the sandbox (no runtime jar shipped
    # with pyspark 4.1.2); on a cluster set SPARK_GRAFT_ICEBERG_CATALOG to a
    # warehouse path and the storage layer writes through the catalog.
    warehouse = os.environ.get("SPARK_GRAFT_ICEBERG_WAREHOUSE")
    if warehouse:
        b = (
            b.config(
                "spark.sql.catalog.jirlbot",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            .config("spark.sql.catalog.jirlbot.type", "hadoop")
            .config("spark.sql.catalog.jirlbot.warehouse", warehouse)
        )
    # Env-injected conf overrides (JIRLBOT_SPARK_CONF="k=v;k2=v2"): the
    # deployment hook for per-site tuning — e.g. a bandwidth-constrained
    # store wants spark.sql.parquet.compression.codec=zstd (smaller bytes,
    # more parallel CPU), a CPU-constrained one wants snappy/lz4. Applied
    # before extra_conf so programmatic callers still win.
    for k, v in parse_env_conf(
        os.environ.get("JIRLBOT_SPARK_CONF", "")
    ).items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


# The py-files zip this process built, shipped again by later sessions.
_shipped_zip: str | None = None


def _ship_package(spark: SparkSession) -> None:
    """Ship jirlbot_spark to executor Python workers (`--py-files` analog).

    Driver-side sys.path edits don't reach executor workers; without this,
    any pandas UDF defined in the package fails to unpickle on workers when
    the job isn't launched from the repo root. On a real cluster the same
    zip goes to `spark-submit --py-files` (see `make dist`).

    The zip is built from the current sources the first time a process
    ships it, overwriting whatever an earlier process with the same pid
    left at that path, and is deleted when the interpreter exits. A
    failed build raises here, at session start, rather than later in a
    worker that cannot unpickle a UDF.
    """
    global _shipped_zip
    if _shipped_zip is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zpath = os.path.join(
            tempfile.gettempdir(), f"jirlbot_spark_pyfiles_{os.getpid()}.zip"
        )
        atexit.register(Path(zpath).unlink, missing_ok=True)
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _, files in os.walk(pkg_dir):
                for fn in files:
                    # .py sources plus packaged data files (the
                    # public-suffix table) — executors read the
                    # latter via importlib.resources from this zip
                    if fn.endswith((".py", ".dat")):
                        full = os.path.join(dirpath, fn)
                        rel = os.path.join(
                            "jirlbot_spark",
                            os.path.relpath(full, pkg_dir),
                        )
                        z.write(full, rel)
        _shipped_zip = zpath
    spark.sparkContext.addPyFile(_shipped_zip)
