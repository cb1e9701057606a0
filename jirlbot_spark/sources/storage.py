"""Atomic multi-table batch commits over Parquet directories.

The reference keeps crawl state restart-safe via DRUM's on-disk bucket files
and sorted cache (IRLbot paper, DRUM section). Our analog: every microbatch
commits (frontier, url_seen, metrics, ...) together by writing new data
directories and then atomically renaming a JSON manifest that names the live
directories per table plus the committed batch_id. Readers resolve the
manifest first, so a crash mid-batch leaves only orphan directories that no
manifest references — resume is "read manifest, continue from batch_id+1",
replaying nothing (north rule: "resumes exactly from checkpointed frontier
state").

Scale notes:
  - `url_seen` is APPEND-ONLY sorted-run storage, partitioned by the DRUM
    bucket column: each batch appends one bucket-partitioned run of the keys
    it proved unique. Membership probes prune to matching bucket partitions
    (partition pruning on `bucket`), which is the read-side analog of DRUM's
    per-bucket sequential merge. `compact()` folds runs when they pile up.
  - On a cluster with an Iceberg catalog this whole class maps 1:1 to
    Iceberg snapshot commits (`MERGE INTO` + snapshot ids); the manifest
    protocol is the sandbox stand-in and is interface-compatible.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"

_log = logging.getLogger("jirlbot_spark.storage")


def _parquet_rows(run_dir: str) -> int:
    """Total row count of a written parquet run dir from file footers —
    metadata only, no Spark job. Local-FS walk (this TableStore is the
    sandbox stand-in; the Iceberg path reads the same number from its
    snapshot summary)."""
    import pyarrow.parquet as pq

    total = 0
    for base, _dirs, files in os.walk(run_dir):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(base, f)).metadata.num_rows
    return total


@dataclass
class TableWrite:
    df: DataFrame
    mode: str = "append"  # "append" | "overwrite"
    partition_by: tuple[str, ...] = field(default_factory=tuple)


class TableStore:
    # run dirs are posix-listable (the Bloom sidecar epoch contract and
    # gc_orphans rely on this); snapshot-pinned subclasses flip it off
    supports_run_listing = True

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- manifest ----
    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"batch_id": -1, "tables": {}}
        with open(p) as f:
            return json.load(f)

    def last_batch(self) -> int:
        return int(self.manifest()["batch_id"])

    def _swap_manifest(self, m: dict) -> None:
        """Durably replace the manifest: write a temp file, fsync it,
        then os.replace — the one atomic step every commit hinges on."""
        tmp = self._manifest_path() + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())

    # ---- reads ----
    def exists(self, name: str) -> bool:
        return bool(self.manifest()["tables"].get(name))

    def read(self, name: str) -> DataFrame | None:
        dirs = self.manifest()["tables"].get(name)
        if not dirs:
            return None
        # Each run is its own partitioned-parquet root; load per-run and
        # union by name so partition columns survive (and per-run partition
        # pruning still applies).
        dfs = [
            self.spark.read.parquet(os.path.join(self.root, name, d))
            for d in dirs
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def run_rows(self, name: str, run: str) -> int:
        """Rows in one written run of `name` (a `commit_batch` result),
        from parquet footers: no Spark job."""
        return _parquet_rows(os.path.join(self.root, name, run))

    # ---- atomic batch commit ----
    def commit_batch(
        self,
        batch_id: int,
        writes: dict[str, TableWrite],
        pre_commit=None,
    ) -> dict[str, str]:
        """Write every table's new data dir, then swap the manifest once.

        Returns {table: run dir name} for the runs actually written (an
        empty append writes nothing).

        `pre_commit(runs_written)` runs after the data dirs are written
        but BEFORE the manifest swap. The Bloom sidecar update must live
        here: filters OR'd before the swap can only ever be OVER-filled
        relative to the committed store (crash ⇒ orphan dirs + extra
        filter bits ⇒ extra exact-join probes, still correct), whereas
        updating after the swap would leave a crash window with
        UNDER-filled filters — Bloom false negatives ⇒ seen URLs
        re-classified unique ⇒ wrong crawl. A pre_commit exception aborts
        the commit (manifest untouched)."""
        m = self.manifest()
        if batch_id <= m["batch_id"]:
            raise ValueError(
                f"batch {batch_id} already committed (last={m['batch_id']})"
            )
        tables = dict(m["tables"])
        # The per-table writes are independent Spark jobs, so submit them
        # CONCURRENTLY (thread pool -> concurrent job scheduling in the one
        # SparkContext): a crawl batch commits ~8 tables and serializing
        # them pays ~8 scheduler+write latencies per batch — measured 67 s
        # of a 90 s 4-batch resume run before this change. Emptiness is
        # decided AFTER the write from parquet footer metadata (no extra
        # isEmpty() job, which recomputed each plan a second time); an
        # empty append's run dir is deleted, keeping the old "appending
        # nothing writes nothing" contract. The Iceberg analog reads row
        # counts from the snapshot summary the same way.
        def _write_one(name: str, w: TableWrite) -> str | None:
            df = w.df
            run = f"b{batch_id:08d}_{uuid.uuid4().hex[:8]}"
            out = os.path.join(self.root, name, run)
            if w.partition_by:
                # cluster rows so each task owns whole partition dirs —
                # dynamic-partition writes with every task touching every
                # dir are ~10x slower (measured) and spray tiny files
                df = df.repartition(*[df[c] for c in w.partition_by])
            writer = df.write.mode("overwrite")
            if w.partition_by:
                writer = writer.partitionBy(*w.partition_by)
            writer.parquet(out)
            if _parquet_rows(out) == 0:
                if w.mode == "append":
                    shutil.rmtree(out, ignore_errors=True)
                    return None  # appending nothing: keep the old dirs
                # empty overwrite must still carry schema: one empty file
                # (a partitioned empty write leaves no data file to read
                # the schema from)
                w.df.repartition(1).write.mode("overwrite").parquet(out)
            return run

        with ThreadPoolExecutor(max_workers=min(8, len(writes) or 1)) as ex:
            futs = {
                name: ex.submit(_write_one, name, w)
                for name, w in writes.items()
            }
        # Collect EVERY table's outcome before raising: the first failing
        # future must not mask sibling failures (their data dirs stay as
        # gc-able orphans either way, but the operator needs the full
        # failure list to diagnose a multi-table outage). The first
        # failure in deterministic dict order is re-raised after all are
        # logged. A non-Exception (KeyboardInterrupt, SystemExit) is not a
        # write failure: it propagates at once, unlogged and unmasked.
        errors: dict[str, Exception] = {}
        results: dict[str, str | None] = {}
        for name in writes:
            try:
                results[name] = futs[name].result()
            except Exception as e:  # noqa: BLE001 - logged + re-raised
                errors[name] = e
        if errors:
            for name, e in errors.items():
                _log.error(
                    "commit_batch(batch=%s): write for table %r failed: "
                    "%s: %s",
                    batch_id,
                    name,
                    type(e).__name__,
                    e,
                )
            raise next(iter(errors.values()))
        runs_written: dict[str, str] = {}
        for name, w in writes.items():  # deterministic manifest order
            run = results[name]
            if run is None:
                continue
            runs_written[name] = run
            if w.mode == "overwrite":
                tables[name] = [run]
            else:
                tables[name] = tables.get(name, []) + [run]
        if pre_commit is not None:
            pre_commit(runs_written)
        new_manifest = {
            "batch_id": batch_id,
            "tables": tables,
            "committed_at": time.time(),
        }
        self._swap_manifest(new_manifest)  # the atomic commit point
        return runs_written

    # ---- maintenance ----
    def compact(self, name: str, partition_by: tuple[str, ...] = ()) -> None:
        """Fold a table's sorted runs into one (DRUM cache-file rewrite)."""
        df = self.read(name)
        if df is None:
            return
        m = self.manifest()
        # the embedded batch id keeps bucket->last-key-batch derivable
        # from run names after compaction (Bloom epoch contract)
        run = f"compact_b{int(m['batch_id']):08d}_{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.root, name, run)
        if partition_by:
            df = df.repartition(*[df[c] for c in partition_by])
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        old = m["tables"][name]
        m["tables"][name] = [run]
        self._swap_manifest(m)
        for d in old:
            shutil.rmtree(os.path.join(self.root, name, d), ignore_errors=True)

    def gc_orphans(self) -> list[str]:  # noqa: C901 - simple walk
        """Remove data dirs no manifest references (post-crash cleanup)."""
        live = {
            os.path.join(name, d)
            for name, dirs in self.manifest()["tables"].items()
            for d in dirs
        }
        removed = []
        for name in os.listdir(self.root):
            tdir = os.path.join(self.root, name)
            if not os.path.isdir(tdir):
                continue
            for d in os.listdir(tdir):
                rel = os.path.join(name, d)
                if rel not in live:
                    shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
                    removed.append(rel)
        return removed


class IcebergTableStore(TableStore):
    """TableStore over an Iceberg catalog (cluster path; capability-gated).

    Design: Iceberg commits are atomic PER TABLE, but a crawl batch must
    commit SEVERAL tables together (frontier + url_seen + logs) for exact
    resume. So the JSON manifest stays the single atomic commit point —
    what changes is what it records: instead of parquet run directories,
    it pins each table to the Iceberg SNAPSHOT ID its batch write
    produced. Readers time-travel to the pinned snapshot
    (`VERSION AS OF`), so uncommitted Iceberg appends from a crashed
    batch are invisible exactly like orphan run dirs are, and Iceberg
    provides the file management (manifest lists, partition stats,
    `rewrite_data_files` compaction) at 10^10-row scale.

    Re-run idempotency: readers of the OLD manifest never see a crashed
    append, but an exact RESUME re-runs the crashed batch — and a blind
    second append would leave both copies inside the re-run's pinned
    snapshot. So every write stamps `jirlbot.batch-id` (+ table name)
    into the snapshot summary, and commit_batch first looks for an
    existing snapshot already carrying this batch's stamp: if found, the
    write is SKIPPED and that snapshot is pinned instead — re-running a
    crashed batch adopts its own orphaned append rather than doubling it.
    (The stamped snapshot is a complete record of the batch's write: a
    crash can only happen before or after the per-table Iceberg commit,
    never mid-snapshot.)

    Sandbox gate: pyspark ships no Iceberg runtime jar here, so the
    constructor raises unless the session has a `spark.sql.catalog.*`
    configured (session.get_spark wires one from
    SPARK_GRAFT_ICEBERG_WAREHOUSE); the parquet TableStore is the tested
    stand-in with the same interface.

    MEASURED INFEASIBILITY of a runtime smoke in this sandbox (re-checked
    round 5, 2026-08-21): all 287 jars under pyspark/jars contain no
    iceberg/delta/hudi artifact; a box-wide `find / -name '*iceberg*'`
    yields nothing but pytest tmp dirs; and the box has no network egress
    (DNS resolution to repo1.maven.org fails with EAI_NONAME), so neither
    `--packages` (Maven fetch) nor vendoring a jar is possible. Until a
    cluster session with an Iceberg catalog exists, the executable
    coverage is the protocol-contract suite in
    tests/test_storage_contracts.py, which drives this class end-to-end
    against a fake of the exact Iceberg SQL surface it touches (snapshot
    metadata queries, summary stamping, time-travel reads,
    rewrite_data_files).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        catalog: str = "jirlbot",
        namespace: str = "crawl",
    ):
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if not impl:
            raise NotImplementedError(
                f"STUB-GATE: no Iceberg catalog '{catalog}' configured in "
                "this session (set SPARK_GRAFT_ICEBERG_WAREHOUSE and ship "
                "the iceberg-spark-runtime jar); use TableStore (parquet) "
                "in the sandbox"
            )
        super().__init__(spark, root)  # root still holds the manifest
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}"
        )

    supports_run_listing = False  # snapshots, not posix run dirs

    def _tbl(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def _last_snapshot(self, name: str) -> int:
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self._tbl(name)}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return int(row[0][0])

    def _snapshot_for_batch(self, name: str, batch_id: int) -> int | None:
        """Snapshot id already stamped with this batch (crashed-append
        adoption — see class docstring); None if no such snapshot."""
        if not self.spark.catalog.tableExists(self._tbl(name)):
            return None
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._tbl(name)}.snapshots "
            f"WHERE summary['jirlbot.batch-id'] = '{int(batch_id)}' "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return int(rows[0][0]) if rows else None

    def read(self, name: str) -> DataFrame | None:
        snap = self.manifest()["tables"].get(name)
        if not snap:
            return None
        return self.spark.read.option("snapshot-id", int(snap[0])).table(
            self._tbl(name)
        )

    def run_rows(self, name: str, run: str) -> int:
        """Rows one snapshot added, from its summary: no data scan."""
        rows = self.spark.sql(
            f"SELECT summary['added-records'] FROM {self._tbl(name)}"
            f".snapshots WHERE snapshot_id = {int(run)}"
        ).collect()
        return int(rows[0][0] or 0)

    def commit_batch(
        self,
        batch_id: int,
        writes: dict[str, TableWrite],
        pre_commit=None,
    ) -> dict[str, str]:
        m = self.manifest()
        if batch_id <= m["batch_id"]:
            raise ValueError(
                f"batch {batch_id} already committed (last={m['batch_id']})"
            )
        tables = dict(m["tables"])
        runs_written: dict[str, str] = {}
        for name, w in writes.items():
            df, tbl = w.df, self._tbl(name)
            if w.mode == "append" and df.isEmpty():
                continue
            adopted = self._snapshot_for_batch(name, batch_id)
            if adopted is not None:
                # this batch already wrote (crashed before the manifest
                # swap): adopt the stamped snapshot, don't append twice
                tables[name] = [adopted]
                runs_written[name] = str(adopted)
                continue
            if w.partition_by:
                df = df.repartition(*[df[c] for c in w.partition_by])
            writer = df.writeTo(tbl).option(
                "snapshot-property.jirlbot.batch-id", str(int(batch_id))
            )
            if w.partition_by:
                from pyspark.sql import functions as F

                writer = writer.partitionedBy(
                    *[F.col(c) for c in w.partition_by]
                )
            exists = self.spark.catalog.tableExists(tbl)
            if w.mode == "overwrite" or not exists:
                writer.createOrReplace()
            else:
                writer.append()
            snap = self._last_snapshot(name)
            tables[name] = [snap]
            runs_written[name] = str(snap)
        if pre_commit is not None:
            pre_commit(runs_written)
        new_manifest = {
            "batch_id": batch_id,
            "tables": tables,
            "committed_at": time.time(),
        }
        self._swap_manifest(new_manifest)
        return runs_written

    def compact(self, name: str, partition_by: tuple[str, ...] = ()) -> None:
        self.spark.sql(
            f"CALL {self.catalog}.system.rewrite_data_files("
            f"table => '{self.namespace}.{name}')"
        )
        m = self.manifest()
        m["tables"][name] = [self._last_snapshot(name)]
        self._swap_manifest(m)
