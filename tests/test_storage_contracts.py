"""Contract tests for the cluster-only paths (VERDICT r2 #7).

1. IcebergTableStore's manifest/snapshot protocol driven end-to-end
   against a FAKE of the exact Iceberg SQL surface the class touches
   (conf lookup, `.snapshots` metadata queries, snapshot-property
   stamping, time-travel reads, rewrite_data_files). No Iceberg jar
   exists in the sandbox; the fake pins the PROTOCOL — pinned-snapshot
   reads, crashed-append adoption (ADVICE r2: idempotent re-runs),
   atomicity of the JSON manifest swap — so the real path can't rot
   silently.
2. The Bloom-sidecar/snapshot-store incompatibility guard (ADVICE r2).
3. http_fetch driven INSIDE a CrawlLoop batch (not just standalone):
   the http-backed loop must reproduce the oracle simulator's exact
   crawl ordering and URL-seen set, with statuses and politeness
   timestamps recorded in fetch_log.
"""

from __future__ import annotations

import re

import pytest

from jirlbot_spark.sources.storage import (
    IcebergTableStore,
    TableStore,
    TableWrite,
)

# ---------------------------------------------------------------- fakes


class _Result:
    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class FakeWarehouse:
    """In-memory Iceberg-alike: per-table snapshot log, each snapshot a
    full state copy + summary props + commit clock."""

    def __init__(self):
        self.tables = {}  # tbl -> [ {id, committed_at, summary, state} ]
        self._next_id = 1000
        self._clock = 0

    def snapshots(self, tbl):
        return self.tables.get(tbl, [])

    def commit(self, tbl, rows, props, replace):
        prev = self.tables.get(tbl, [])
        base = [] if (replace or not prev) else list(prev[-1]["state"])
        snap = {
            "id": self._next_id,
            "committed_at": self._clock,
            # Iceberg stamps every snapshot with its added row count
            "summary": {**props, "added-records": str(len(rows))},
            "state": base + list(rows),
        }
        self._next_id += 1
        self._clock += 1
        self.tables.setdefault(tbl, []).append(snap)
        return snap

    def state_at(self, tbl, snapshot_id):
        for s in self.snapshots(tbl):
            if s["id"] == snapshot_id:
                return s["state"]
        raise KeyError((tbl, snapshot_id))


class FakeDF:
    def __init__(self, wh: FakeWarehouse, rows):
        self._wh = wh
        self.rows = list(rows)

    def isEmpty(self):
        return not self.rows

    def writeTo(self, tbl):
        return _FakeWriter(self._wh, tbl, self.rows)


class _FakeWriter:
    def __init__(self, wh, tbl, rows):
        self._wh, self._tbl, self._rows = wh, tbl, rows
        self._props = {}

    def option(self, key, value):
        # Iceberg: writer option "snapshot-property.X" -> summary key X
        assert key.startswith("snapshot-property.")
        self._props[key[len("snapshot-property."):]] = str(value)
        return self

    def partitionedBy(self, *cols):
        return self

    def append(self):
        self._wh.commit(self._tbl, self._rows, self._props, replace=False)

    def createOrReplace(self):
        self._wh.commit(self._tbl, self._rows, self._props, replace=True)


class _FakeCatalogAPI:
    def __init__(self, wh):
        self._wh = wh

    def tableExists(self, tbl):
        return tbl in self._wh.tables


class _FakeReader:
    def __init__(self, wh):
        self._wh = wh
        self._opts = {}

    def option(self, k, v):
        self._opts[k] = v
        return self

    def table(self, tbl):
        snap = int(self._opts["snapshot-id"])
        return FakeDF(self._wh, self._wh.state_at(tbl, snap))


class _FakeConf:
    def __init__(self, values):
        self._values = values

    def get(self, key, default=None):
        return self._values.get(key, default)


_Q_BY_BATCH = re.compile(
    r"SELECT snapshot_id FROM (\S+)\.snapshots "
    r"WHERE summary\['jirlbot\.batch-id'\] = '(\d+)' "
    r"ORDER BY committed_at DESC LIMIT 1"
)
_Q_ADDED = re.compile(
    r"SELECT summary\['added-records'\] FROM (\S+)\.snapshots "
    r"WHERE snapshot_id = (\d+)"
)
_Q_LAST = re.compile(
    r"SELECT snapshot_id FROM (\S+)\.snapshots "
    r"ORDER BY committed_at DESC LIMIT 1"
)


class FakeIcebergSpark:
    """Duck-typed SparkSession exposing exactly the surface
    IcebergTableStore uses; anything else raises."""

    def __init__(self, wh, catalog="jirlbot"):
        self._wh = wh
        self.conf = _FakeConf(
            {f"spark.sql.catalog.{catalog}": "fake.iceberg.Catalog"}
        )
        self.catalog = _FakeCatalogAPI(wh)

    @property
    def read(self):
        return _FakeReader(self._wh)

    def sql(self, q):
        q = " ".join(q.split())
        if q.startswith("CREATE NAMESPACE"):
            return _Result([])
        m = _Q_BY_BATCH.match(q)
        if m:
            tbl, bid = m.group(1), m.group(2)
            hits = [
                s
                for s in self._wh.snapshots(tbl)
                if s["summary"].get("jirlbot.batch-id") == bid
            ]
            hits.sort(key=lambda s: -s["committed_at"])
            return _Result([(hits[0]["id"],)] if hits else [])
        m = _Q_ADDED.match(q)
        if m:
            tbl, sid = m.group(1), int(m.group(2))
            return _Result([
                (s["summary"]["added-records"],)
                for s in self._wh.snapshots(tbl)
                if s["id"] == sid
            ])
        m = _Q_LAST.match(q)
        if m:
            snaps = self._wh.snapshots(m.group(1))
            assert snaps, f"no snapshots for {m.group(1)}"
            return _Result([(max(snaps, key=lambda s: s["committed_at"])["id"],)])
        if q.startswith("CALL") and "rewrite_data_files" in q:
            tbl = re.search(r"table => '([^']+)'", q).group(1)
            full = f"jirlbot.{tbl}"
            self._wh.commit(
                full, [], {"operation": "replace"}, replace=False
            )  # compaction: same logical state, new snapshot
            return _Result([])
        raise AssertionError(f"unexpected SQL against fake: {q}")


def _mk_store(tmp_path):
    wh = FakeWarehouse()
    spark = FakeIcebergSpark(wh)
    return wh, IcebergTableStore(spark, str(tmp_path / "ice"))


FR = "jirlbot.crawl.frontier"
US = "jirlbot.crawl.url_seen"


# ------------------------------------------------- protocol happy path


def test_iceberg_commit_pins_snapshots_and_time_travels(tmp_path):
    wh, store = _mk_store(tmp_path)
    store.commit_batch(
        0,
        {
            "frontier": TableWrite(FakeDF(wh, [("a",), ("b",)])),
            "url_seen": TableWrite(FakeDF(wh, [(1,), (2,)])),
        },
    )
    m = store.manifest()
    assert m["batch_id"] == 0
    assert set(m["tables"]) == {"frontier", "url_seen"}
    # every batch-0 snapshot carries its batch stamp
    for tbl in (FR, US):
        assert wh.snapshots(tbl)[-1]["summary"]["jirlbot.batch-id"] == "0"
    assert sorted(store.read("frontier").rows) == [("a",), ("b",)]

    # batch 1 appends; reads follow the NEW pin, cumulatively
    store.commit_batch(
        1, {"url_seen": TableWrite(FakeDF(wh, [(3,)]))}
    )
    assert sorted(store.read("url_seen").rows) == [(1,), (2,), (3,)]

    # an orphan append (crashed future batch) is INVISIBLE to readers of
    # the committed manifest: read() time-travels to the pinned snapshot
    FakeDF(wh, [(99,)]).writeTo(US).option(
        "snapshot-property.jirlbot.batch-id", "2"
    ).append()
    assert sorted(store.read("url_seen").rows) == [(1,), (2,), (3,)]


def test_iceberg_run_rows_reads_snapshot_summary(tmp_path):
    """`run_rows` is the rows one commit's snapshot added (what
    `CrawlLoop.ingest_seeds` returns), not the table's running total."""
    wh, store = _mk_store(tmp_path)
    runs0 = store.commit_batch(
        0, {"url_seen": TableWrite(FakeDF(wh, [(1,), (2,)]))}
    )
    runs1 = store.commit_batch(
        1, {"url_seen": TableWrite(FakeDF(wh, [(3,), (4,), (5,)]))}
    )
    assert store.run_rows("url_seen", runs0["url_seen"]) == 2
    assert store.run_rows("url_seen", runs1["url_seen"]) == 3


def test_iceberg_empty_append_keeps_old_pin(tmp_path):
    wh, store = _mk_store(tmp_path)
    store.commit_batch(0, {"frontier": TableWrite(FakeDF(wh, [("a",)]))})
    pin0 = store.manifest()["tables"]["frontier"]
    store.commit_batch(1, {"frontier": TableWrite(FakeDF(wh, []))})
    assert store.manifest()["batch_id"] == 1
    assert store.manifest()["tables"]["frontier"] == pin0
    assert len(wh.snapshots(FR)) == 1  # nothing was written


def test_iceberg_monotonic_batch_ids(tmp_path):
    wh, store = _mk_store(tmp_path)
    store.commit_batch(0, {"frontier": TableWrite(FakeDF(wh, [("a",)]))})
    with pytest.raises(ValueError, match="already committed"):
        store.commit_batch(0, {"frontier": TableWrite(FakeDF(wh, [("b",)]))})


# --------------------------------------- crashed-append adoption (r2 ADVICE)


def test_iceberg_rerun_adopts_crashed_append(tmp_path):
    """Crash AFTER the per-table Iceberg commits but BEFORE the manifest
    swap (simulated via a raising pre_commit). The re-run must adopt the
    stamped snapshot instead of appending the same rows twice."""
    wh, store = _mk_store(tmp_path)
    store.commit_batch(0, {"url_seen": TableWrite(FakeDF(wh, [(1,), (2,)]))})

    def boom(runs):
        raise RuntimeError("crash between iceberg commit and manifest swap")

    with pytest.raises(RuntimeError, match="crash between"):
        store.commit_batch(
            1,
            {"url_seen": TableWrite(FakeDF(wh, [(3,), (4,)]))},
            pre_commit=boom,
        )
    # the orphaned Iceberg append exists, the manifest does not know it
    assert store.last_batch() == 0
    assert len(wh.snapshots(US)) == 2
    orphan = wh.snapshots(US)[-1]["id"]

    # exact resume re-runs batch 1 with the same writes
    runs = store.commit_batch(
        1, {"url_seen": TableWrite(FakeDF(wh, [(3,), (4,)]))}
    )
    assert len(wh.snapshots(US)) == 2, "re-run must not double-append"
    assert runs["url_seen"] == str(orphan)
    assert store.manifest()["tables"]["url_seen"] == [orphan]
    assert sorted(store.read("url_seen").rows) == [(1,), (2,), (3,), (4,)]


def test_iceberg_partial_multi_table_crash_resumes_exactly(tmp_path):
    """Crash mid-batch with table A committed and table B not yet
    written: the re-run adopts A's snapshot and writes B fresh."""
    wh, store = _mk_store(tmp_path)
    store.commit_batch(0, {"frontier": TableWrite(FakeDF(wh, [("a",)]))})
    # simulate: batch 1 wrote frontier's Iceberg snapshot then died
    FakeDF(wh, [("b",)]).writeTo(FR).option(
        "snapshot-property.jirlbot.batch-id", "1"
    ).createOrReplace()
    n_before = len(wh.snapshots(FR))

    store.commit_batch(
        1,
        {
            "frontier": TableWrite(FakeDF(wh, [("b",)]), mode="overwrite"),
            "url_seen": TableWrite(FakeDF(wh, [(7,)])),
        },
    )
    assert len(wh.snapshots(FR)) == n_before  # adopted, not re-written
    assert sorted(store.read("frontier").rows) == [("b",)]
    assert sorted(store.read("url_seen").rows) == [(7,)]


# ------------------------------------------- posix store write failures


class _RaisingDF:
    """Stands in for a table's DataFrame: its parquet write raises."""

    def __init__(self, exc: BaseException):
        self.exc = exc

    @property
    def write(self):
        return self

    def mode(self, _mode):
        return self

    def parquet(self, _path):
        raise self.exc


def test_commit_interrupt_is_not_a_write_failure(tmp_path, caplog):
    """A KeyboardInterrupt in one table's write reaches the caller as
    itself — not relabelled as "write failed", and not replaced by an
    earlier table's ordinary error — and the manifest stays untouched."""
    store = TableStore(None, str(tmp_path / "s"))
    writes = {
        "frontier": TableWrite(_RaisingDF(OSError("disk full"))),
        "url_seen": TableWrite(_RaisingDF(KeyboardInterrupt())),
    }
    with caplog.at_level("ERROR", logger="jirlbot_spark.storage"):
        with pytest.raises(KeyboardInterrupt):
            store.commit_batch(0, writes)
    assert not [r for r in caplog.records if "failed" in r.getMessage()]
    assert store.last_batch() == -1

    # an ordinary error alone is still logged and re-raised
    with caplog.at_level("ERROR", logger="jirlbot_spark.storage"):
        with pytest.raises(OSError, match="disk full"):
            store.commit_batch(0, {"frontier": writes["frontier"]})
    assert any("'frontier' failed" in r.getMessage() for r in caplog.records)


# ------------------------------------------- Bloom/snapshot-store guard


def test_bloom_sidecar_rejected_on_snapshot_store(tmp_path):
    """cfg.bloom_dir needs posix run listings; a snapshot-pinned store
    must be rejected at loop CONSTRUCTION (ADVICE r2: previously a
    TypeError deep inside _bucket_key_epochs mid-batch)."""
    from jirlbot_spark.plans.loop import CrawlConfig, CrawlLoop

    class SnapshotOnlyStore(TableStore):
        supports_run_listing = False

    store = SnapshotOnlyStore(None, str(tmp_path / "s"))
    with pytest.raises(ValueError, match="bloom_dir requires"):
        CrawlLoop(
            None,
            store,
            None,
            None,
            None,
            CrawlConfig(bloom_dir=str(tmp_path / "bloom")),
        )
    # same config on the parquet store constructs fine
    CrawlLoop(
        None,
        TableStore(None, str(tmp_path / "p")),
        None,
        None,
        None,
        CrawlConfig(bloom_dir=str(tmp_path / "bloom")),
    )


# ------------------------------- http_fetch inside a CrawlLoop batch


@pytest.fixture(scope="module")
def http_loop_run(spark, tmp_path_factory):
    from jirlbot_spark.operators.fetch import http_backend
    from jirlbot_spark.plans.loop import CrawlConfig, CrawlLoop
    from tests.test_loop_equivalence import (
        CFG,
        N_BATCHES,
        ROBOTS,
        SEEDS,
        WEB_GRAPH,
    )

    # local closures: cloudpickle ships them by value to the workers
    # (module-level defs in a test file can't be re-imported there)
    def virtual_clock_factory():
        state = {"t": 0.0}

        def clock():
            state["t"] += 0.001
            return state["t"]

        def sleeper(dt):
            state["t"] += dt

        return clock, sleeper

    def fake_transport(url):
        return {
            "status": 200,
            "content_type": "image/png",
            "body": f"payload:{url}".encode(),
        }

    store = TableStore(spark, str(tmp_path_factory.mktemp("httpcrawl")))
    links = spark.createDataFrame(WEB_GRAPH, ["src_url", "dst_url"])
    robots_src = spark.createDataFrame(
        [(h, d, c) for h, (d, c) in ROBOTS.items()],
        ["host", "disallow", "crawl_delay"],
    )
    loop = CrawlLoop(
        spark,
        store,
        None,  # no pages table: fetch really goes through the backend
        links,
        robots_src,
        CrawlConfig(salt_buckets=4, image_scale=60, **CFG),
        fetch_backend=http_backend(
            transport=fake_transport,
            clock_factory=virtual_clock_factory,
        ),
    )
    seeds = spark.createDataFrame([(u,) for u in SEEDS], ["url"])
    loop.ingest_seeds(seeds)
    stats = loop.run(N_BATCHES)
    return loop, stats


def test_http_loop_matches_oracle_sim(spark, http_loop_run):
    """The live-HTTP loop reproduces the simulator's exact crawl
    ordering and URL-seen set — the same north-rule acceptance the
    table-backed loop passes."""
    from tests.oracle_sim import SimConfig, h64, simulate
    from tests.test_loop_equivalence import (
        CFG,
        N_BATCHES,
        ROBOTS,
        SEEDS,
        WEB_GRAPH,
        _engine_fetch_tuples,
        _sim_fetch_tuples,
    )

    loop, _ = http_loop_run
    sim = simulate(SEEDS, WEB_GRAPH, ROBOTS, N_BATCHES, SimConfig(**CFG))
    assert _engine_fetch_tuples(loop.store) == _sim_fetch_tuples(sim)
    engine_seen = {r.url_hash for r in loop.store.read("url_seen").collect()}
    assert engine_seen == {h64(u) for u in sim.url_seen}


def test_http_loop_logs_status_and_honors_schedule(spark, http_loop_run):
    """fetch_log gains status/fetched_at_s from the HTTP backend; every
    row fetched at-or-after its planned politeness offset."""
    loop, stats = http_loop_run
    assert sum(s["fetched"] for s in stats) > 0
    log = loop.store.read("fetch_log").collect()
    assert log
    for r in log:
        assert r.status == 200
        assert r.content_type == "image/png"
        assert r.fetched_at_s >= r.planned_at_s
