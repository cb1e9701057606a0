"""CrawlLoop integration of the round-3 gates: the URL spam filter in
front of the DRUM exchange, and adaptive politeness from logged rtt_ms.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jirlbot_spark.plans.loop import CrawlConfig, CrawlLoop
from jirlbot_spark.sources.storage import TableStore

SEEDS = [
    "http://good.com/",
    "http://good.com/x",
    "http://slow.com/",
    "http://slow.com/y",
]
GRAPH = [
    # good.com links to one clean page, one blocked domain, one casino
    ("http://good.com/", "http://good.com/page1"),
    ("http://good.com/", "http://ads.spam.net/offer"),
    ("http://good.com/", "http://good.com/play-casino-now"),
    ("http://slow.com/", "http://slow.com/a"),
    ("http://slow.com/y", "http://slow.com/b"),
    ("http://good.com/page1", "http://good.com/page2"),
    ("http://slow.com/a", "http://slow.com/c"),
    ("http://slow.com/b", "http://slow.com/d"),
]


def _mk_loop(spark, root, cfg, fetch_backend=None):
    links = spark.createDataFrame(GRAPH, ["src_url", "dst_url"])
    store = TableStore(spark, root)
    loop = CrawlLoop(
        spark, store, None, links, None, cfg, fetch_backend=fetch_backend
    )
    loop.ingest_seeds(
        spark.createDataFrame([(u,) for u in SEEDS], ["url"])
    )
    return loop


def test_url_filter_gate_blocks_before_drum(spark, tmp_path):
    loop = _mk_loop(
        spark,
        str(tmp_path / "gated"),
        CrawlConfig(
            url_filter_opts={"blocked_domains": ("spam.net",)},
            min_delay_s=1.0,
        ),
    )
    # batch 1 defers everything to fetch robots; fetches start batch 2
    loop.run(4)
    fetched = {r["url"] for r in loop.store.read("fetch_log").collect()}
    assert "http://good.com/page1" in fetched
    assert "http://good.com/page2" in fetched  # clean chain crawled
    assert "http://ads.spam.net/offer" not in fetched
    assert "http://good.com/play-casino-now" not in fetched
    # gate sits BEFORE the DRUM exchange: rejected URLs never enter
    # url_seen (they are not "seen and skipped" — they never existed)
    from tests.oracle_sim import h64

    seen = {r["url_hash"] for r in loop.store.read("url_seen").collect()}
    assert h64("http://ads.spam.net/offer") not in seen
    assert h64("http://good.com/play-casino-now") not in seen
    assert h64("http://good.com/page2") in seen


def test_gate_off_keeps_spam(spark, tmp_path):
    loop = _mk_loop(spark, str(tmp_path / "ungated"), CrawlConfig())
    loop.run(4)
    fetched = {r["url"] for r in loop.store.read("fetch_log").collect()}
    assert "http://ads.spam.net/offer" in fetched


def test_adaptive_delay_spaces_next_batch(spark, tmp_path):
    from jirlbot_spark.operators.fetch import http_backend

    def virtual_clock_factory():
        state = {"t": 0.0}

        def clock():
            state["t"] += 0.001
            return state["t"]

        def sleeper(dt):
            state["t"] += dt

        return clock, sleeper

    def fake_transport(url):
        return {"status": 200, "content_type": "text/html", "body": b"x"}

    base = http_backend(
        transport=fake_transport, clock_factory=virtual_clock_factory
    )

    def backend(scheduled):
        # provenance-free rtt injection: the loop consumes fetch_log's
        # rtt_ms column, wherever the backend measured it
        return base(scheduled).withColumn(
            "rtt_ms",
            F.when(F.col("host") == "slow.com", F.lit(2000))
            .otherwise(F.lit(50))
            .cast("long"),
        )

    loop = _mk_loop(
        spark,
        str(tmp_path / "adaptive"),
        CrawlConfig(adaptive_delay=True, min_delay_s=1.0),
        fetch_backend=backend,
    )
    loop.run(3)
    log = loop.store.read("fetch_log")

    def spacings(batch, host):
        rows = sorted(
            r["planned_at_s"]
            for r in log.filter(
                (F.col("batch") == batch) & (F.col("host") == host)
            ).collect()
        )
        return [round(b - a, 3) for a, b in zip(rows, rows[1:])]

    # batch 2 (first fetches — batch 1 deferred on robots): no prior
    # rtt log -> min delay 1s everywhere
    assert spacings(2, "slow.com") == [1.0]
    # batch 3: slow.com spaced by 5 * 2000ms = 10s; fast host's
    # 5 * 50ms = 250ms clamps up to the 1s floor
    assert spacings(3, "slow.com") == [10.0]
    assert spacings(3, "good.com") == [1.0]


def test_adaptive_inert_without_rtt(spark, tmp_path):
    # table-less default backend logs no rtt_ms -> flag must be inert
    loop = _mk_loop(
        spark,
        str(tmp_path / "inert"),
        CrawlConfig(adaptive_delay=True, min_delay_s=1.0),
    )
    stats = loop.run(2)
    assert stats[-1]["fetched"] > 0


def test_backpressure_caps_passes_and_drains_burst(spark, tmp_path):
    """cfg.max_urls_per_batch (the frontier maxOffsetsPerTrigger analog):
    a 120-URL seed burst must drain over several bounded passes — no
    pass admits more than the cap, nothing is lost, nothing fetched
    twice."""
    seeds = [f"http://h{i:03d}.com/" for i in range(120)]
    store = TableStore(spark, str(tmp_path / "bp"))
    cfg = CrawlConfig(
        num_buckets=8, max_urls_per_batch=40, min_delay_s=0.0,
        salt_buckets=2,
    )
    loop = CrawlLoop(spark, store, None, None, None, cfg)
    loop.ingest_seeds(spark.createDataFrame([(u,) for u in seeds], ["url"]))
    fetched = []
    for _ in range(14):
        s = loop.run(1)[0]
        fetched.append(s["fetched"])
        assert s["rows_in"] <= 40  # the admission bound itself
        if s["done"]:
            break
    assert max(fetched) <= 40
    assert sum(1 for n in fetched if n) >= 3  # the burst really split
    urls = [r.url for r in store.read("fetch_log").select("url").collect()]
    assert len(urls) == len(set(urls)) == 120  # drained exactly once


PYTHON_NODES = (
    "MapInArrow",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
)


def test_commit_reads_materialized_lineage(spark, tmp_path, monkeypatch):
    """Each frame a crawl batch shares is cut once before the commit:
    no table write re-runs a Python stage (the link prepare is a
    mapInArrow), and a batch that raises leaves nothing pinned in
    Spark's cache manager."""
    real_commit = TableStore.commit_batch
    captured = {}

    def commit(store, batch_id, writes, pre_commit=None):
        if batch_id < 2:
            return real_commit(store, batch_id, writes, pre_commit)
        captured.update(writes)
        raise RuntimeError("commit aborted")

    monkeypatch.setattr(TableStore, "commit_batch", commit)
    spark.catalog.clearCache()  # the session is shared with other tests
    loop = _mk_loop(
        spark,
        str(tmp_path / "cut"),
        CrawlConfig(
            url_filter_opts={"blocked_domains": ("spam.net",)},
            max_urls_per_batch=64,
        ),
    )
    loop.run_batch(1)  # defers every row to fetch robots
    with pytest.raises(RuntimeError, match="commit aborted"):
        loop.run_batch(2)

    assert {"frontier", "url_seen", "pld_graph", "fetch_log"} <= set(captured)
    python_writes = {
        name: node
        for name, w in captured.items()
        for node in PYTHON_NODES
        if node in w.df._jdf.queryExecution().optimizedPlan().toString()
    }
    assert not python_writes, python_writes
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_durable_batches_delete_their_intermediates(
    spark, tmp_path, monkeypatch
):
    """With a checkpoint directory set, each batch's materialized frames
    are parquet directories; the batch deletes them once it has
    committed, and commits the same tables as the executor-local
    default."""
    from pyspark import SparkContext

    from jirlbot_spark.session import release

    cfg = CrawlConfig(
        url_filter_opts={"blocked_domains": ("spam.net",)},
        max_urls_per_batch=64,
    )

    def crawl(root):
        loop = _mk_loop(spark, root, cfg)
        loop.run(3)
        tables = {
            name: sorted(map(tuple, loop.store.read(name).collect()), key=repr)
            for name in ("frontier", "url_seen", "pld_graph", "fetch_log",
                         "robots")
            if loop.store.exists(name)
        }
        # metrics rows are per partition, and partitioning is not the
        # same when a frame is read back from parquet
        tables["metrics"] = sorted(
            map(
                tuple,
                loop.store.read("metrics")
                .groupBy("batch")
                .agg(F.sum("rows_fetched"), F.sum("payload_rows"))
                .collect(),
            )
        )
        return tables

    local = crawl(str(tmp_path / "local"))
    ckpt = tmp_path / "ckpt"
    monkeypatch.setattr(
        SparkContext, "getCheckpointDir", lambda self: str(ckpt)
    )
    durable = crawl(str(tmp_path / "durable"))
    assert durable == local
    assert local["fetch_log"]  # the crawl fetched pages
    # the batches wrote their frames there, and deleted every one
    assert (ckpt / "materialize").is_dir()
    assert not [
        d.name
        for d in (ckpt / "materialize").iterdir()
        if d.name.startswith("loop-")
    ]
    # nothing outside <checkpoint dir>/materialize is deleted
    outside = str(tmp_path / "outside")
    spark.range(3).write.parquet(outside)
    release(spark.read.parquet(outside))
    assert spark.read.parquet(outside).count() == 3
