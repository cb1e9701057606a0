"""Crawl-order + URL-seen-set equivalence: Spark engine vs the pure-Python
oracle simulator, same seed list + politeness budget (the north rule's
core acceptance), plus exact checkpoint-resume equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jirlbot_spark.plans.loop import CrawlConfig, CrawlLoop
from jirlbot_spark.sources.fixtures import gen_pages
from jirlbot_spark.sources.storage import TableStore
from tests.oracle_sim import SimConfig, h64, simulate

SEEDS = [
    "http://siteA.com/",
    "HTTP://SITEB.com:80/#frag",     # dirty: canonicalizes to siteb.com
    "http://sitec.com/a/../",
    "http://siteb.com/",              # duplicate after canonicalization
    "ftp://nope.com/",                # rejected
]

WEB_GRAPH = [
    ("http://sitea.com/", "http://siteb.com/p1"),
    ("http://sitea.com/", "http://sitec.com/p1"),
    ("http://sitea.com/", "http://sitea.com/p1"),
    ("http://siteb.com/", "http://sitea.com/p2"),
    ("http://siteb.com/", "http://private.sited.com/secret/x"),
    ("http://sitec.com/", "http://sitea.com/p2"),   # dup discovery
    ("http://sitec.com/", "http://sitee.com/p1"),
    ("http://sitea.com/p1", "http://sitee.com/p2"),
    ("http://sitea.com/p1", "http://siteb.com/p2"),
    ("http://siteb.com/p1", "http://sitea.com/p3"),
    ("http://sitee.com/p1", "http://sitea.com/"),   # already seen
    # hosts the robots source leaves open: unnamed, and a null disallow
    ("http://sitec.com/", "http://norobots.com/p1"),
    ("http://sitea.com/", "http://nulldis.com/p1"),
    # spam cluster: heavy self-linking, no external in-degree
    ("http://spam.junk.com/a", "http://spam.junk.com/b"),
    ("http://spam.junk.com/b", "http://spam.junk.com/a"),
]

ROBOTS = {
    "sitea.com": ([], 1.0),
    "siteb.com": ([], 2.0),
    "sitec.com": ([], 0.0),
    "private.sited.com": (["/secret"], 0.0),
    "sitee.com": ([], 0.0),
    "nulldis.com": (None, 0.0),
}

CFG = dict(top_k=3, b_hi=4, b_lo=1, default_budget=2, min_delay_s=1.0)
N_BATCHES = 4


@pytest.fixture(scope="module")
def sim_result():
    return simulate(SEEDS, WEB_GRAPH, ROBOTS, N_BATCHES, SimConfig(**CFG))


def _build_loop(spark, tmpdir) -> CrawlLoop:
    store = TableStore(spark, str(tmpdir))
    pages = spark.createDataFrame(gen_pages(42, 60))
    links = spark.createDataFrame(WEB_GRAPH, ["src_url", "dst_url"])
    robots_src = spark.createDataFrame(
        [(h, d, c) for h, (d, c) in ROBOTS.items()],
        ["host", "disallow", "crawl_delay"],
    )
    cfg = CrawlConfig(salt_buckets=4, image_scale=60, **CFG)
    return CrawlLoop(spark, store, pages, links, robots_src, cfg)


def _engine_fetch_tuples(store):
    log = store.read("fetch_log")
    return {
        (r.batch, r.url, r.host, r.seq_in_host, r.planned_at_s)
        for r in log.collect()
    }


def _sim_fetch_tuples(sim):
    return {
        (e["batch"], e["url"], e["host"], e["seq_in_host"], e["planned_at_s"])
        for e in sim.fetch_log
    }


@pytest.fixture(scope="module")
def engine_run(spark, tmp_path_factory):
    loop = _build_loop(spark, tmp_path_factory.mktemp("crawl"))
    seeds = spark.createDataFrame([(u,) for u in SEEDS], ["url"])
    n = loop.ingest_seeds(seeds)
    assert n == 3  # sitea, siteb (dedup), sitec; ftp rejected
    stats = loop.run(N_BATCHES)
    return loop, stats


def test_url_seen_set_equivalence(spark, engine_run, sim_result):
    loop, _ = engine_run
    engine_seen = {
        r.url_hash for r in loop.store.read("url_seen").collect()
    }
    sim_seen = {h64(u) for u in sim_result.url_seen}
    assert engine_seen == sim_seen


def test_crawl_order_equivalence(spark, engine_run, sim_result):
    loop, _ = engine_run
    assert _engine_fetch_tuples(loop.store) == _sim_fetch_tuples(sim_result)


def test_batch_stats_equivalence(spark, engine_run, sim_result):
    _, stats = engine_run
    sim_b = {b["batch"]: b for b in sim_result.batches}
    for s in stats:
        if s.get("done"):
            continue
        assert s["rows_in"] == sim_b[s["batch"]]["rows_in"], s
        assert s["fetched"] == sim_b[s["batch"]]["fetched"], s


def test_robots_blocked_never_fetched(spark, engine_run):
    loop, _ = engine_run
    log = loop.store.read("fetch_log")
    assert log.filter(F.col("url").contains("/secret")).count() == 0


def test_robots_source_gaps_allow_all(spark, engine_run):
    """A host the static robots source does not name, or names with a
    null disallow, commits allow-all rules with no crawl delay, and its
    URLs are fetched."""
    loop, _ = engine_run
    rules = {r.host: r for r in loop.store.read("robots").collect()}
    for host in ("norobots.com", "nulldis.com"):
        r = rules[host]
        assert (r.allow, r.disallow, r.crawl_delay) == ([], [], 0.0), r
    fetched = {r.url for r in loop.store.read("fetch_log").collect()}
    assert {"http://norobots.com/p1", "http://nulldis.com/p1"} <= fetched


def test_resume_equivalence(spark, tmp_path_factory, engine_run, sim_result):
    """run(1..4) ≡ run(1..2); new loop instance (crash); run(3..4)."""
    loop_a, _ = engine_run
    tmp = tmp_path_factory.mktemp("crawl_resume")
    loop_b = _build_loop(spark, tmp)
    seeds = spark.createDataFrame([(u,) for u in SEEDS], ["url"])
    loop_b.ingest_seeds(seeds)
    loop_b.run(2)
    # crash: rebuild everything from disk
    loop_c = _build_loop(spark, tmp)
    assert loop_c.store.last_batch() == 2
    loop_c.run(N_BATCHES - 2)
    assert _engine_fetch_tuples(loop_c.store) == _engine_fetch_tuples(
        loop_a.store
    )
    seen_a = {r.url_hash for r in loop_a.store.read("url_seen").collect()}
    seen_c = {r.url_hash for r in loop_c.store.read("url_seen").collect()}
    assert seen_a == seen_c


def test_bloom_fastpath_equivalence(spark, tmp_path_factory, engine_run):
    """Full loop with the Bloom membership fast path on ≡ loop with it off
    (same fetch log, same url_seen set) — filters are physical only."""
    tmp = tmp_path_factory.mktemp("crawl_bloom")
    store = TableStore(spark, str(tmp / "store"))
    pages = spark.createDataFrame(gen_pages(42, 60))
    links = spark.createDataFrame(WEB_GRAPH, ["src_url", "dst_url"])
    robots_src = spark.createDataFrame(
        [(h, d, c) for h, (d, c) in ROBOTS.items()],
        ["host", "disallow", "crawl_delay"],
    )
    cfg = CrawlConfig(
        salt_buckets=4,
        image_scale=60,
        bloom_dir=str(tmp / "bloom"),
        **CFG,
    )
    loop_b = CrawlLoop(spark, store, pages, links, robots_src, cfg)
    seeds = spark.createDataFrame([(u,) for u in SEEDS], ["url"])
    loop_b.ingest_seeds(seeds)
    loop_b.run(N_BATCHES)

    loop_a, _ = engine_run
    assert _engine_fetch_tuples(loop_b.store) == _engine_fetch_tuples(
        loop_a.store
    )
    seen_a = {r.url_hash for r in loop_a.store.read("url_seen").collect()}
    seen_b = {r.url_hash for r in loop_b.store.read("url_seen").collect()}
    assert seen_a == seen_b
    # the sidecar files exist and cover every committed key (no false negs)
    from jirlbot_spark.operators.membership import bloom_probe

    probed = bloom_probe(
        loop_b.store.read("url_seen").select("url_hash"),
        cfg.bloom_dir,
        num_buckets=cfg.num_buckets,
    )
    assert probed.filter(~F.col("__maybe_seen")).count() == 0
    # ...and they are LIVE under the loop's own per-bucket contract (not
    # merely treated as absent): probing with _bucket_key_epochs — the
    # exact map the loop's DRUM probe uses — unseen keys whose bucket
    # has a file must get definite negatives
    bke = loop_b._bucket_key_epochs()
    assert bke, "store should have url_seen buckets"
    unseen = spark.range(50).select(
        (F.col("id") + 123_456_789_000).alias("url_hash")
    )
    neg = bloom_probe(
        unseen, cfg.bloom_dir, num_buckets=cfg.num_buckets,
        bucket_key_epochs=bke,
    )
    assert neg.filter(~F.col("__maybe_seen")).count() > 0
    # while an unattainable per-bucket requirement invalidates every
    # file ⇒ all maybe (the node-missed-batches degradation path)
    future = bloom_probe(
        unseen, cfg.bloom_dir, num_buckets=cfg.num_buckets,
        bucket_key_epochs={b: e + 1 for b, e in bke.items()},
        min_epoch=loop_b.store.last_batch() + 1,
    )
    assert future.filter(~F.col("__maybe_seen")).count() == 0


def test_compaction_preserves_crawl(spark, tmp_path, sim_result):
    """compact_every folds url_seen runs between batches without changing
    any crawl output (fetch log ≡ simulator, run count capped)."""
    import os

    loop = _build_loop(spark, tmp_path / "compact_store")
    loop.cfg.compact_every = 1
    seeds = spark.createDataFrame([(u,) for u in SEEDS], ["url"])
    loop.ingest_seeds(seeds)
    loop.run(N_BATCHES)
    assert _engine_fetch_tuples(loop.store) == _sim_fetch_tuples(sim_result)
    runs = loop.store.manifest()["tables"]["url_seen"]
    assert len(runs) <= 2  # one compacted run + at most the latest append
    assert any(r.startswith("compact_") for r in runs)
