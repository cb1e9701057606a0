"""Benchmark: frontier throughput (URLs scheduled+deduped/sec) + per-query
timings at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Prints ONE JSON line:
  {"metric": "frontier_urls_per_sec", "value": N, "unit": "urls/sec",
   "queries": {key: sec, ...}, "sf": 0.1, ...}

The headline pipeline is the engine's hot path end-to-end on a synthetic
dirty-URL frontier with a hot-PLD skew knob (JIRLBOT_BENCH_HOT_MOD;
default 20% of URLs on one PLD):
  canonicalize+murmur3 (fused Arrow kernel, mapInArrow)
  -> DRUM check_update_agg (in-batch first-arrival + shuffled-hash
     anti-join vs a bucket-partitioned seen table)
  -> STAR-budgeted BEAST admission (salted; JIRLBOT_BENCH_SALT)
  -> politeness schedule.

Every timing reports wall seconds next to `cpu_s`: user+system CPU
seconds of this process's whole tree (driver, Spark JVM, Python workers)
read from /proc by perfbench/proctree.py. Steal time is not CPU time, so
`cpu_s` stays put when a shared host slows the wall clock down.

Modes:
  python bench.py                 # driver mode: headline + query timings
  python bench.py --frontier-only # one pipeline run, JSON (used by --scaling)
  python bench.py --scaling       # N vs 4N cores (JIRLBOT_SCALING_CORES,
                                  # default 8,32): median efficiency of
                                  # JIRLBOT_SCALING_PAIRS interleaved
                                  # pairs, appended to BENCH/BASELINE.md
                                  # (JIRLBOT_SCALING_OVERWRITE=1 rewrites
                                  # the file instead)
  python bench.py --loop          # full crawl loop pages/s, incl. the
                                  # per-batch payload-verify stage
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import statistics
import sys
import tempfile
import time
from functools import partial
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from perfbench.proctree import tree_cpu_s  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
N_URLS = int(os.environ.get("JIRLBOT_BENCH_N", "8000000"))
# Table writes land on node-local tmpfs for the same reason shuffle does
# (see session.py): a real cluster writes tables to storage whose aggregate
# bandwidth scales with the cluster (HDFS/S3/per-node disks), while this
# one-box sandbox has a single ~0.6 GB/s shared disk that would serialize
# every write stage and cap measured scaling at the disk, not the engine.
_BENCH_TMP = os.environ.get("JIRLBOT_BENCH_TMP") or (
    "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
)
# JIRLBOT_BENCH_TMP: point table writes at real disk for runs whose
# working set would crowd tmpfs out of the 126 GiB it shares with the
# JVM (e.g. the 10^9-URL scale-up) — throughput then reports the
# disk-backed number, stated as such.


def _mkworkdir(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=_BENCH_TMP)


N_PLDS = 50_000
# id % HOT_FRACTION_MOD == 0 -> hot PLD. 5 = 20% of all URLs on ONE pld
# (the default skew); 0 disables the hot PLD; 2 = 50% (stress).
HOT_FRACTION_MOD = int(os.environ.get("JIRLBOT_BENCH_HOT_MOD", "5"))

BENCH_QUERY_KEYS = [
    "urlseen_dedup",
    "beast_enforce",
    "pld_indegree",
    "star_budget",
    "politeness_schedule",
    "topk_frontier",
    "metrics_agg",
    "link_explode",
    "dedup_exact",
    "dedup_minhash",
    "dedup_embed",
    "ann_topk",
    "json_props",
    "image_verify",
    "image_verify_lossy",
    # round-3 additions (purely additive — prior keys stay comparable
    # across rounds): the new curation operators' measured cost
    "dedup_lines",
    "dedup_substrings",
    "dsir_weights",
    "lm_perplexity",
    "dedup_semantic",
    "url_filter",
    "quality_classify",
    "dedup_text_groups",
    "aspect_batch",
    "image_scrub",
    "phash_blocklist",
    "recrawl_schedule",
    # round-5 addition (additive): the simhash candidate join now runs
    # through the hot-bucket bound — keep its cost visible
    "dedup_simhash",
]


def build_frontier(spark, n: int):
    """Deterministic dirty-URL frontier, built JVM-side (spark.range)."""
    from pyspark.sql import functions as F

    uniform = F.col("id") % N_PLDS
    pld_idx = (
        uniform
        if HOT_FRACTION_MOD <= 0
        else F.when(F.col("id") % HOT_FRACTION_MOD == 0, F.lit(0)).otherwise(
            uniform
        )
    )
    # every URL is dirty (case, default port, fragment); 10% also carry
    # dot segments — representative of a real frontier, still exercises
    # every canonicalization branch
    # host = subNN.siteP.com -> PLD = siteP.com (N_PLDS distinct PLDs,
    # pld 0 hot); the sub label varies hosts within a PLD
    args = (
        (F.col("id") % 13).cast("int"),
        pld_idx.cast("int"),
        F.col("id").cast("int"),
        (F.col("id") % 97).cast("int"),
    )
    url = F.when(
        F.col("id") % 10 == 0,
        F.format_string(
            "HTTP://Sub%d.Site%d.COM:80/a/../page/%d?x=%d#frag", *args
        ),
    ).otherwise(
        F.format_string(
            "HTTP://Sub%d.Site%d.COM:80/page/%d?x=%d#frag", *args
        )
    )
    return spark.range(n).select(
        F.col("id"), url.alias("url"), (F.col("id") % 3).cast("double").alias("priority")
    )


def prepare_urls(df):
    from jirlbot_spark.functions.prepare import prepare_urls_fused

    return prepare_urls_fused(df, "url", None, keep=("id", "priority"))


# Multi-pass bucket-range dedup (the DRUM sequential-bucket move): with
# JIRLBOT_BENCH_RANGES=R > 1, the dedup exchange and the budget/schedule
# stages each run as R sequential passes over disjoint key ranges, so
# LIVE shuffle storage is bounded by one range's footprint instead of the
# whole frontier's. That is what the 10^9 one-box attempt died on
# (SCALE.md addendum 4: ~90 GB of dedup shuffle on tmpfs + 36 GB JVM >
# the 126 GiB they share); a cluster scales shuffle storage with N
# per-node disks, one box cannot. Exactness: phase-2 ranges partition on
# the DEDUP key (url_hash bucket), so every duplicate pair lands in one
# pass; phase-3 ranges partition on pld_hash, and a host belongs to
# exactly one PLD, so each BEAST ranking and each per-host politeness
# window is entirely inside one pass. STAR budgets stay GLOBAL (one
# map-side-combined aggregate whose shuffle carries (pld, count)
# partials — tiny at any scale).
N_RANGES = int(os.environ.get("JIRLBOT_BENCH_RANGES", "1"))


def _reclaim_shuffle(spark) -> None:
    """Between ranged passes: drop references and nudge both GCs so the
    ContextCleaner deletes the finished pass's shuffle files before the
    next pass writes its own — the storage bound the ranged mode exists
    for."""
    import gc

    gc.collect()
    spark._jvm.System.gc()


def run_frontier_pipeline(
    spark, n: int, workdir: str, n_ranges: int | None = None
) -> dict:
    from pyspark.sql import functions as F

    from jirlbot_spark.operators.beast import beast_enforce, split_admitted
    from jirlbot_spark.operators.dedup import check_update_agg
    from jirlbot_spark.operators.politeness import politeness_schedule
    from jirlbot_spark.operators.star import star_budgets_scalable
    from jirlbot_spark.session import materialize

    timings = {}
    cpu0 = tree_cpu_s(os.getpid())

    # phase 1: canonicalize + key the frontier; persist like a real batch
    t0 = time.time()
    prepared = prepare_urls(build_frontier(spark, n))
    # downstream needs url (fetch), the three keys, and scheduling cols;
    # host/pld strings stay out of the wide shuffle+write path
    prepared = prepared.select(
        "url", "url_hash", "host_hash", "pld_hash", "id", "priority"
    )
    prepared_path = os.path.join(workdir, "prepared")
    prepared.write.mode("overwrite").parquet(prepared_path)
    prepared = spark.read.parquet(prepared_path)
    timings["prepare_s"] = time.time() - t0

    # seen table: 25% of keys, bucket-partitioned like url_seen
    t0 = time.time()
    seen = prepared.filter(F.col("id") % 4 == 0).select(
        "url_hash", F.pmod("url_hash", F.lit(32)).cast("int").alias("bucket")
    )
    seen_path = os.path.join(workdir, "url_seen")
    seen.repartition(F.col("bucket")).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(seen_path)
    seen = spark.read.parquet(seen_path)
    timings["seen_build_s"] = time.time() - t0

    # phase 2: DRUM check_update (in-batch first-arrival agg + shuffled-
    # hash anti-join, no Window — see check_update_agg); the unique set
    # is committed to the table store like the real loop's atomic batch
    # commit, so phase 3 reads it instead of recomputing the join chain.
    # Ranged mode (N_RANGES > 1) runs it as sequential bucket-range
    # passes — dedup key ranges are exact (every duplicate pair shares a
    # bucket) and live shuffle stays at one range's footprint.
    t0 = time.time()
    fresh_path = os.path.join(workdir, "fresh")
    if n_ranges is None:
        n_ranges = N_RANGES
    if n_ranges > 1:
        assert 32 % n_ranges == 0, "ranges must divide the 32 buckets"
        per = 32 // n_ranges
        for r in range(n_ranges):
            lo, hi = r * per, (r + 1) * per - 1
            sub = prepared.filter(
                F.pmod("url_hash", F.lit(32)).between(lo, hi)
            )
            seen_r = seen.filter(F.col("bucket").between(lo, hi))
            fresh_r, _uniq = check_update_agg(
                sub, seen_r, key_col="url_hash", order_col="id"
            )
            fresh_r.write.mode("append").parquet(fresh_path)
            del sub, seen_r, fresh_r, _uniq
            _reclaim_shuffle(spark)
    else:
        fresh, uniques = check_update_agg(
            prepared, seen, key_col="url_hash", order_col="id"
        )
        fresh.write.mode("overwrite").parquet(fresh_path)
    fresh = spark.read.parquet(fresh_path)
    n_unique = fresh.count()
    timings["dedup_s"] = time.time() - t0

    # phase 3: STAR budgets (synthetic indegree), salted BEAST admission,
    # politeness schedule. Budgets stay GLOBAL in ranged mode (small
    # map-side-combined agg, materialized once); BEAST + politeness range on
    # pld_hash — a host belongs to one PLD, so every ranking and every
    # per-host window is whole inside its pass.
    t0 = time.time()
    salt = int(os.environ.get("JIRLBOT_BENCH_SALT", "16"))
    # one row per PLD (N_PLDS, tiny) — materialize so the budget
    # operator's two references don't each re-aggregate the
    # frontier-sized fresh table
    deg = materialize(
        fresh.groupBy("pld_hash").agg(F.count("*").alias("indegree")),
        "bench-indegree",
    )
    # the SHIPPED operator (the loop + driver key run star_budgets_scalable;
    # the all-PLD single-window formulation lives only in
    # tests/star_reference.py as its property-test reference) — the
    # headline must measure the path the engine actually ships
    budgets = star_budgets_scalable(
        deg, top_k=10_000, b_hi=10_000, b_lo=10
    ).select("pld_hash", "budget")
    if n_ranges > 1:
        budgets = materialize(budgets, "bench-budgets")  # reused per pass
        n_admitted = 0
        for r in range(n_ranges):
            subf = fresh.filter(F.pmod("pld_hash", F.lit(n_ranges)) == r)
            enforced = beast_enforce(
                subf.withColumn("enqueue_batch", F.lit(0)),
                budgets,
                salt_buckets=salt,
            )
            admitted, _deferred = split_admitted(enforced)
            sched = politeness_schedule(
                admitted, host_col="host_hash", min_delay_s=1.0
            )
            n_admitted += sched.count()
            del subf, enforced, admitted, _deferred, sched
            _reclaim_shuffle(spark)
    else:
        enforced = beast_enforce(
            fresh.withColumn("enqueue_batch", F.lit(0)),
            budgets,
            salt_buckets=salt,
        )
        admitted, _deferred = split_admitted(enforced)
        sched = politeness_schedule(
            admitted, host_col="host_hash", min_delay_s=1.0
        )
        n_admitted = sched.count()
    timings["schedule_s"] = time.time() - t0

    wall = sum(timings.values())
    return {
        "n_urls": n,
        "n_unique": n_unique,
        "n_admitted": n_admitted,
        "n_ranges": n_ranges,
        "timings": timings,
        "wall_s": wall,
        "cpu_s": tree_cpu_s(os.getpid()) - cpu0,
        "urls_per_sec": n / wall,
    }


def run_loop_bench(spark, n_sites: int = 2000, n_batches: int = 4) -> dict:
    """Full crawl-loop throughput (pages fetched/sec through EVERY stage:
    BEAST admit -> robots gate -> politeness -> fetch -> payload verify ->
    link extract -> DRUM dedup -> atomic commit -> STAR refresh).

    Directly comparable to the reference baseline's crawl rate
    (BASELINE.md: IRLbot averaged ~1,789 pages/s on one 2007-era server,
    network-bound; this engine's fetch is table-backed, so the number
    isolates the scheduling/dedup machinery's ceiling).

    Synthetic web: n_sites hosts, ~8 outlinks per fetched page (JVM-
    generated), permissive robots + budgets so the frontier grows
    geometrically across n_batches.
    """
    import tempfile as _tf

    from pyspark.sql import functions as F

    from jirlbot_spark.plans.loop import CrawlConfig, CrawlLoop
    from jirlbot_spark.sources.fixtures import gen_pages
    from jirlbot_spark.sources.storage import TableStore

    wd = _mkworkdir("bench_loop_")
    store = TableStore(spark, os.path.join(wd, "store"))
    sites = spark.range(n_sites).select(
        F.format_string("site%d.com", F.col("id").cast("int")).alias("host")
    )
    seeds = sites.select(
        F.format_string("http://%s/", "host").alias("url")
    )
    # URL space: n_sites roots + n_sites*n_paths pages; every page links
    # to 8 pseudo-random pages of other sites, so the reachable set grows
    # geometrically from the roots until it saturates the space
    n_paths = 50
    pg = spark.range(n_sites * n_paths).select(
        (F.col("id") % n_sites).alias("s"),
        (F.col("id") / n_sites).cast("long").alias("p"),
    )
    links = None
    for j in range(8):
        root_e = spark.range(n_sites).select(
            F.format_string(
                "http://site%d.com/", F.col("id").cast("int")
            ).alias("src_url"),
            F.format_string(
                "http://site%d.com/p%d",
                ((F.col("id") * 2654435761 + j * 40503) % n_sites).cast("int"),
                ((F.col("id") + j * 7) % n_paths).cast("int"),
            ).alias("dst_url"),
        )
        mix = F.xxhash64(F.col("s"), F.col("p"), F.lit(j))
        page_e = pg.select(
            F.format_string(
                "http://site%d.com/p%d",
                F.col("s").cast("int"),
                F.col("p").cast("int"),
            ).alias("src_url"),
            F.format_string(
                "http://site%d.com/p%d",
                F.pmod(mix, F.lit(n_sites)).cast("int"),
                F.pmod(F.shiftright(mix, 20), F.lit(n_paths)).cast("int"),
            ).alias("dst_url"),
        )
        both = root_e.unionByName(page_e)
        links = both if links is None else links.unionByName(both)
    robots = sites.select(
        "host",
        F.array().cast("array<string>").alias("disallow"),
        F.lit(0.0).alias("crawl_delay"),
    )
    pages = spark.createDataFrame(gen_pages(42, 500))
    cfg = CrawlConfig(
        top_k=1000, b_hi=5000, b_lo=50, default_budget=5000,
        salt_buckets=8, image_scale=500,
        bloom_dir=(
            os.path.join(wd, "bloom")
            if os.environ.get("JIRLBOT_LOOP_BLOOM") == "1"
            else None
        ),
        compact_every=(
            int(os.environ["JIRLBOT_LOOP_COMPACT"])
            if os.environ.get("JIRLBOT_LOOP_COMPACT")
            else None
        ),
    )
    loop = CrawlLoop(spark, store, pages, links, robots, cfg)
    cpu0, t0 = tree_cpu_s(os.getpid()), time.time()
    loop.ingest_seeds(seeds)
    stats = loop.run(n_batches)
    wall = time.time() - t0
    cpu = tree_cpu_s(os.getpid()) - cpu0
    fetched = sum(st.get("fetched", 0) for st in stats)
    shutil.rmtree(wd, ignore_errors=True)
    return {
        "pages_fetched": fetched,
        "batches": len(stats),
        "wall_s": round(wall, 2),
        "cpu_s": round(cpu, 2),
        "pages_per_sec": round(fetched / wall, 1),
        "per_batch_fetched": [st.get("fetched", 0) for st in stats],
    }


def warmup_pipeline(spark) -> None:
    """One throwaway pass so timed runs measure steady-state throughput.

    A crawler is a long-running loop; the first Spark job in a fresh JVM
    pays one-time JIT + codegen + Python-worker spin-up costs (~25s on this
    box) that amortize to zero over a real crawl. Timing after one warmup
    pass reports the sustained rate the metric actually asks for."""
    wd = _mkworkdir("bench_warmup_")
    try:
        run_frontier_pipeline(
            spark, min(max(N_URLS // 4, 10_000), 2_000_000), wd
        )
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def frontier_only_main() -> None:
    from jirlbot_spark.session import get_spark

    master = os.environ.get("SPARK_MASTER", f"local[{CPUS}]")
    spark = get_spark(app_name="bench-frontier", master=master)
    workdir = _mkworkdir("bench_frontier_")
    try:
        warmup_pipeline(spark)
        res = run_frontier_pipeline(spark, N_URLS, workdir)
        res["master"] = master
        print(json.dumps(res))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


def time_forced(build) -> tuple[float, float]:
    """(wall_s, cpu_s) of building the DataFrame `build()` returns and
    writing it to Spark's noop sink.

    A write keeps every projected column, so the joins, windows and
    Python UDFs the plan names all run; `count()` lets Catalyst prune
    them. `build` is called inside the clocks because some keys do eager
    work (a materialized intermediate, a collected sample) while they
    build their frame."""
    pid = os.getpid()
    cpu0, t0 = tree_cpu_s(pid), time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, tree_cpu_s(pid) - cpu0


def run_query_timings(
    spark, deadline: float | None = None
) -> tuple[dict[str, float], dict[str, dict]]:
    """Per-key timings: each key runs JIRLBOT_BENCH_QUERY_REPEATS times
    (default 3) and reports the fastest wall time; the detail dict keeps
    every run's wall (`s`) and tree CPU (`cpu_s`) seconds."""
    import __spark_entry__ as entrymod

    repeats = max(1, int(os.environ.get("JIRLBOT_BENCH_QUERY_REPEATS", "3")))
    qs = entrymod.queries()
    out: dict[str, float] = {}
    detail: dict[str, dict] = {}
    for key in BENCH_QUERY_KEYS:
        fn = qs[key]
        # past the deadline, one run per remaining key (never zero —
        # a missing key would look like a dropped operator)
        past = deadline is not None and time.time() > deadline
        runs = []
        for _ in range(1 if past else repeats):
            wall, cpu = time_forced(partial(fn, spark, SF_DIR))
            runs.append({"s": round(wall, 3), "cpu_s": round(cpu, 3)})
        out[key] = min(r["s"] for r in runs)
        detail[key] = {"runs": runs}
    return out, detail


def run_frontier_headline(
    spark, deadline: float | None = None
) -> tuple[dict, list[dict]]:
    """Best of JIRLBOT_BENCH_FRONTIER_REPEATS (default 3) frontier runs.

    Each attempt carries its wall and tree CPU seconds plus one-shot host
    stamps: an all-core cpu probe before and after the run and an 8-proc
    triad memory-bandwidth stamp after it. Every attempt appears in the
    JSON artifact, so a slow host window is visible rather than silently
    averaged in; past `deadline` no further attempt starts."""
    repeats = max(
        1, int(os.environ.get("JIRLBOT_BENCH_FRONTIER_REPEATS", "3"))
    )
    attempts: list[dict] = []
    best: dict | None = None
    for _ in range(repeats):
        if best is not None and deadline is not None and time.time() > deadline:
            break
        pre = cpu_probe(1.0)
        workdir = _mkworkdir("bench_frontier_")
        try:
            res = run_frontier_pipeline(spark, N_URLS, workdir)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
        res["cpu_probe_pre"] = round(pre)
        res["cpu_probe_post"] = round(cpu_probe(1.0))
        res["membw_gbs"] = round(membw_probe(8, 1.5), 1)
        attempts.append(
            {
                "urls_per_sec": round(res["urls_per_sec"], 1),
                "wall_s": round(res["wall_s"], 2),
                "cpu_s": round(res["cpu_s"], 2),
                "timings": {
                    k: round(v, 2) for k, v in res["timings"].items()
                },
                "cpu_probe_pre": res["cpu_probe_pre"],
                "cpu_probe_post": res["cpu_probe_post"],
                "membw_gbs": res["membw_gbs"],
            }
        )
        if best is None or res["urls_per_sec"] > best["urls_per_sec"]:
            best = res
    assert best is not None
    return best, attempts


def driver_main() -> None:
    from jirlbot_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{CPUS}]")
    try:
        # hard wall-clock budget for the whole driver-mode run: repeats
        # must never push past an outer harness timeout and lose the
        # JSON line entirely
        t0 = time.time()
        budget = float(os.environ.get("JIRLBOT_BENCH_DEADLINE_S", "480"))
        warmup_pipeline(spark)
        frontier, attempts = run_frontier_headline(
            spark, deadline=t0 + budget * 0.6
        )
        # ranged-mode reproducibility artifact (r4 verdict #8): the
        # sequential bucket-range scale mode (JIRLBOT_BENCH_RANGES, the
        # 10^9 one-box move) must be reproducible by the harness, not
        # only by a builder session. Runs at a QUARTER of the headline
        # scale (r5 review: a full-N ranged pass in a degraded window
        # could blow the hard deadline the budget machinery promises);
        # the exactness flag therefore compares against a same-N
        # unranged twin rather than the headline. Both runs are small
        # and a deadline check sits between them.
        ranged = None
        if time.time() < t0 + budget * 0.45:
            n_r = min(N_URLS, max(1_000_000, N_URLS // 4))
            wd = _mkworkdir("bench_frontier_ranged_")
            try:
                r = run_frontier_pipeline(spark, n_r, wd, n_ranges=4)
            finally:
                shutil.rmtree(wd, ignore_errors=True)
            base = None
            if n_r == N_URLS:
                base = frontier
            elif time.time() < t0 + budget * 0.55:
                wd2 = _mkworkdir("bench_frontier_rtwin_")
                try:
                    base = run_frontier_pipeline(
                        spark, n_r, wd2, n_ranges=1
                    )
                finally:
                    shutil.rmtree(wd2, ignore_errors=True)
            ranged = {
                "n_urls": n_r,
                "n_ranges": r["n_ranges"],
                "urls_per_sec": round(r["urls_per_sec"], 1),
                "wall_s": round(r["wall_s"], 2),
                "cpu_s": round(r["cpu_s"], 2),
                "n_unique": r["n_unique"],
                "n_admitted": r["n_admitted"],
                # None when the deadline left no room for the twin
                "matches_unranged": (
                    None
                    if base is None
                    else (
                        r["n_unique"] == base["n_unique"]
                        and r["n_admitted"] == base["n_admitted"]
                    )
                ),
            }
        queries, query_detail = run_query_timings(
            spark, deadline=t0 + budget
        )
        sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
        try:
            sf_val = float(sf)
        except ValueError:
            sf_val = sf
        print(
            json.dumps(
                {
                    "metric": "frontier_urls_per_sec",
                    "value": round(frontier["urls_per_sec"], 1),
                    "unit": "urls/sec",
                    "queries": queries,
                    "query_detail": query_detail,
                    "sf": sf_val,
                    "frontier": {
                        "n_urls": frontier["n_urls"],
                        "n_unique": frontier["n_unique"],
                        "n_admitted": frontier["n_admitted"],
                        "wall_s": round(frontier["wall_s"], 2),
                        "cpu_s": round(frontier["cpu_s"], 2),
                        # host-health context (documented ~4x CPU swings):
                        # healthy windows probe ~250+ M ops/s
                        "cpu_probe_pre": frontier["cpu_probe_pre"],
                        "cpu_probe_post": frontier["cpu_probe_post"],
                        # 8-proc triad stamp; this host's DRAM bandwidth
                        # is bimodal ~29/112 GB/s (SCALE.md)
                        "membw_gbs": frontier["membw_gbs"],
                        "timings": {
                            k: round(v, 2)
                            for k, v in frontier["timings"].items()
                        },
                        # every attempt, incl. slow-window ones the
                        # best-of picked over
                        "attempts": attempts,
                        # one ranged-mode pass (scale mode, r4 verdict
                        # #8); None if the deadline left no room
                        "ranged": ranged,
                    },
                }
            )
        )
    finally:
        spark.stop()


def cpu_probe(seconds: float = 2.0) -> float:
    """Aggregate integer-op throughput (M ops/s) across all cores: a
    one-shot stamp of how fast the host is around a run (a shared VM's
    CPU speed has been seen to swing ~4x over minutes)."""
    return _burn_aggregate(os.cpu_count() or 32, seconds)


def _burn_mops(q, secs):
    t0 = time.time()
    x = 0
    n = 0
    while time.time() - t0 < secs:
        for _ in range(100_000):
            x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        n += 100_000
    q.put(n)


def _burn_aggregate(nproc: int, seconds: float) -> float:
    import multiprocessing as mp

    q = mp.Queue()
    ps = [
        mp.Process(target=_burn_mops, args=(q, seconds)) for _ in range(nproc)
    ]
    for p in ps:
        p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return total / seconds / 1e6


def membw_probe(nproc: int, seconds: float = 2.0, mb: int = 256) -> float:
    """Aggregate DRAM bandwidth (GB/s) of up to `nproc` concurrent numpy
    triads, one per core at most: a one-shot stamp, since the frontier
    kernels are streaming passes over columnar buffers and a shared host's
    bandwidth has been seen to be bimodal (~29 vs ~112 GB/s, SCALE.md)."""
    import multiprocessing as mp

    import numpy as np

    def triad(q, secs):
        n = mb * 1024 * 1024 // 8
        a = np.ones(n)
        b = np.ones(n)
        c = np.empty(n)
        np.multiply(b, 2.0, out=c)  # touch every page before timing
        it = 0
        t0 = time.time()
        while time.time() - t0 < secs:
            np.multiply(b, 2.0, out=c)
            np.add(c, a, out=c)  # 2 reads + 2 r/w per element, no allocs
            it += 1
        dt = time.time() - t0
        q.put(5 * 8 * n * it / dt)

    q = mp.Queue()
    nproc = min(nproc, os.cpu_count() or 1)
    ps = [mp.Process(target=triad, args=(q, seconds)) for _ in range(nproc)]
    for p in ps:
        p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return total / 1e9


def _run_frontier_subprocess(cores: int, n_urls: int) -> dict:
    """One `--frontier-only` trial at `cores` in a fresh subprocess."""
    env = dict(os.environ)
    tmpl = os.environ.get("JIRLBOT_SCALING_MASTER_TMPL")
    if tmpl:
        # executor mode: `cores` counts EXECUTORS and the template names
        # the master, e.g. local-cluster[{n},1,6144] — N separate
        # executor JVMs (real Netty shuffle fetches + per-executor
        # Python workers + the shipped py-files zip), the closest one
        # box gets to the north rule's N-vs-4N-executor cluster.
        cpe = int(os.environ.get("JIRLBOT_SCALING_CORES_PER_EXEC", "1"))
        env["SPARK_MASTER"] = tmpl.format(n=cores)
        env["SPARK_SHUFFLE_PARTITIONS"] = str(max(cores * cpe * 2, 16))
        # executor JVM heap must fit the template's per-worker MB (the
        # default 1g would waste the worker allocation); only added when
        # the user's JIRLBOT_SPARK_CONF didn't set it, since last-write
        # wins in parse_env_conf and appending would clobber theirs.
        mem = os.environ.get("JIRLBOT_SCALING_EXEC_MEM", "4g")
        prior = env.get("JIRLBOT_SPARK_CONF", "")
        if "spark.executor.memory" not in prior:
            env["JIRLBOT_SPARK_CONF"] = (
                f"{prior};spark.executor.memory={mem}" if prior
                else f"spark.executor.memory={mem}"
            )
    else:
        env["SPARK_MASTER"] = f"local[{cores}]"
        env["SPARK_SHUFFLE_PARTITIONS"] = str(max(cores * 2, 16))
    env["JIRLBOT_BENCH_N"] = str(n_urls)
    # run() kills the trial if it outlives the timeout
    out = subprocess.run(
        [sys.executable, __file__, "--frontier-only"],
        capture_output=True,
        text=True,
        env=env,
        timeout=3600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(
            f"--frontier-only at {cores} exited {out.returncode} with no "
            f"result line; stderr tail:\n{out.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def scaling_main() -> None:
    """Same job, same input, N vs 4N cores (BASELINE.md protocol).

    Runs JIRLBOT_SCALING_PAIRS (default 3) interleaved (lo, hi) trials,
    each in a fresh subprocess that does one warmup pass before its timed
    run, so numbers are steady-state. The verdict is the median of the
    pairs' efficiencies. Every run reports wall and tree CPU seconds and
    their ratio to the cores it had (`cpu_util`): a contended window
    shows up as low utilization, not as a silent gap."""
    pairs = int(os.environ.get("JIRLBOT_SCALING_PAIRS", "3"))
    # scaling runs use a larger frontier than driver mode: the serial
    # fraction (job scheduling, commit protocol, session fixed costs,
    # ~2-3 s/run) must be amortized for the parallel fraction to show —
    # Amdahl, not tuning. Runtime stays inside the 1-5 min protocol window.
    n_urls = int(os.environ.get("JIRLBOT_SCALING_N", str(4 * N_URLS)))
    lo, hi = (
        int(c)
        for c in os.environ.get("JIRLBOT_SCALING_CORES", "8,32").split(",")
    )
    factor = hi / lo
    # executor mode (JIRLBOT_SCALING_MASTER_TMPL, e.g.
    # local-cluster[{n},1,6144]): lo/hi count EXECUTOR JVMs of
    # JIRLBOT_SCALING_CORES_PER_EXEC cores each, not local threads
    tmpl = os.environ.get("JIRLBOT_SCALING_MASTER_TMPL")
    cpe = (
        int(os.environ.get("JIRLBOT_SCALING_CORES_PER_EXEC", "1"))
        if tmpl
        else 1
    )

    def label(c: int) -> str:
        return tmpl.format(n=c) if tmpl else f"local[{c}]"

    trials = []
    for i in range(pairs):
        pair = {}
        for cores in (lo, hi):
            res = _run_frontier_subprocess(cores, n_urls)
            res["cpu_util"] = res["cpu_s"] / (res["wall_s"] * cores * cpe)
            pair[cores] = res
            print(
                f"pair {i} {label(cores)}: {res['urls_per_sec']:.0f} urls/s "
                f"(wall {res['wall_s']:.2f} s, cpu {res['cpu_s']:.2f} s, "
                f"util {res['cpu_util']:.2f})",
                flush=True,
            )
        pair["efficiency"] = (
            pair[hi]["urls_per_sec"] / pair[lo]["urls_per_sec"]
        ) / factor
        trials.append(pair)

    effs = [round(t["efficiency"], 3) for t in trials]
    verdict = statistics.median(t["efficiency"] for t in trials)

    def runs(c: int) -> list[dict]:
        return [
            {
                **{
                    k: round(t[c][k], 3)
                    for k in ("urls_per_sec", "wall_s", "cpu_s", "cpu_util")
                },
                "timings": {
                    k: round(v, 2) for k, v in t[c]["timings"].items()
                },
            }
            for t in trials
        ]

    report = {
        "n_urls": n_urls,
        "cores": [lo, hi],
        f"throughput_{lo}": round(
            statistics.median(t[lo]["urls_per_sec"] for t in trials), 1
        ),
        f"throughput_{hi}": round(
            statistics.median(t[hi]["urls_per_sec"] for t in trials), 1
        ),
        "efficiency": round(verdict, 3),
        "interleaved_pair_efficiencies": effs,
        f"runs_{lo}": runs(lo),
        f"runs_{hi}": runs(hi),
        "masters": [label(lo), label(hi)],
    }
    print(json.dumps(report))
    os.makedirs("BENCH", exist_ok=True)
    rows = "\n".join(
        f"| {i} | {t[lo]['urls_per_sec']:,.0f} | {t[lo]['wall_s']:.2f} "
        f"| {t[lo]['cpu_s']:.2f} | {t[lo]['cpu_util']:.2f} "
        f"| {t[hi]['urls_per_sec']:,.0f} | {t[hi]['wall_s']:.2f} "
        f"| {t[hi]['cpu_s']:.2f} | {t[hi]['cpu_util']:.2f} "
        f"| {t['efficiency']:.3f} |"
        for i, t in enumerate(trials)
    )
    exec_note = (
        (
            f"EXECUTOR MODE: lo/hi count separate executor JVMs "
            f"({cpe} core(s) each) under Spark's local-cluster manager — "
            f"real Netty shuffle fetches between executor processes, "
            f"per-executor Python workers, and the package arriving via "
            f"the shipped py-files zip, i.e. the spark-submit execution "
            f"path of the north rule, minus only physical NICs.\n\n"
        )
        if tmpl
        else ""
    )
    section = (
        f"## {label(lo)} vs {label(hi)} — {n_urls:,} URLs\n\n"
        f"{exec_note}"
        f"{pairs} interleaved ({lo}, {hi}) pairs, no gates and no waits. "
        f"Each run reports wall seconds, `cpu` = user+system CPU seconds "
        f"of its whole process tree (driver, JVM, Python workers; read "
        f"from /proc, steal time excluded) and `util` = cpu / (wall × "
        f"cores). A run in a contended host window shows up as low "
        f"utilization next to its throughput. JVM GC and JIT threads run "
        f"beside the task threads, so util can exceed 1 at a small core "
        f"count.\n\n"
        f"| pair | thr@{lo} (urls/s) | wall@{lo} | cpu@{lo} | util@{lo} "
        f"| thr@{hi} (urls/s) | wall@{hi} | cpu@{hi} | util@{hi} "
        f"| efficiency |\n"
        "| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |\n"
        f"{rows}\n\n"
        f"**Scaling efficiency** (median of the pairs' "
        f"(thr_{hi}/thr_{lo})/{factor:g}) = **{verdict:.3f}** "
        f"(target >= 0.8 per north rule); pairs: {effs}.\n"
    )
    header = (
        "# BENCH — scaling evidence (same job, same input, N vs 4N cores)\n\n"
        "Protocol per BASELINE.md: the frontier pipeline (canonicalize → "
        "murmur3 → DRUM dedup vs 25%-populated seen table → salted BEAST "
        "admission → politeness schedule) on a deterministic dirty-URL "
        "frontier with 20% hot-PLD skew, run at two parallelism levels. "
        "Steady-state timing (one warmup pass per trial amortizes JVM JIT "
        "+ Python worker spin-up, as in a long-running crawl). All trials "
        "are shown.\n\n"
        "Shuffle goes to node-local tmpfs (`spark.local.dir=/dev/shm/...`):"
        " a multi-executor cluster shuffles to per-node disks whose "
        "aggregate bandwidth scales with the cluster, while this one-box "
        "sandbox has a single shared disk that would serialize "
        "shuffle-heavy stages and misattribute the bottleneck.\n\n"
    )
    path = "BENCH/BASELINE.md"
    # APPEND-ONLY by default: the file is the cumulative scaling record
    # across rounds and its protocol text promises "All trials are
    # shown"; rewriting it requires JIRLBOT_SCALING_OVERWRITE=1.
    if os.path.exists(path) and os.environ.get(
        "JIRLBOT_SCALING_OVERWRITE"
    ) != "1":
        with open(path, "a") as f:
            f.write("\n" + section)
    else:
        with open(path, "w") as f:
            f.write(header + section)


def loop_main() -> None:
    """Full crawl-loop pages/s (one JSON line). Separate from driver mode
    because the geometric frontier growth takes minutes at the scale
    where per-batch orchestration overhead amortizes (a traced 50-site
    batch runs ~50 Spark jobs: robots gating, fetch and verify, link
    dedup, metrics, the atomic commit)."""
    from jirlbot_spark.session import get_spark

    spark = get_spark(
        app_name="bench-loop", master=f"local[{CPUS}]"
    )
    n_sites = int(os.environ.get("JIRLBOT_LOOP_SITES", "20000"))
    n_batches = int(os.environ.get("JIRLBOT_LOOP_BATCHES", "5"))
    # one-shot host stamps around the run (as in the frontier headline);
    # cpu_s in the result is the tree's CPU time
    pre = cpu_probe(1.0)
    bw_pre = membw_probe(8, 1.5)
    res = run_loop_bench(spark, n_sites=n_sites, n_batches=n_batches)
    res["metric"] = "loop_pages_per_sec"
    res["cpu_probe_pre"] = round(pre)
    res["cpu_probe_post"] = round(cpu_probe(1.0))
    res["membw_gbs_pre"] = round(bw_pre, 1)
    res["membw_gbs_post"] = round(membw_probe(8, 1.5), 1)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    if "--frontier-only" in sys.argv:
        frontier_only_main()
    elif "--scaling" in sys.argv:
        scaling_main()
    elif "--loop" in sys.argv:
        loop_main()
    else:
        driver_main()
