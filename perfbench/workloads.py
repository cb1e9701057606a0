"""The benchmark's workloads: seeded inputs, the timed batch, its checks.

Each workload generates its inputs from the seed during set-up and hands
the program only the generated frames. A batch is one closed-loop
operation: the harness submits the next one when the previous one has
committed its output. Every batch's output is checked against a
reference that does not come from the engine under test.

    frontier     dirty URLs -> prepare -> DRUM check_update -> STAR ->
                 BEAST -> politeness, against a prebuilt url_seen
    crawl_loop   one `CrawlLoop.run_batch` on a seeded synthetic web,
                 restored from a snapshot so every batch sees the same
                 store
    curate_text  MinHash text_dup_groups -> survivors -> curate_corpus
"""

from __future__ import annotations

import os
import shutil
import string

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spans import Tracer

N_BUCKETS = 32  # url_seen layout, as the crawl loop writes it


def parquet_rows(path: str) -> int:
    """Row count from parquet footers; no Spark job."""
    return pq.ParquetDataset(path).read(columns=[]).num_rows


def parquet_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total / 2**20


def write_parquet(frame: pd.DataFrame, path: str, parts: int) -> None:
    """Write `frame` as `parts` parquet files without a Spark job; Spark
    then scans it with `parts` tasks, as if it had written it."""
    os.makedirs(path)
    table = pa.Table.from_pandas(frame, preserve_index=False)
    step = max(-(-table.num_rows // parts), 1)
    for k in range(0, table.num_rows, step):
        pq.write_table(table.slice(k, step),
                       os.path.join(path, f"part-{k // step:05d}.parquet"))


def noop(df) -> None:
    """Force every column of `df` without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    item = ""  # what items_per_s counts

    def __init__(self, spark, seed: int, small: bool = False):
        self.spark = spark
        self.seed = seed
        self.cores = int(spark.sparkContext.defaultParallelism)

    def generate(self, root: str) -> None:
        """Write the seeded inputs under `root` and compute references."""
        raise NotImplementedError

    def prebuild(self, root: str) -> None:
        """One-time state the batches read (and the warm-up pass)."""

    def batches(self) -> list[int]:
        raise NotImplementedError

    def items(self, b: int) -> int:
        raise NotImplementedError

    def run(self, b: int, out: str) -> dict:
        """The timed operation; returns what `check` needs."""
        raise NotImplementedError

    def check(self, b: int, result: dict) -> list[str]:
        raise NotImplementedError

    def traced(self, b: int, out: str, tracer: Tracer) -> dict:
        """Run batch b with every layer forced on its own; returns the
        layer metrics and the same result `run` would."""
        raise NotImplementedError


# --------------------------------------------------------------- frontier


class Frontier(Workload):
    """bench.py's dirty-URL shape, seeded: every URL dirty (case, :80,
    fragment), 10% with dot segments, 20% on one hot PLD, all distinct.
    url_seen holds a seeded quarter of every batch's canonical keys.

    STAR parameters are chosen so the admitted count follows from the
    input alone: every cold PLD holds fewer URLs than b_lo, and the hot
    PLD (rank 1 by construction) holds more than b_hi."""

    name = "frontier"
    item = "urls"

    def __init__(self, spark, seed, small=False):
        super().__init__(spark, seed, small)
        self.n = 20_000 if small else 200_000
        self.n_plds = 1_000 if small else 20_000  # multiple of 5
        self.n_batches = 2  # timed batches alternate; input 0 warms up
        self.top_k, self.b_lo = 1_000, 32
        self.b_hi = self.n // 20

    def _gen(self, b: int) -> dict:
        """Input b as columns: dirty url, id, priority, plus the canonical
        spelling and the hot/seen flags the references are built from."""
        rng = np.random.default_rng([self.seed, b, 3])
        n = self.n
        ids = self.seed * 10**8 + b * n + np.arange(n)
        hot = ids % 5 == 0
        pld = np.where(hot, 0, ids % self.n_plds)
        sub = rng.integers(0, 13, n)
        x = rng.integers(0, 97, n)
        dots = rng.random(n) < 0.1
        seen = rng.random(n) < 0.25
        url, canon = [], []
        for i in range(n):
            tail = f"{sub[i]}.Site{pld[i]}.COM:80/"
            path = f"page/{ids[i]}?x={x[i]}"
            url.append(f"HTTP://Sub{tail}{'a/../' if dots[i] else ''}{path}#frag")
            canon.append(f"http://sub{sub[i]}.site{pld[i]}.com/{path}")
        return {"id": ids, "url": url, "priority": (ids % 3).astype(float),
                "canon": canon, "hot": hot, "seen": seen}

    def generate(self, root: str) -> None:
        self.inputs, self.expect, self.seen_canon = [], [], []
        for b in range(self.n_batches):
            g = self._gen(b)
            path = os.path.join(root, f"urls_{b}")
            write_parquet(
                pd.DataFrame({k: g[k] for k in ("id", "url", "priority")}),
                path, self.cores,
            )
            self.inputs.append(path)
            seen, hot = g["seen"], g["hot"]
            fresh = self.n - int(seen.sum())
            hot_fresh = int((hot & ~seen).sum())
            self.expect.append({
                "fresh": fresh,
                "admitted": fresh - hot_fresh + min(hot_fresh, self.b_hi),
            })
            self.seen_canon += [c for c, s in zip(g["canon"], seen) if s]

    def prebuild(self, root: str) -> None:
        from jirlbot_spark.functions.prepare import (
            PREPARED_FIELDS,
            prepare_batch_arrow,
        )

        # url_seen is keyed by the engine's hash of the CLEAN spelling; the
        # batch arrives dirty, so a canonicalization slip shows as fresh.
        # The keys come from the engine's own Arrow kernel, called here
        # in-process, so set-up runs no Spark job for them.
        schema = pa.schema([
            pa.field(f.name, pa.int64() if f.dataType.typeName() == "long"
                     else pa.string())
            for f in PREPARED_FIELDS
        ])
        rb = pa.RecordBatch.from_arrays([pa.array(self.seen_canon)], ["url"])
        keys = prepare_batch_arrow(rb, "url", schema).column("url_hash")
        keys = keys.to_numpy()
        self.seen_path = os.path.join(root, "url_seen")
        bucket = keys % N_BUCKETS  # pmod: numpy's % is non-negative here
        for k in range(N_BUCKETS):
            write_parquet(pd.DataFrame({"url_hash": keys[bucket == k]}),
                          os.path.join(self.seen_path, f"bucket={k}"), 1)
        _warm_up(self, root, 0)

    def batches(self) -> list[int]:
        return list(range(self.n_batches))

    def items(self, b: int) -> int:
        return self.n

    # the pipeline, split at the points the traced run forces
    def _prepare(self, b: int):
        from jirlbot_spark.functions.prepare import prepare_urls_fused

        inp = self.spark.read.parquet(self.inputs[b])
        return prepare_urls_fused(inp, "url", None, keep=("id", "priority")).select(
            "url", "url_hash", "host_hash", "pld_hash", "id", "priority"
        )

    def _dedup(self, prepared):
        from jirlbot_spark.operators.dedup import check_update_agg

        seen = self.spark.read.parquet(self.seen_path)
        fresh, _ = check_update_agg(
            prepared, seen, key_col="url_hash", order_col="id"
        )
        return fresh

    def _budgets(self, fresh):
        from jirlbot_spark.operators.star import star_budgets_scalable

        deg = (
            fresh.groupBy("pld_hash")
            .agg(F.count("*").alias("indegree"))
            .localCheckpoint(eager=True)
        )
        return star_budgets_scalable(
            deg, top_k=self.top_k, b_hi=self.b_hi, b_lo=self.b_lo
        ).select("pld_hash", "budget")

    def _admit(self, fresh, budgets):
        from jirlbot_spark.operators.beast import beast_enforce, split_admitted

        enforced = beast_enforce(
            fresh.withColumn("enqueue_batch", F.lit(0)), budgets,
            salt_buckets=16,
        )
        return split_admitted(enforced)[0]

    def _schedule(self, admitted):
        from jirlbot_spark.operators.politeness import politeness_schedule

        return politeness_schedule(
            admitted, host_col="host_hash", min_delay_s=1.0
        )

    def _persist(self, df, path):
        df.write.parquet(path)
        return self.spark.read.parquet(path)

    def run(self, b: int, out: str) -> dict:
        prepared = self._persist(self._prepare(b), os.path.join(out, "prepared"))
        fresh = self._persist(self._dedup(prepared), os.path.join(out, "fresh"))
        sched = self._schedule(self._admit(fresh, self._budgets(fresh)))
        sched.write.parquet(os.path.join(out, "schedule"))
        return {"out": out}

    def check(self, b: int, result: dict) -> list[str]:
        out, exp = result["out"], self.expect[b]
        got = {
            "fresh": parquet_rows(os.path.join(out, "fresh")),
            "admitted": parquet_rows(os.path.join(out, "schedule")),
        }
        return [
            f"frontier batch {b}: {k} {got[k]} != expected {exp[k]}"
            for k in exp
            if got[k] != exp[k]
        ]

    def traced(self, b: int, out: str, tracer: Tracer) -> dict:
        from jirlbot_spark.functions.prepare import prepare_urls_fused

        inp = self.spark.read.parquet(self.inputs[b])
        m: dict[str, float] = {}
        # each forced step adds one stage to the one before it: scan, then
        # scan + boundary, then scan + boundary + kernel, then + write; a
        # layer's time is its step minus the step before
        with tracer.span("input.scan") as s:
            noop(inp)
        scan_s = m["input.scan_s"] = s.duration
        with tracer.span("prepare.arrow") as s:
            cols = inp.select("url", "id", "priority")
            noop(cols.mapInArrow(lambda it: it, schema=cols.schema))
        arrow_s = s.duration
        m["prepare.arrow_s"] = arrow_s - scan_s
        with tracer.span("prepare.kernel") as s:
            noop(prepare_urls_fused(inp, "url", None, keep=("id", "priority")))
        kernel_s = s.duration
        m["prepare.kernel_s"] = kernel_s - arrow_s
        m["prepare.cpu_s"] = s.counts["cpu_s"]
        m["prepare.gc_s"] = s.spark["gc_s"]
        prep_path = os.path.join(out, "prepared")
        with tracer.span("prepare.write") as s:
            prepared = self._persist(self._prepare(b), prep_path)
        m["storage.write_s"] = s.duration - kernel_s
        m["storage.write_mb"] = parquet_mb(prep_path)
        m["prepare.rows_in"] = self.n
        m["prepare.valid_ratio"] = parquet_rows(prep_path) / self.n
        with tracer.span("dedup") as s:
            fresh = self._persist(self._dedup(prepared), os.path.join(out, "fresh"))
        n_fresh = parquet_rows(os.path.join(out, "fresh"))
        m.update(_layer("dedup", s, cpu=True, shuffle=True, spill=True))
        m["dedup.fresh_ratio"] = n_fresh / self.n
        with tracer.span("star") as s:
            budgets = self._budgets(fresh).localCheckpoint(eager=True)
        m.update(_layer("star", s))
        adm_path = os.path.join(out, "admitted")
        with tracer.span("beast") as s:
            admitted = self._persist(self._admit(fresh, budgets), adm_path)
        m.update(_layer("beast", s, shuffle=True))
        m["beast.admit_ratio"] = parquet_rows(adm_path) / max(n_fresh, 1)
        m["beast.task_skew"] = s.spark["task_skew"]
        with tracer.span("politeness") as s:
            self._schedule(admitted).write.parquet(os.path.join(out, "schedule"))
        m.update(_layer("politeness", s, shuffle=True))
        return {"metrics": m, "result": {"out": out}}


def _warm_up(wl: Workload, root: str, b: int) -> None:
    """Run input b once through the timed path, checked, so the timed
    batches find Spark's generated code compiled and the Python workers
    started. The JIT keeps warming for a few more batches; the median over
    a run's batches absorbs that."""
    out = os.path.join(root, "warmup")
    errors = wl.check(b, wl.run(b, out))
    if errors:
        raise RuntimeError(f"warm-up batch failed its check: {errors}")
    shutil.rmtree(out)


def _layer(name, span, cpu=False, shuffle=False, spill=False) -> dict:
    """The standard status-store figures of one forced layer."""
    m = {f"{name}.wall_s": span.duration, f"{name}.gc_s": span.spark["gc_s"]}
    if cpu:
        m[f"{name}.cpu_s"] = span.counts["cpu_s"]
    if shuffle:
        m[f"{name}.shuffle_mb"] = span.spark["shuffle_write_mb"]
    if spill:
        m[f"{name}.spill_mb"] = span.spark["spill_mb"]
    return m


# ------------------------------------------------------------- crawl_loop


class SyntheticWeb:
    """A seeded link graph: `n_sites` hosts, `n_paths` pages each, 8
    outlinks per page (roots included). A tenth of the hosts disallow
    `/p1` (a path prefix, so /p1x pages too); a third of the links are
    spelled dirty. Knows which pages each crawl batch must fetch."""

    OUT_DEGREE = 8

    def __init__(self, seed: int, n_sites: int, n_paths: int):
        rng = np.random.default_rng([seed, 1])
        self.n_sites, self.n_paths = n_sites, n_paths
        n_src = n_sites * (n_paths + 1)
        src_site = np.repeat(np.arange(n_sites), n_paths + 1)
        src_page = np.tile(np.arange(-1, n_paths), n_sites)  # -1 = root
        k = self.OUT_DEGREE
        dst_site = rng.integers(0, n_sites, size=(n_src, k))
        dst_page = rng.integers(0, n_paths, size=(n_src, k))
        dirty = rng.random((n_src, k)) < 1 / 3
        self.blocked_sites = set(
            np.flatnonzero(rng.random(n_sites) < 0.1).tolist()
        )
        self.out: dict[str, list[str]] = {}
        rows = []
        for i, (ss, sp) in enumerate(zip(src_site, src_page)):
            src = self.url(ss, sp)
            targets = []
            for s, p, d in zip(dst_site[i], dst_page[i], dirty[i]):
                canon = self.url(s, p)
                targets.append(canon)
                rows.append(
                    (src, f"HTTP://SITE{s}.COM:80/p{p}#top" if d else canon)
                )
            self.out[src] = targets
        self.links = pd.DataFrame(rows, columns=["src_url", "dst_url"])

    @staticmethod
    def url(site: int, page: int) -> str:
        return f"http://site{site}.com/" + ("" if page < 0 else f"p{page}")

    def blocked(self, url: str) -> bool:
        host, _, path = url[len("http://"):].partition("/")
        return int(host[4:-4]) in self.blocked_sites and path.startswith("p1")

    def seeds(self, pages_per_site: int) -> list[str]:
        """Every root plus the first pages of every site."""
        return [
            self.url(s, p)
            for s in range(self.n_sites)
            for p in range(-1, pages_per_site)
        ]

    def expected_batches(self, seeds: list[str], n_batches: int) -> list[dict]:
        """Per crawl batch (1-based): rows in, fetched, blocked. Batch 1
        learns robots for every seeded host, so it fetches nothing."""
        seen, frontier = set(seeds), sorted(set(seeds))
        out = [{"rows_in": len(frontier), "fetched": 0, "blocked": 0}]
        for _ in range(2, n_batches + 1):
            fetched = [u for u in frontier if not self.blocked(u)]
            out.append({
                "rows_in": len(frontier),
                "fetched": len(fetched),
                "blocked": len(frontier) - len(fetched),
            })
            nxt = {t for u in fetched for t in self.out[u]} - seen
            seen |= nxt
            frontier = sorted(nxt)
        return out


class CrawlLoopWorkload(Workload):
    """`CrawlLoop.ingest_seeds` and batch 1 (which learns every host's
    robots and fetches nothing) in set-up; the timed operation is batch 2,
    run on a fresh copy of the store as batch 1 left it, so every timed
    batch does the same work. Batch 2 has no PLD graph yet, so STAR is
    not in it; the frontier workload measures STAR."""

    name = "crawl_loop"
    item = "pages"
    TIMED = 2  # the batch each timed operation runs
    SEED_PAGES = 5  # seeded pages per site besides the root
    N_IMAGES = 50  # payloads behind the fetched URLs
    TABLES = ("frontier", "url_seen", "fetch_log", "verify_log",
              "pld_graph", "robots")

    def __init__(self, spark, seed, small=False):
        super().__init__(spark, seed, small)
        self.n_sites = 20 if small else 50
        self.n_paths = 10 if small else 20

    def generate(self, root: str) -> None:
        from jirlbot_spark.sources.fixtures import gen_pages

        spark = self.spark
        web = SyntheticWeb(self.seed, self.n_sites, self.n_paths)
        seeds = web.seeds(self.SEED_PAGES)
        self.expect = web.expected_batches(seeds, self.TIMED)
        links_path = os.path.join(root, "links")
        write_parquet(web.links, links_path, self.cores)
        self.links = spark.read.parquet(links_path)
        pages_path = os.path.join(root, "pages")
        write_parquet(gen_pages(self.seed, self.N_IMAGES), pages_path, self.cores)
        self.pages = spark.read.parquet(pages_path)
        hosts = pd.DataFrame({"host": [f"site{s}.com" for s in range(self.n_sites)]})
        hosts["disallow"] = [
            ["/p1"] if s in web.blocked_sites else [] for s in range(self.n_sites)
        ]
        hosts["crawl_delay"] = 0.0
        self.robots = spark.createDataFrame(
            hosts, "host string, disallow array<string>, crawl_delay double"
        )
        self.seeds = spark.createDataFrame(pd.DataFrame({"url": seeds}))

    def _loop(self, store_root: str):
        from jirlbot_spark.plans.loop import CrawlConfig, CrawlLoop
        from jirlbot_spark.sources.storage import TableStore

        # budgets never bind: b_lo exceeds any site's pages per batch
        cfg = CrawlConfig(
            top_k=self.n_sites, b_hi=4 * self.n_paths, b_lo=2 * self.n_paths,
            default_budget=4 * self.n_paths, salt_buckets=8,
            image_scale=self.N_IMAGES,
        )
        store = TableStore(self.spark, store_root)
        return CrawlLoop(self.spark, store, self.pages, self.links,
                         self.robots, cfg)

    def prebuild(self, root: str) -> None:
        self.snapshot = os.path.join(root, f"store_b{self.TIMED - 1}")
        loop = self._loop(self.snapshot)
        loop.ingest_seeds(self.seeds)
        for j in range(1, self.TIMED):
            errors = self._check_batch(loop.store, j, loop.run_batch(j))
            if errors:
                raise RuntimeError(f"set-up batch {j} failed: {errors}")
        _warm_up(self, root, self.TIMED)

    def batches(self) -> list[int]:
        return [self.TIMED]

    def items(self, b: int) -> int:
        return self.expect[b - 1]["fetched"]

    def run(self, b: int, out: str) -> dict:
        loop = self._restore(out)
        return {"store": loop.store, "stats": loop.run_batch(b)}

    def _restore(self, out: str):
        root = os.path.join(out, "store")
        shutil.copytree(self.snapshot, root)
        return self._loop(root)

    def check(self, b: int, result: dict) -> list[str]:
        return self._check_batch(result["store"], b, result["stats"])

    def _check_batch(self, store, j: int, stats: dict) -> list[str]:
        errors = [
            f"crawl batch {j}: {k} {stats[k]} != expected {v}"
            for k, v in self.expect[j - 1].items()
            if stats.get(k) != v
        ]
        # conservation: rows in = fetched + blocked + deferred, where the
        # deferred rows are the next frontier minus this batch's new keys
        tables = store.manifest()["tables"]

        def rows(name: str) -> int:
            runs = [r for r in tables.get(name, []) if r.startswith(f"b{j:08d}_")]
            return sum(parquet_rows(os.path.join(store.root, name, r)) for r in runs)

        deferred = rows("frontier") - rows("url_seen")
        if stats["rows_in"] != stats["fetched"] + stats["blocked"] + deferred:
            errors.append(
                f"crawl batch {j}: rows_in {stats['rows_in']} != fetched "
                f"{stats['fetched']} + blocked {stats['blocked']} + deferred "
                f"{deferred}"
            )
        return errors

    def traced(self, b: int, out: str, tracer: Tracer) -> dict:
        import jirlbot_spark.plans.loop as loop_mod
        from jirlbot_spark.operators import robots as robots_ops
        from jirlbot_spark.operators.fetch import verify_payload
        from jirlbot_spark.sources.storage import TableStore
        from pyspark.sql.readwriter import DataFrameWriter

        loop = self._restore(out)
        root = loop.store.root
        captured: dict = {}
        commit_span: list[int] = []

        def capture(key, fn):
            def wrapped(*a, **kw):
                captured[key] = fn(*a, **kw)
                return captured[key]
            return wrapped

        real = {
            "run_batch": loop.run_batch,
            "commit": TableStore.commit_batch,
            "parquet": DataFrameWriter.parquet,
            "robots_check": robots_ops.robots_check,
            "extract_links": loop_mod.extract_links,
            "verify": verify_payload,
        }

        def commit(store, *a, **kw):
            with tracer.span("commit") as s:
                commit_span.append(tracer.spans.index(s))
                return real["commit"](store, *a, **kw)

        def parquet(writer, path, *a, **kw):
            rel = os.path.relpath(path, root)
            if not commit_span or rel.startswith(".."):
                return real["parquet"](writer, path, *a, **kw)
            with tracer.span(f"commit.{rel.split(os.sep)[0]}",
                             parent=commit_span[-1], spark=False):
                return real["parquet"](writer, path, *a, **kw)

        TableStore.commit_batch = commit
        DataFrameWriter.parquet = parquet
        robots_ops.robots_check = capture("checked", real["robots_check"])
        loop_mod.extract_links = capture("links", real["extract_links"])
        try:
            with tracer.span("loop.batch") as s:
                stats = real["run_batch"](b)
        finally:
            TableStore.commit_batch = real["commit"]
            DataFrameWriter.parquet = real["parquet"]
            robots_ops.robots_check = real["robots_check"]
            loop_mod.extract_links = real["extract_links"]
        batch_idx = tracer.spans.index(s)
        c = tracer.spans[commit_span[-1]]
        m = {
            "loop.batch_s": s.duration,
            "loop.driver_s": tracer.self_time(batch_idx),
            "loop.jobs_per_batch": s.spark["jobs"],
            "loop.tasks_per_batch": s.spark["tasks"],
            "loop.gc_s": s.spark["gc_s"],
            "commit.wall_s": c.duration,
            "commit.mb": sum(
                parquet_mb(os.path.join(root, name, run))
                for name, runs in loop.store.manifest()["tables"].items()
                for run in runs
                if run.startswith(f"b{b:08d}_")
            ),
            "commit.gc_s": c.spark["gc_s"],
        }
        for name in self.TABLES:
            spans = [t for t in tracer.children(commit_span[-1])
                     if t.name == f"commit.{name}"]
            m[f"commit.{name}_s"] = sum(t.duration for t in spans)
        # counts the batch does not return, from the frames it built
        # (recomputed after the batch, outside its span)
        status = {
            r["robots_status"]: r["n"]
            for r in captured["checked"].groupBy("robots_status")
            .agg(F.count("*").alias("n")).collect()
        }
        checked = sum(status.values())
        m["robots.pass_ratio"] = status.get("PASS", 0) / max(checked, 1)
        m["robots.deferred_rows"] = status.get("UNKNOWN", 0)
        m["fetch.pages"] = stats["fetched"]
        m["fetch.links_out"] = captured["links"].count()
        with tracer.span("fetch.verify") as v:
            noop(real["verify"](self.pages))
        m["fetch.verify_s"] = v.duration
        return {"metrics": m, "result": {"store": loop.store, "stats": stats}}


# ------------------------------------------------------------ curate_text

_STOP = ("the", "be", "to", "of", "and", "that", "have", "with")
BOILERPLATE = "home about contact privacy terms"


def _vocabulary() -> list[str]:
    rng = np.random.default_rng(12345)
    letters = np.array(list(string.ascii_lowercase))
    words = {
        "".join(rng.choice(letters, size=int(rng.integers(4, 9))))
        for _ in range(600)
    }
    return sorted(words)[:400]


def gen_corpus(seed: int, b: int, n: int) -> pd.DataFrame:
    """Seeded documents in lines of about twelve words. Every 5th doc is
    its predecessor with one word substituted, every 7th an exact clone of
    the doc three back, so every near-duplicate pair has Jaccard >= 0.95
    and unrelated docs share almost no shingles. Long docs (150-250 words)
    pass the Gopher gate; a tenth of the docs are short (30-45 words) and
    fail it. A third carry a shared boilerplate line for line dedup, a
    tenth an email for the PII scrub."""
    rng = np.random.default_rng([seed, b, 2])
    vocab = np.array(_VOCAB + list(_STOP) * 20)
    texts: list[str] = []
    for i in range(n):
        if i >= 7 and i % 7 == 0:
            texts.append(texts[i - 3])
            continue
        if i > 0 and i % 5 == 0:
            lines = [ln.split() for ln in texts[i - 1].split("\n")]
            li = int(rng.integers(0, len(lines)))
            lines[li][int(rng.integers(0, len(lines[li])))] = str(rng.choice(vocab))
            texts.append("\n".join(" ".join(ln) for ln in lines))
            continue
        # never the source of a near copy, directly (i % 5 == 4) or via a
        # clone (i + 3 with i % 5 == 1): short pairs would sit near 0.8
        short = i % 5 in (2, 3) and rng.random() < 0.25
        words = list(rng.choice(vocab, size=int(
            rng.integers(30, 46) if short else rng.integers(150, 251)
        )))
        if rng.random() < 0.1:
            words.insert(int(rng.integers(0, len(words))),
                         f"user{seed}x{b}x{i}@example.com")
        lines = [" ".join(words[k:k + 12]) for k in range(0, len(words), 12)]
        if rng.random() < 1 / 3:
            lines.append(BOILERPLATE)
        texts.append("\n".join(lines))
    return pd.DataFrame({"doc_id": np.arange(n) + b * n, "text": texts})


_VOCAB = _vocabulary()


def jaccard_groups(texts: dict[int, str], k: int = 3, t: float = 0.8) -> dict[int, int]:
    """Exact reference for text_dup_groups: doc -> min id of its group
    under the transitive closure of word-k-shingle Jaccard >= t.

    All-pairs set-similarity join with a prefix filter: order shingles by
    global frequency; two sets with Jaccard >= t share a shingle within
    the first |s| - ceil(t|s|) + 1 of each. Candidates are then verified
    exactly, so the result equals the quadratic definition."""
    sets = {}
    for d, text in texts.items():
        toks = text.split()
        sets[d] = {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    freq: dict[tuple, int] = {}
    for s in sets.values():
        for sh in s:
            freq[sh] = freq.get(sh, 0) + 1
    index: dict[tuple, list[int]] = {}
    parent = {d: d for d in sets}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for d in sorted(sets):
        s = sets[d]
        if not s:
            continue
        prefix = sorted(s, key=lambda sh: (freq[sh], sh))[
            : len(s) - int(np.ceil(t * len(s) - 1e-9)) + 1
        ]
        cands = {e for sh in prefix for e in index.get(sh, ())}
        for e in cands:
            inter = len(s & sets[e])
            if inter >= t * (len(s) + len(sets[e]) - inter):
                ra, rb = find(d), find(e)
                parent[max(ra, rb)] = min(ra, rb)
        for sh in prefix:
            index.setdefault(sh, []).append(d)
    return {d: find(d) for d in sets}


def curate_reference(texts: dict[int, str], min_words: int) -> dict:
    """Expected survivors, kept docs and scrubbed emails of one batch.

    Survivors are the exact-Jaccard group minima. Their lines are unique
    but for the boilerplate line, which line dedup removes from every
    survivor but the first (min doc id) that carries it; after that the
    Gopher word-count gate alone decides curation."""
    group = jaccard_groups(texts)
    survivors = {d for d, g in group.items() if d == g}
    first_bp = min((d for d in survivors
                    if BOILERPLATE in texts[d].split("\n")), default=None)
    kept = {
        d for d in survivors
        if sum(len(ln.split()) for ln in texts[d].split("\n")
               if ln != BOILERPLATE or d == first_bp) >= min_words
    }
    return {
        "survivors": survivors,
        "kept": kept,
        "emails": sum("@example.com" in texts[d] for d in kept),
    }


class CurateText(Workload):
    """MinHash near-dup groups, then the curation plan on the survivors."""

    name = "curate_text"
    item = "docs"
    MIN_WORDS = 50

    def __init__(self, spark, seed, small=False):
        super().__init__(spark, seed, small)
        self.n = 200 if small else 600
        self.n_batches = 2  # timed batches alternate; one more warms up

    def generate(self, root: str) -> None:
        self.inputs, self.expect = [], []
        for b in range(self.n_batches + 1):
            docs = gen_corpus(self.seed, b, self.n if b < self.n_batches else 200)
            path = os.path.join(root, f"docs_{b}")
            write_parquet(docs, path, self.cores)
            self.inputs.append(path)
            texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
            self.expect.append(curate_reference(texts, self.MIN_WORDS))

    def prebuild(self, root: str) -> None:
        _warm_up(self, root, self.n_batches)

    def batches(self) -> list[int]:
        return list(range(self.n_batches))

    def items(self, b: int) -> int:
        return self.n

    def _curate(self, docs, groups_path: str, out_path: str) -> None:
        from jirlbot_spark.plans.curate import curate_corpus

        keep = self.spark.read.parquet(groups_path).filter("keep")
        survivors = docs.join(keep.select("doc_id"), "doc_id", "left_semi")
        curate_corpus(survivors, min_words=self.MIN_WORDS).write.parquet(out_path)

    def run(self, b: int, out: str) -> dict:
        from jirlbot_spark.operators.text_dedup import text_dup_groups

        docs = self.spark.read.parquet(self.inputs[b])
        groups = os.path.join(out, "groups")
        text_dup_groups(docs, threshold=0.8).write.parquet(groups)
        self._curate(docs, groups, os.path.join(out, "curated"))
        return {"out": out}

    def check(self, b: int, result: dict) -> list[str]:
        exp, out = self.expect[b], result["out"]
        g = pq.read_table(os.path.join(out, "groups"), columns=["doc_id", "keep"])
        survivors = set(g.filter(g["keep"]).column("doc_id").to_pylist())
        c = pq.read_table(os.path.join(out, "curated"),
                          columns=["doc_id", "keep", "n_email"]).to_pandas()
        kept = set(c.loc[c["keep"], "doc_id"].tolist())
        errors = []
        if survivors != exp["survivors"]:
            errors.append(
                f"curate batch {b}: {len(survivors ^ exp['survivors'])} docs "
                "differ from the exact-Jaccard keep set"
            )
        if len(c) != len(survivors):
            errors.append(f"curate batch {b}: {len(c)} rows for "
                          f"{len(survivors)} survivors")
        if kept != exp["kept"]:
            errors.append(f"curate batch {b}: {len(kept ^ exp['kept'])} "
                          "docs differ from the word-count reference")
        emails = int(c.loc[c["keep"], "n_email"].sum())
        if emails != exp["emails"]:
            errors.append(f"curate batch {b}: {emails} emails scrubbed, "
                          f"expected {exp['emails']}")
        return errors

    def traced(self, b: int, out: str, tracer: Tracer) -> dict:
        from jirlbot_spark.operators.graph import connected_components
        from jirlbot_spark.operators.text_dedup import (
            DEFAULT_MAX_BUCKET_SIZE,
            lsh_candidate_pairs,
            minhash_dedup,
            minhash_signatures,
            shingle_hashes,
        )

        spark = self.spark
        docs = spark.read.parquet(self.inputs[b])
        m: dict[str, float] = {}
        pairs_path = os.path.join(out, "pairs")
        with tracer.span("minhash") as s:
            minhash_dedup(docs, threshold=0.8).write.parquet(pairs_path)
        m.update(_layer("minhash", s, cpu=True, shuffle=True, spill=True))
        m["minhash.verified_pairs"] = parquet_rows(pairs_path)
        pairs = spark.read.parquet(pairs_path)
        stats: dict = {}
        groups_path = os.path.join(out, "groups")
        with tracer.span("components") as s:
            comp = connected_components(pairs, stats=stats)
            ids = docs.select("doc_id").distinct()
            ids.join(comp, ids["doc_id"] == comp["id"], "left").select(
                "doc_id",
                F.coalesce("component", "doc_id").alias("component"),
            ).withColumn(
                "keep", F.col("doc_id") == F.col("component")
            ).write.parquet(groups_path)
        m.update(_layer("components", s))
        m["components.rounds"] = stats.get("rounds", 0)
        cur_path = os.path.join(out, "curated")
        with tracer.span("curate") as s:
            self._curate(docs, groups_path, cur_path)
        m.update(_layer("curate", s))
        c = pq.read_table(cur_path, columns=["keep"]).column("keep").to_pylist()
        m["curate.keep_ratio"] = sum(c) / max(len(c), 1)
        # candidate generation on its own, for the pair counts (diagnostic:
        # outside every layer span above)
        sig = minhash_signatures(shingle_hashes(docs)).localCheckpoint(eager=True)
        cand = lsh_candidate_pairs(sig, max_bucket_size=DEFAULT_MAX_BUCKET_SIZE)
        m["minhash.candidate_pairs"] = cand.count()
        m["minhash.pair_yield"] = m["minhash.verified_pairs"] / max(
            m["minhash.candidate_pairs"], 1
        )
        r = 32 // 8
        bands = F.array(*[
            F.xxhash64(*[F.col(f"mh{bi * r + j}") for j in range(r)])
            for bi in range(8)
        ])
        m["minhash.max_bucket_rows"] = (
            sig.select(F.posexplode(bands).alias("band", "bh"))
            .groupBy("band", "bh").count().agg(F.max("count")).first()[0]
        )
        return {"metrics": m, "result": {"out": out}}


WORKLOADS = {w.name: w for w in (Frontier, CrawlLoopWorkload, CurateText)}
