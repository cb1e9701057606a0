"""The crawl loop — one driver-orchestrated microbatch per pass.

Replaces the reference's callback soup (crawl threads + DRUM
writer/merger threads + listener dispatch) with a deterministic dataflow;
see SURVEY.md §3.1. Per batch j:

    frontier_j --BEAST admit (STAR budgets from pld_graph_{j-1})-->
      robots gate (PASS / FAIL-drop / UNKNOWN-defer + robots fetch) -->
      politeness schedule --> fetch (injected backend) --> payload verify -->
      link extraction --> canonicalize+dedup (DRUM) --> frontier_{j+1}

All per-batch outputs (frontier, url_seen, pld_graph, robots, fetch_log,
verify_log, metrics, and dns_cache when a resolver is set) commit
ATOMICALLY via one manifest rename (TableStore.commit_batch) — crash
anywhere re-runs batch j from identical inputs (exact resume, north
rule). The robots table doubles as the reference's RobotsRequested set:
a host's rules commit in the same batch that first requests them.
The writes run as concurrent queries, so each frame several of them
read is cut once, with session.materialize, where it is built: the
frontier as read, the robots-checked rows, the fetched rows, the
prepared links and DRUM's fresh rows. With a checkpoint directory set,
those cuts are parquet directories; session.release deletes them once
the batch has committed and counted its stats.

Determinism contract (crawl-order equivalence vs tests/oracle_sim.py):
ordering is always (priority asc, url_hash asc); priority = discovery
depth. No wall clock feeds any decision.

Scale posture: the frontier rewrite per pass mirrors BEAST's queue-file
rewrite. Under the current deferral policy every frontier row is due
every pass (deferral increments enqueue_batch by exactly 1), so the
whole-table read is not a compromise; a policy that defers rows multiple
passes ahead (BEAST pass-skipping) would partition the frontier write by
enqueue_batch and prune the read to due partitions — the storage layer
already supports partition_by for exactly that. url_seen grows
append-only in bucket-partitioned runs with periodic compaction
(CrawlConfig.compact_every).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from jirlbot_spark.functions.hashing import bucket_col
from jirlbot_spark.functions.prepare import prepare_urls_fused
from jirlbot_spark.operators import robots as robots_ops
from jirlbot_spark.operators.beast import beast_enforce, split_admitted
from jirlbot_spark.operators.dedup import check_update_agg
from jirlbot_spark.operators.fetch import (
    extract_links,
    route_redirects,
    table_fetch,
)
from jirlbot_spark.operators.politeness import politeness_schedule
from jirlbot_spark.operators.star import (
    distinct_new_edges,
    pld_indegree,
    star_budgets_scalable,
)
from jirlbot_spark.session import materialize, release
from jirlbot_spark.sources.storage import TableStore, TableWrite

FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("url_hash", LongType()),
        StructField("host", StringType()),
        StructField("host_hash", LongType()),
        StructField("pld", StringType()),
        StructField("pld_hash", LongType()),
        StructField("depth", IntegerType()),
        StructField("priority", DoubleType()),
        StructField("enqueue_batch", IntegerType()),
    ]
)


def throttle_frontier(
    frontier: DataFrame, max_urls: int, num_buckets: int
) -> DataFrame:
    """Backpressure mark: `frontier` plus a boolean `__admit` column.

    Admits each DRUM bucket's ceil(max_urls/num_buckets) best
    (priority asc, url_hash asc) rows via a bucket-partitioned window —
    the O20 top-k shape, never a global sort or single-partition window
    (plan-asserted in PLANS.md) — so one pass's candidate set is bounded
    by ~max_urls while overflow re-queues untouched. Lazy: the caller
    materializes the marked frame once and splits the admitted rows
    from the overflow on `__admit`."""
    k = -(-max_urls // num_buckets)
    w = Window.partitionBy(
        F.pmod(F.col("url_hash"), F.lit(num_buckets))
    ).orderBy(F.asc("priority"), F.asc("url_hash"))
    return frontier.withColumn("__admit", F.row_number().over(w) <= k)


# Adaptive politeness reads this many past batches of fetch_log.
ADAPTIVE_LOOKBACK_BATCHES = 8


@dataclass
class CrawlConfig:
    top_k: int = 100
    b_hi: int = 50
    b_lo: int = 5
    default_budget: int = 5
    salt_buckets: int = 8
    min_delay_s: float = 1.0
    num_buckets: int = 32
    image_scale: int = 1000
    # Bloom sidecar dir for the url_seen membership fast path (None = off;
    # semantics identical either way — membership.py contract)
    bloom_dir: str | None = None
    # UA token for robots group selection when a robots_fetcher supplies
    # raw robots.txt bodies (parse_robots_txt_df semantics)
    user_agent: str = "jirlbot"
    # URL spam-filter gate (operators/url_filter.url_spam_filter kwargs,
    # e.g. {"blocked_domains": ("spam.net",)}; None = gate off). Applied
    # to CANONICALIZED discovered links BEFORE the PLD-graph update and
    # the DRUM exchange: rejected URLs never reach a shuffle and never
    # pollute reputation — the map-side-gate posture the operator
    # docstring pins.
    url_filter_opts: dict | None = None
    # Adaptive politeness (operators/adaptive_politeness): when True and
    # the fetch backend logs rtt_ms (live HTTP does), each batch derives
    # per-host delays from the last ADAPTIVE_LOOKBACK_BATCHES batches of
    # fetch_log via the Heritrix delay-factor rule (the operator's
    # defaults: factor 5, 30 s ceiling); robots Crawl-delay still wins
    # where larger. Table-backed fetches have no rtt column, so the flag
    # is inert there — semantics unchanged.
    adaptive_delay: bool = False
    # Freshness-driven revisits (operators/recrawl): when set, each batch
    # re-enqueues URLs whose exact-integer staleness score crosses this
    # threshold (in batch units), spaced by the +0.5-smoothed change-rate
    # estimator over fetch_log's content_hash history. Revisits bypass
    # url_seen BY DESIGN (a revisit is deliberate) and re-enter ahead of
    # BEAST/politeness like any candidate; an anti-join against the
    # assembled next frontier prevents double-enqueue while a prior
    # revisit is still queued. None = single-pass crawl (prior
    # semantics; fetch_log simply gains a content_hash column when the
    # backend surfaces payload bytes).
    recrawl_threshold: int | None = None
    # Backpressure: cap the candidates one crawl pass takes from the
    # frontier (the maxOffsetsPerTrigger analog for the frontier source;
    # None = unbounded). Scalable exact-per-bucket form: each DRUM bucket
    # admits its ceil(max/num_buckets) best-(priority, url_hash) rows via
    # a bucket-partitioned window — never a global sort/limit — so the
    # per-pass total is <= num_buckets * ceil(max/num_buckets) (= max
    # when num_buckets divides it; hash-uniform buckets make the bound
    # tight in expectation). Overflow rows ride to the next frontier
    # untouched and age normally. A burst of discovered links therefore
    # cannot blow up one microbatch's memory/shuffle footprint: batch
    # cost is bounded by max, burst size only affects how many batches
    # drain it.
    max_urls_per_batch: int | None = None
    # Fold url_seen's per-batch runs into one every N batches (None = never).
    # Append-only runs keep commits cheap, but the membership anti-join
    # reads every run of a bucket — at 10^10 keys unbounded run counts
    # become the scan bottleneck, so periodic compaction (the DRUM cache-
    # file rewrite analog; Iceberg rewrite_data_files on a cluster) caps
    # them. Between-batch, so crash-safe by the same manifest argument.
    compact_every: int | None = None


class CrawlLoop:
    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        pages: DataFrame | None,
        link_table: DataFrame | None,
        robots_source: DataFrame | None,
        config: CrawlConfig | None = None,
        fetch_backend=None,
        robots_fetcher=None,
        dns_resolver=None,
    ):
        self.spark = spark
        self.store = store
        self.pages = pages
        self.link_table = link_table
        self.robots_source = robots_source  # host -> (disallow, crawl_delay)
        self.cfg = config or CrawlConfig()
        # fetch_backend(scheduled)->DataFrame overrides the table join —
        # the live-HTTP path on a cluster (operators.fetch.http_backend);
        # must return the scheduled rows (+frontier metadata) per fetch
        self.fetch_backend = fetch_backend
        # robots_fetcher(hosts)->DataFrame(host, body): LIVE robots
        # acquisition — raw bodies go through the RFC 9309 parser
        # (parse_robots_txt_df) with cfg.user_agent, so Allow lists,
        # wildcards/$ anchors, UA groups and Crawl-delay all apply.
        # Takes precedence over robots_source. On a cluster:
        # robots_http_fetcher(transport) from operators.robots.
        self.robots_fetcher = robots_fetcher
        # dns_resolver(needed)->DataFrame(host_hash, ip): when set, each
        # batch resolves the needed host DELTA only (cache miss or TTL
        # expiry — operators.dns semantics, IRLbot's DNS cache), appends
        # it to the dns_cache table, and politeness partitions on
        # serve_key (per-SERVER queues: virtual-hosted domains share one
        # queue; NXDOMAIN/unresolved fall back to host_hash). None keeps
        # per-host politeness — semantics identical to before, which is
        # what the oracle-sim equivalence suite pins. On a cluster:
        # socket_resolver() from operators.dns.
        self.dns_resolver = dns_resolver
        if self.cfg.bloom_dir is not None and not store.supports_run_listing:
            # the sidecar epoch contract derives bucket->batch maps from
            # posix run-dir listings; a snapshot-pinned store (Iceberg)
            # has no such dirs — fail loudly at construction instead of
            # TypeError-ing mid-batch in _bucket_key_epochs
            raise ValueError(
                f"bloom_dir requires a run-listing TableStore; "
                f"{type(store).__name__} pins snapshots, not run dirs. "
                "Disable the Bloom sidecar (bloom_dir=None) or use the "
                "parquet TableStore."
            )

    # ---- URL ingestion (seeds and extracted links share this path) ----
    def _prepare_urls(
        self,
        urls: DataFrame,
        url_col: str,
        base_col: str | None,
        depth,
        keep: tuple[str, ...] = (),
    ) -> DataFrame:
        depth_col = (
            F.col(depth).cast("int")
            if isinstance(depth, str)
            else F.lit(depth).cast("int")
        )
        df = urls.withColumn("depth", depth_col)
        prepared = prepare_urls_fused(
            df, url_col, base_col, keep=("depth",) + tuple(keep)
        )
        return prepared.withColumn("priority", F.col("depth").cast("double"))

    def _recrawl_due(self, j: int, frontier: DataFrame | None):
        """Frontier rows for URLs due for a freshness revisit at batch j
        (None when no history exists). Committed fetch_log only — see
        run_batch's call-site comment for the no-echo argument. URLs
        already queued (deferred, or a still-unfetched prior revisit)
        are anti-joined out so at most one copy is ever in flight."""
        from jirlbot_spark.operators.recrawl import (
            change_stats,
            recrawl_priority,
        )

        log = self.store.read("fetch_log")
        if log is None or "content_hash" not in log.columns:
            return None
        hist = log.filter(F.col("content_hash").isNotNull())
        due = (
            recrawl_priority(
                change_stats(
                    hist,
                    url_col="url_hash",
                    batch_col="batch",
                    content_col="content_hash",
                ),
                j,
                self.cfg.recrawl_threshold,
            )
            .filter("due")
            .select("url_hash")
        )
        latest = hist.groupBy("url_hash").agg(
            F.max_by("url", "batch").alias("url")
        )
        revisit = self._prepare_urls(
            due.join(latest, "url_hash").select("url"), "url", None, 0
        ).withColumn("enqueue_batch", F.lit(j).cast("int"))
        if frontier is not None:
            revisit = revisit.join(
                frontier.select("url_hash").distinct(),
                "url_hash",
                "left_anti",
            )
        return revisit.select(*[f.name for f in FRONTIER_SCHEMA.fields])

    def _dedup_new(self, prepared: DataFrame, batch_id: int) -> tuple[DataFrame, DataFrame]:
        """DRUM check_update: returns (new frontier rows, new url_seen keys).

        The fresh rows are materialized: the frontier and url_seen
        writes commit as concurrent queries, and each would otherwise
        re-run the prepare (a Python mapInArrow) and the DRUM join. The
        url_seen keys are read from the materialized rows."""
        seen = self.store.read("url_seen")
        fresh, _ = check_update_agg(
            prepared,
            seen,
            key_col="url_hash",
            order_col="depth",
            num_buckets=self.cfg.num_buckets,
            bloom_dir=self.cfg.bloom_dir,
            # per-bucket contract: only trust a sidecar file whose epoch
            # covers the last batch that wrote keys for ITS bucket
            # (node-local dirs on a cluster can lag; membership.py)
            bloom_min_epoch=(
                self._bucket_key_epochs()
                if self.cfg.bloom_dir is not None
                else None
            ),
        )
        fresh = materialize(
            fresh.withColumn(
                "enqueue_batch", F.lit(batch_id).cast("int")
            ).select(*[f.name for f in FRONTIER_SCHEMA.fields]),
            "loop-fresh",
        )
        uniques = fresh.select(
            "url_hash",
            bucket_col("url_hash", self.cfg.num_buckets).alias("bucket"),
        )
        return fresh, uniques

    def _bucket_key_epochs(self) -> dict[int, int]:
        """bucket -> last committed batch that appended url_seen keys for
        it, derived from the store's run listing (run names carry their
        batch id; url_seen runs are bucket-partitioned, so the bucket set
        of a run is its partition dirs). This is the validation map the
        Bloom sidecar epoch contract compares node-local files against
        (membership.py). Local/posix listing; an object-store-backed
        TableStore supplies the same via its listing API."""
        import os

        from jirlbot_spark.operators.membership import parse_run_batch

        out: dict[int, int] = {}
        for run in self.store.manifest()["tables"].get("url_seen", []):
            eb = parse_run_batch(run)
            rdir = os.path.join(self.store.root, "url_seen", run)
            try:
                parts = os.listdir(rdir)
            except FileNotFoundError:
                continue
            for d in parts:
                if d.startswith("bucket="):
                    b = int(d.split("=", 1)[1])
                    out[b] = max(out.get(b, -1), eb)
        return out

    def _sitemap_links(self, fetched: DataFrame) -> DataFrame:
        """Sitemap discovery channel: fetched bodies that look like
        sitemaps yield their entries as (src_url, out_url) link rows.

        Candidate sniff is pure-JVM over the body bytes — XML sitemaps
        by their root-element marker in the head, gz members by magic
        (a non-sitemap gz inflates, parses to nothing, and costs one
        bounded decode — real .gz responses are overwhelmingly sitemap
        members since HTTP compresses content transparently), xml
        content-types, and plain-text ones only when the URL itself
        says 'sitemap' (a bare text file of URLs is otherwise
        indistinguishable from content). Only candidates pay the
        Python decode (gz inflate under the protocol's 50 MiB cap). Both entry kinds enqueue: a
        <sitemap> index entry is a URL whose own fetch parses again
        next batch — recursion across batches with no loop-side state,
        terminated by url_seen dedup like any other URL."""
        from jirlbot_spark.operators.sitemaps import (
            sitemap_body_text,
            sitemap_entries,
        )

        body = F.col("body")
        head = F.substring(body, 1, 4096)
        looks_xml = F.contains(head, F.lit(b"<urlset")) | F.contains(
            head, F.lit(b"<sitemapindex")
        )
        is_gz = F.substring(body, 1, 2) == F.lit(b"\x1f\x8b")
        urlish = F.lower(F.col("url")).contains("sitemap")
        ct_xml = (
            F.lower(F.coalesce(F.col("content_type"), F.lit(""))).contains(
                "xml"
            )
            if "content_type" in fetched.columns
            else F.lit(False)
        )
        cand = fetched.filter(
            body.isNotNull()
            & (F.length(body) > 0)
            & (looks_xml | is_gz | urlish | ct_xml)
        ).select("url", body.alias("__body"))
        docs = cand.select(
            F.col("url").alias("sitemap_url"),
            sitemap_body_text(F.col("__body")).alias("body_text"),
        )
        return sitemap_entries(docs).select(
            F.col("src").alias("src_url"), F.col("loc").alias("out_url")
        )

    def ingest_seeds(self, seeds: DataFrame, url_col: str = "url") -> int:
        """Batch 0: canonicalize + dedup seeds into the frontier. Returns
        the number of fresh seeds: the committed url_seen run holds one
        key per fresh row, and its row count is store metadata, so the
        seed prepare and the DRUM join do not run a second time."""
        run = self._ingest(seeds, 0, url_col).get("url_seen")
        return 0 if run is None else self.store.run_rows("url_seen", run)

    def _ingest(
        self, seeds: DataFrame, batch_id: int, url_col: str = "url"
    ) -> dict[str, str]:
        """Seed ingest as its own DRUM check_update, committed as batch
        `batch_id` (commit_batch rejects an id already committed); the
        fresh rows, due at batch_id + 1, join the committed frontier when
        one exists. Returns commit_batch's runs written."""
        prepared = self._prepare_urls(seeds, url_col, None, 0)
        fresh, uniques = self._dedup_new(prepared, batch_id + 1)
        frontier = self.store.read("frontier")
        runs = self.store.commit_batch(
            batch_id,
            {
                "frontier": TableWrite(
                    fresh if frontier is None else frontier.unionByName(fresh),
                    mode="overwrite",
                ),
                "url_seen": TableWrite(uniques, partition_by=("bucket",)),
            },
            pre_commit=self._update_bloom,
        )
        release(fresh)
        return runs

    def _update_bloom(self, runs: dict[str, str]) -> None:
        """OR the batch's new url_seen run into the Bloom sidecars. Runs
        as commit_batch's pre_commit hook — BEFORE the manifest swap —
        so a crash can only leave filters OVER-filled relative to the
        committed store (extra exact-join probes, never a Bloom false
        negative; see storage.commit_batch docstring). Re-running the
        aborted batch re-ORs the same keys, which is idempotent."""
        if self.cfg.bloom_dir is None or "url_seen" not in runs:
            # no new keys ⇒ nothing to OR, and (per-bucket contract)
            # existing files stay valid without any epoch touch-up
            return
        import os

        from jirlbot_spark.operators.membership import update_bloom_files

        new_keys = self.spark.read.parquet(
            os.path.join(self.store.root, "url_seen", runs["url_seen"])
        )
        # pre_commit runs BEFORE the manifest swap, so the manifest (and
        # hence _bucket_key_epochs) still reflects the PRIOR committed
        # state: a bucket's file must cover every earlier key-writing
        # batch for that bucket to be ORed into; anything lagging gets
        # invalidated rather than fresh-built from one batch, and a
        # missing file fresh-builds only for buckets with no prior keys
        # (membership.py per-bucket contract)
        update_bloom_files(
            new_keys,
            self.cfg.bloom_dir,
            num_buckets=self.cfg.num_buckets,
            epoch=self.store.last_batch() + 1,
            bucket_key_epochs=self._bucket_key_epochs(),
        )

    # ---- one crawl pass ----
    def run_batch(self, j: int) -> dict:
        assert j >= 1, "batch 0 is seed ingest"
        cfg = self.cfg
        frontier = self.store.read("frontier")
        # freshness-driven revisits join THIS batch's candidates: due
        # URLs (exact-integer staleness rule over the COMMITTED
        # content_hash history — a refetch is committed before its next
        # evaluation, so revisits self-space with no echo) re-enter
        # ahead of BEAST/robots/politeness like any candidate and never
        # touch url_seen. Evaluated before the empty-frontier check: a
        # continuous crawl goes idle, not done, while pages age.
        if cfg.recrawl_threshold is not None:
            revisit = self._recrawl_due(j, frontier)
            if revisit is not None:
                frontier = (
                    revisit
                    if frontier is None
                    else frontier.unionByName(revisit)
                )
        # backpressure: per-bucket windowed top-k (the O20 shape — never a
        # global sort/limit) marks the pass's candidates; overflow rides
        # to the next frontier untouched (cfg.max_urls_per_batch docstring
        # pins the bound)
        cap = cfg.max_urls_per_batch
        if frontier is not None:
            if cap is not None:
                frontier = throttle_frontier(frontier, cap, cfg.num_buckets)
            frontier = materialize(frontier, "loop-frontier")
        if frontier is None or not frontier.head(1):
            release(frontier)
            # with recrawl on, an empty batch is IDLE, not done — pages
            # keep aging toward their next revisit (run() keeps going)
            return {
                "batch": j,
                "rows_in": 0,
                "fetched": 0,
                "done": cfg.recrawl_threshold is None,
                "idle": cfg.recrawl_threshold is not None,
            }
        overflow = None
        if cap is not None:
            overflow = frontier.filter(~F.col("__admit")).drop("__admit")
            frontier = frontier.filter("__admit").drop("__admit")

        # STAR budgets from the pld graph as of the last commit
        pld_graph = self.store.read("pld_graph")
        budgets = (
            star_budgets_scalable(
                pld_indegree(pld_graph),
                top_k=cfg.top_k,
                b_hi=cfg.b_hi,
                b_lo=cfg.b_lo,
            ).select("pld_hash", "budget")
            if pld_graph is not None
            else None
        )

        # BEAST admission
        enforced = beast_enforce(
            frontier,
            budgets,
            default_budget=cfg.default_budget,
            salt_buckets=cfg.salt_buckets,
        )
        admitted, deferred_budget = split_admitted(enforced)

        # robots gate
        robots = self.store.read("robots")
        path = F.regexp_extract("url", r"^[a-z]+://[^/]+(/.*)$", 1)
        admitted = admitted.withColumn(
            "path", F.when(path == "", "/").otherwise(path)
        )
        checked = materialize(
            robots_ops.robots_check(admitted, robots), "loop-checked"
        )
        passed = checked.filter(F.col("robots_status") == "PASS").drop(
            "robots_status", "path"
        )
        deferred_robots = checked.filter(
            F.col("robots_status") == "UNKNOWN"
        ).drop("robots_status", "path")
        bodies = resolved = None

        # fetch robots for hosts seen but unknown (once per host ever).
        # The committed robots table IS the requested set: a host's rules
        # are fetched, parsed and committed in the same atomic batch that
        # first requests them, so no host is ever requested yet ruleless.
        hosts_to_fetch = robots_ops.robots_requested_new(
            checked.select("host_hash", "host"), robots
        )
        if self.robots_fetcher is not None:
            # LIVE path: raw bodies parsed with the full RFC 9309 grammar;
            # fetch failures parse to no rules = allow-all
            # (robots_http_fetcher docstring pins the policy). Materialized:
            # the parser scans its input in a dozen branches, and each
            # would otherwise re-run the fetch (real traffic on a cluster).
            bodies = materialize(
                self.robots_fetcher(hosts_to_fetch.select("host")),
                "robots-bodies",
            )
            rules = robots_ops.parse_robots_txt_df(
                bodies, user_agent=cfg.user_agent
            )
        else:
            rules = self.robots_source
        # one left join: a host the rules do not name (or name with null
        # lists) commits allow-all with no crawl delay
        joined = (
            hosts_to_fetch
            if rules is None
            else hosts_to_fetch.join(rules, "host", "left")
        )
        empty_rules = F.array().cast("array<string>")

        def rule(name: str, default):
            if name in joined.columns:
                default = F.coalesce(name, default)
            return default.alias(name)

        new_robots = joined.select(
            "host_hash",
            "host",
            rule("allow", empty_rules),
            rule("disallow", empty_rules),
            rule("crawl_delay", F.lit(0.0)),
        )

        # politeness schedule + fetch
        delays = (
            robots.select("host_hash", "crawl_delay")
            if robots is not None
            else None
        )
        to_fetch = (
            passed.join(delays, "host_hash", "left")
            if delays is not None
            else passed.withColumn("crawl_delay", F.lit(0.0))
        )
        if cfg.adaptive_delay:
            prior_log = self.store.read("fetch_log")
            if prior_log is not None and "rtt_ms" in prior_log.columns:
                from jirlbot_spark.operators.adaptive_politeness import (
                    adaptive_host_delays,
                    with_adaptive_delay,
                )

                window_log = prior_log.filter(
                    (F.col("batch") >= j - ADAPTIVE_LOOKBACK_BATCHES)
                    & F.col("rtt_ms").isNotNull()
                )
                to_fetch = with_adaptive_delay(
                    to_fetch,
                    adaptive_host_delays(
                        window_log,
                        min_delay_ms=int(cfg.min_delay_s * 1000),
                    ),
                    min_delay_s=cfg.min_delay_s,
                )
        polite_col = "host"
        dns_delta = None
        if self.dns_resolver is not None:
            from jirlbot_spark.operators import dns as dns_ops

            dns_prior = self.store.read("dns_cache")
            if dns_prior is not None:
                dns_prior = dns_ops.collapse_dns_runs(dns_prior)
            hosts_named = passed.select("host_hash", "host").distinct()
            need = dns_ops.dns_needed(hosts_named, dns_prior, j).join(
                hosts_named, "host_hash"
            )
            # materialized: the delta keys this batch's politeness AND
            # gets committed below — without it the resolver (real DNS
            # traffic on a cluster) would run once per consumer. Entries
            # live dns.DEFAULT_TTL_BATCHES batches (deterministic under
            # resume/replay).
            resolved = materialize(self.dns_resolver(need), "dns-delta")
            dns_delta = dns_ops.refresh_dns_cache(None, resolved, j)
            cache_now = (
                dns_delta
                if dns_prior is None
                else dns_prior.join(
                    dns_delta.select("host_hash"), "host_hash", "left_anti"
                ).unionByName(dns_delta)
            )
            to_fetch = dns_ops.attach_server_key(to_fetch, cache_now)
            polite_col = "serve_key"
        scheduled = politeness_schedule(
            to_fetch, host_col=polite_col, min_delay_s=cfg.min_delay_s
        )
        scheduled = scheduled.withColumn(
            "image_id",
            F.format_string(
                "img%010d", F.crc32(F.col("url")) % cfg.image_scale
            ),
        )
        if self.fetch_backend is not None:
            fetched = self.fetch_backend(scheduled)
        elif self.pages is not None:
            fetched = table_fetch(scheduled, self.pages, "image_id")
        else:
            fetched = scheduled
        fetched = materialize(
            fetched.withColumn("batch", F.lit(j)), "loop-fetched"
        )

        # link extraction + PLD graph update. Redirect targets (3xx
        # Location, possibly RELATIVE — live-HTTP backends surface the
        # header instead of auto-following) join the same stream: they
        # must pass canonicalize -> DRUM -> budgets -> politeness like
        # any discovered URL, and redirect loops die in url_seen dedup.
        links = None
        if self.link_table is not None:
            links = extract_links(fetched, self.link_table, src_col="url")
        if {"status", "location"}.issubset(set(fetched.columns)):
            redirs = route_redirects(fetched, src_col="url")
            links = redirs if links is None else links.unionByName(redirs)
        # Fetched bodies that look like sitemaps (urlset/sitemapindex XML
        # or gz with a sitemap-ish URL) enqueue their entries as links;
        # index files recurse naturally (a <sitemap> entry is a URL that,
        # once fetched, parses again). Only backends that surface a `body`
        # column (live HTTP) take part; candidate selection is a cheap JVM
        # byte sniff so non-sitemap pages never hit Python.
        if "body" in fetched.columns:
            sm_links = self._sitemap_links(fetched)
            links = (
                sm_links if links is None else links.unionByName(sm_links)
            )
        if links is not None:
            src_info = fetched.select(
                F.col("url").alias("src_url"),
                F.col("depth").alias("src_depth"),
                F.col("pld_hash").alias("src_pld"),
            ).distinct()
            links = links.join(src_info, "src_url").withColumn(
                "new_depth", (F.col("src_depth") + 1).cast("int")
            )
            # per-link depth = src depth + 1; a URL reached from several
            # sources gets its MIN depth (check_update keeps the first
            # arrival under order_col=depth). src_pld rides through
            # canonicalization so edges pair canonical dst with its source.
            # base_col=src_url: relative refs (redirect Locations, and any
            # backend-extracted relative hrefs) resolve against the page
            # that produced them; absolute link-table URLs pass through
            # resolution untouched.
            prepared = self._prepare_urls(
                links,
                "out_url",
                "src_url",
                "new_depth",
                keep=("src_pld",),
            )
            if cfg.url_filter_opts is not None:
                from jirlbot_spark.operators.url_filter import (
                    url_spam_filter,
                )

                flagged = url_spam_filter(
                    prepared, url_col="url", **cfg.url_filter_opts
                )
                prepared = flagged.filter("keep").drop(
                    "keep",
                    *[c for c in flagged.columns if c.startswith("flag_")],
                )
            # read by the pld_graph edges and by DRUM
            prepared = materialize(prepared, "loop-links")
            edges = prepared.select(
                "src_pld", F.col("pld_hash").alias("dst_pld")
            )
            new_edges = distinct_new_edges(edges, pld_graph)
            fresh, uniques = self._dedup_new(
                prepared.drop("src_pld"), j + 1
            )
        else:
            prepared = new_edges = fresh = uniques = None

        # assemble frontier_{j+1}: budget-deferred ∪ robots-deferred ∪ new
        cols = [f.name for f in FRONTIER_SCHEMA.fields]
        next_frontier = deferred_budget.select(*cols).unionByName(
            deferred_robots.withColumn(
                "enqueue_batch", F.col("enqueue_batch") + 1
            ).select(*cols)
        )
        if fresh is not None:
            next_frontier = next_frontier.unionByName(fresh.select(*cols))
        if overflow is not None:
            # backpressure overflow re-queues as-is (same enqueue_batch:
            # it was never admitted, so it keeps aging for priority)
            next_frontier = next_frontier.unionByName(
                overflow.select(*cols)
            )

        fetch_log = fetched.select(
            "url_hash",
            "url",
            "host",
            "batch",
            "seq_in_host",
            "planned_at_s",
            "priority",
            F.col("image_id"),
            # live-HTTP backends add status/timing; log them (never the
            # body — fetch_log must stay narrow at 10^10 rows)
            *[
                c
                for c in ("status", "content_type", "fetched_at_s",
                          "rtt_ms")
                if c in fetched.columns
            ],
            # change signal for recrawl scheduling: a 32-bit payload
            # checksum (narrow — never the body) when bytes are present
            *(
                [F.crc32("bytes").cast("long").alias("content_hash")]
                if "bytes" in fetched.columns
                else []
            ),
        )
        # payload verification (north rule: per-row decoded-pixel +
        # caption invariant inside the fetch microbatch). Verified per
        # DISTINCT image payload: N frontier URLs can map to one image,
        # and decode cost must scale with |images fetched|, not |URLs|.
        verify_log = None
        if self.pages is not None and "bytes" in fetched.columns:
            from jirlbot_spark.operators.fetch import verify_payload

            # distinct on the NARROW image_id column, then re-attach the
            # payload from the pages table (broadcastable) — never
            # shuffle image bytes just to dedupe them
            ids = (
                fetched.filter(F.col("bytes").isNotNull())
                .select("image_id")
                .dropDuplicates(["image_id"])
            )
            verify_log = verify_payload(
                ids.join(self.pages, "image_id")
            ).withColumn("batch", F.lit(j))

        metrics = fetched.groupBy(
            F.lit(j).alias("batch"), F.spark_partition_id().alias("partition_id")
        ).agg(
            F.count("*").alias("rows_fetched"),
            F.count("image_id").alias("payload_rows"),
        )

        writes = {
            "frontier": TableWrite(next_frontier, mode="overwrite"),
            "fetch_log": TableWrite(fetch_log),
            "metrics": TableWrite(metrics),
            "robots": TableWrite(new_robots),
        }
        if verify_log is not None:
            writes["verify_log"] = TableWrite(verify_log)
        if uniques is not None:
            writes["url_seen"] = TableWrite(uniques, partition_by=("bucket",))
        if new_edges is not None:
            writes["pld_graph"] = TableWrite(new_edges)
        if dns_delta is not None:
            writes["dns_cache"] = TableWrite(dns_delta)
        self.store.commit_batch(j, writes, pre_commit=self._update_bloom)

        # the stats count materialized frames: no lineage re-runs
        stats = {
            "batch": j,
            "rows_in": frontier.count(),
            "fetched": fetched.count(),
            "blocked": checked.filter(
                F.col("robots_status") == "FAIL"
            ).count(),
            "done": False,
        }
        release(frontier, checked, bodies, resolved, fetched, prepared, fresh)
        return stats

    def run(self, n_batches: int, start: int | None = None) -> list[dict]:
        first = (start if start is not None else self.store.last_batch() + 1)
        out = []
        every = self.cfg.compact_every
        for j in range(first, first + n_batches):
            s = self.run_batch(j)
            out.append(s)
            if s.get("done"):
                break
            if every and j % every == 0:
                self.store.compact("url_seen", partition_by=("bucket",))
                if self.cfg.bloom_dir is not None:
                    # the compacted run carries the compaction batch id,
                    # which raises every bucket's required epoch — rebuild
                    # the sidecars from the (just-compacted) store so they
                    # re-enter contract; both passes are O(store), and
                    # compaction is the rare maintenance moment
                    from jirlbot_spark.operators.membership import (
                        build_bloom_files,
                    )

                    seen = self.store.read("url_seen")
                    if seen is not None:
                        build_bloom_files(
                            seen,
                            self.cfg.bloom_dir,
                            num_buckets=self.cfg.num_buckets,
                            epoch=self.store.last_batch(),
                        )
        return out
