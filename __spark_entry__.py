"""Driver contract for the spark-graft builder (PySpark target).

Each queries() entry exercises a jirlbot_spark operator (SURVEY.md §2 keys)
over the read-only /root/testdata tables, with an exact ANSI-SQL twin in
oracle_sql() for the DuckDB side-by-side check. Parity rules used
throughout (so value-hashes match bit-for-bit):

  - float aggregation goes through DECIMAL(18,2) (exact) then casts to
    DOUBLE; cosine similarity uses integer-quantized vectors (FLOOR(x*1000))
    so dot products are exact integers in both engines
  - every computed column is aliased identically on both sides
  - ranking tiebreaks are always explicit (never rely on storage order)
  - budget math uses FLOOR with the same operation order on both sides

Two further oracle families beyond table-derived SQL:

  - VALUES goldens (jirlbot_spark/goldens_sql.py, generated by
    tools/gen_goldens.py) for keys whose inputs are seeded fixtures:
    image_verify(+_lossy), phash, image_resize, audio_features,
    frame_sample (expected rows computed by direct generator+codec
    application), dedup_simhash (direct kernel + O(n²) reference of the
    block-candidate rule), ann_lsh (bit-exact left-fold replication of
    the JVM sketch/rerank arithmetic), and resume_state (expected
    fetch_log from the INDEPENDENT pure-Python crawl simulator, across
    a checkpoint-resume split).
  - dedup_minhash's twin computes the full exact-Jaccard pair set, so
    oracle equality also asserts LSH recall=1 on the fixture.

The one rows-only key (no SQL twin): ann_ivf — its training is the same
driver k-means a golden would rerun (circular), so its gates stay in
tests/ (recall vs brute; ≡ brute at nprobe = n_centroids).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

FP_MOD = 2_147_483_647
HASH_A = 2_654_435_761  # Knuth multiplicative constant (oracle-side hash)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- queries

def q_seed_scan(spark, sf):
    o = _t(spark, sf, "orders")
    return o.filter(F.col("o_totalprice") > 100).select(
        F.col("o_orderkey").alias("url_id"),
        F.col("o_custkey").alias("pld_id"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("priority"),
    )


def q_canonicalize(spark, sf):
    from jirlbot_spark.functions.urls_arrow import canonicalize_udf

    o = _t(spark, sf, "orders")
    dirty = F.format_string(
        "HTTP://Site%d.COM:80/o/%d#frag",
        (F.col("o_custkey") % 100).cast("int"),
        F.col("o_orderkey").cast("int"),
    )
    return o.select(
        F.col("o_orderkey").alias("url_id"),
        canonicalize_udf(dirty, F.lit("")).alias("canonical_url"),
    )


def q_pld_extract(spark, sf):
    from jirlbot_spark.functions.urls_arrow import pld_udf

    c = _t(spark, sf, "customer")
    host = F.format_string(
        "shop%d.sub.site%d%s",
        F.col("c_custkey").cast("int"),
        (F.col("c_custkey") % 50).cast("int"),
        F.when(F.col("c_custkey") % 4 == 0, ".co.uk").otherwise(".com"),
    )
    return c.select(
        F.col("c_custkey").alias("cust_id"), pld_udf(host).alias("pld")
    )


def q_url_hash(spark, sf):
    """The REAL frontier key — murmur3_x64_128[0:64] via url_hash_col, an
    arrow_udf over functions/hashing.murmur3_64_from_arrow (the kernel the
    fused prepare pass hashes with) over a deterministic URL corpus whose lengths sweep every mod-16
    residue. The golden oracle (golden_url_hash) computes the same hashes
    with the INDEPENDENT pure-Python scalar reference
    (tests/scalar_murmur3.py, written from Appleby's public-domain
    MurmurHash3.cpp), so this key asserts algorithm correctness, not just
    plumbing."""
    from jirlbot_spark.functions.hashing import bucket_col, url_hash_col
    from jirlbot_spark.sources.fixtures import gen_hash_urls

    pdf = gen_hash_urls(512)
    df = spark.createDataFrame(
        [(int(i), str(u)) for i, u in zip(pdf["url_id"], pdf["url"])],
        "url_id long, url string",
    )
    return df.select(
        "url_id",
        url_hash_col("url").alias("url_hash"),
        bucket_col(url_hash_col("url"), 32).alias("bucket"),
    )


def q_urlseen_dedup(spark, sf):
    from jirlbot_spark.operators.dedup import classify_batch

    o = _t(spark, sf, "orders")
    batch = o.select(
        F.col("o_orderkey").alias("url_hash"),
        F.col("o_orderkey").alias("arrival"),
    )
    seen = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("url_hash")
    )
    out = classify_batch(batch, seen, order_col="arrival")
    return out.select(
        F.col("url_hash").alias("url_id"), F.col("drum_result")
    )


def q_urlseen_dedup_bloom(spark, sf):
    """Same classification as urlseen_dedup, but through the Bloom
    membership fast path (operators/membership.py) — identical output
    against the identical oracle proves the filters are physical-only."""
    import tempfile

    from jirlbot_spark.operators.dedup import classify_batch
    from jirlbot_spark.operators.membership import build_bloom_files

    o = _t(spark, sf, "orders")
    batch = o.select(
        F.col("o_orderkey").alias("url_hash"),
        F.col("o_orderkey").alias("arrival"),
    )
    seen = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("url_hash")
    )
    d = tempfile.mkdtemp(prefix="bloom_oracle_")
    build_bloom_files(seen, d, num_buckets=8, log2_bits=22)
    out = classify_batch(
        batch, seen, order_col="arrival", num_buckets=8, bloom_dir=d
    )
    return out.select(
        F.col("url_hash").alias("url_id"), F.col("drum_result")
    )


def q_urlseen_dedup_agg(spark, sf):
    """check_update_agg (the loop/bench hot-path formulation: min_by
    aggregation + shuffle_hash anti-join, zero sorts): returns the fresh
    first-arrival rows. The batch carries a deliberate in-batch duplicate
    of every key (later arrival) so the map-side combine path is
    exercised; the oracle is the closed-form answer."""
    from jirlbot_spark.operators.dedup import check_update_agg

    o = _t(spark, sf, "orders")
    once = o.select(
        F.col("o_orderkey").alias("url_hash"),
        F.col("o_orderkey").alias("arrival"),
    )
    again = once.withColumn(
        "arrival", F.col("arrival") + F.lit(10_000_000_000)
    )
    batch = once.unionByName(again)
    seen = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("url_hash")
    )
    fresh, _ = check_update_agg(batch, seen, order_col="arrival")
    return fresh.select(
        F.col("url_hash").alias("url_id"),
        F.col("__seq").alias("first_arrival"),
    )


def q_batch_distinct(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.select("l_orderkey", "l_partkey")
        .dropDuplicates()
        .groupBy(F.col("l_partkey").alias("part_id"))
        .agg(F.count("*").alias("n_orders"))
    )


def q_robots_requested_anti(spark, sf):
    from jirlbot_spark.operators.robots import robots_requested_new

    o = _t(spark, sf, "orders")
    s = _t(spark, sf, "supplier")
    hosts = o.select((F.col("o_custkey") % 200).alias("host_hash"))
    requested = s.select(F.col("s_suppkey").cast("long").alias("host_hash"))
    return robots_requested_new(hosts, requested)


def _robots_tables(spark, sf):
    o = _t(spark, sf, "orders")
    s = _t(spark, sf, "supplier")
    urls = o.select(
        F.col("o_orderkey").alias("url_id"),
        (F.col("o_custkey") % 150).alias("host_hash"),
        F.format_string(
            "/o/%d", (F.col("o_orderkey") % 20).cast("int")
        ).alias("path"),
    )
    robots = s.select(
        F.col("s_suppkey").cast("long").alias("host_hash"),
        F.when(F.col("s_acctbal") < 0, F.array(F.lit("/")))
        .when(F.col("s_suppkey") % 5 == 0, F.array(F.lit("/o/1")))
        .otherwise(F.array().cast("array<string>"))
        .alias("disallow"),
    )
    return urls, robots


def q_robots_check(spark, sf):
    from jirlbot_spark.operators.robots import robots_check

    urls, robots = _robots_tables(spark, sf)
    return robots_check(urls, robots).select("url_id", "robots_status")


def q_robots_rfc(spark, sf):
    """Full RFC-9309-shape grammar THROUGH parse_robots_txt_df +
    robots_check: raw robots.txt bodies (comments, UA groups,
    specific-beats-*, Allow/Disallow longest-match with allow tie-win,
    mid-rule `*`, `$` anchors, regex metachars, "/" sentinel, malformed
    Crawl-delay -> try_cast default). Oracle = VALUES golden from an
    INDEPENDENT pure-Python line-loop evaluator (golden_robots_rfc) —
    the grammar is pinned by the driver contract, not just pytest."""
    from jirlbot_spark.operators.robots import parse_robots_txt_df, robots_check
    from jirlbot_spark.sources.fixtures import robots_rfc_scenario

    bodies, urls = robots_rfc_scenario()
    raw = spark.createDataFrame(bodies)
    parsed = parse_robots_txt_df(raw, user_agent="jirlbot")
    u = spark.createDataFrame(urls)
    return robots_check(u, parsed, host_col="host").join(
        parsed.select("host", "crawl_delay"), "host"
    ).select("url_id", "robots_status", "crawl_delay")


def q_sitemap_parse(spark, sf):
    """sitemaps.org protocol through operators/sitemaps.sitemap_entries:
    urlset + sitemapindex + plain-text docs, XML entities, lastmod,
    loc-less blocks dropped. Oracle = INDEPENDENT pure-SQL extraction
    (DuckDB regexp_extract_all over the same VALUES), not a golden."""
    from jirlbot_spark.operators.sitemaps import sitemap_entries
    from jirlbot_spark.sources.fixtures import sitemap_scenario

    docs = spark.createDataFrame(
        sitemap_scenario(), "sitemap_url string, body_text string"
    )
    return sitemap_entries(docs)


def q_redirect_resolve(spark, sf):
    """3xx Location routing: route_redirects filters the redirect family
    and the target resolves RFC-3986-style against the redirecting page
    (canonicalize_udf with a base column: urls_arrow.canonicalize_chunk,
    the resolve + canonicalize kernel prepare_urls_fused runs for links in
    the crawl loop).
    Oracle = INDEPENDENT pure-SQL merge (DuckDB CASE over the same
    VALUES; fixture rows are canonical-clean so SQL resolution is exact;
    messy inputs are covered by the urljoin cross-check in tests/)."""
    from jirlbot_spark.functions.urls_arrow import canonicalize_udf
    from jirlbot_spark.operators.fetch import route_redirects
    from jirlbot_spark.sources.fixtures import redirect_scenario

    df = spark.createDataFrame(
        redirect_scenario(), "src_url string, status long, location string"
    )
    r = route_redirects(df, src_col="src_url")
    return r.select(
        "src_url",
        canonicalize_udf(F.col("out_url"), F.col("src_url")).alias(
            "target"
        ),
    )


def q_sample_stratified(spark, sf):
    """Deterministic per-stratum sampling + train/val/test split over the
    documents table (operators/sampling.py). The injected Knuth
    multiplicative hash is reproducible in DuckDB, so the oracle
    recomputes every keep/assign decision itself in pure SQL — an
    independent twin; the xxhash64 default path is pytest-covered."""
    from jirlbot_spark.operators.sampling import (
        split_dataset,
        stratified_sample,
    )

    docs = _t(spark, sf, "documents")
    aff = lambda k: (F.col("doc_id") + F.lit(k)) * F.lit(HASH_A) % F.lit(  # noqa: E731
        FP_MOD
    )
    rates = spark.createDataFrame(
        [("en", 0.8), ("de", 0.5), ("fr", 0.25)], ["lang", "rate"]
    )
    sampled = stratified_sample(
        docs.select("doc_id", "lang"),
        rates,
        ["lang"],
        ["doc_id"],
        default_rate=0.1,
        hash_expr=aff(1),
    )
    return split_dataset(
        sampled,
        [("train", 0.8), ("val", 0.1), ("test", 0.1)],
        ["doc_id"],
        hash_expr=aff(7),  # independent hash: split must not correlate
    ).select("doc_id", "lang", "split")


def q_warc_roundtrip(spark, sf):
    """WARC (ISO 28500) connector round-trip: fixture fetch results →
    per-record-gzip-member .warc.gz files → record walk back. Output =
    (target_uri, status, content_type, payload length + JVM crc32);
    the DuckDB twin carries the same tuples with zlib-crc32 checksums —
    equality asserts the archive preserves every byte through two
    INDEPENDENT crc32 implementations."""
    import tempfile

    from jirlbot_spark.sources.fixtures import warc_scenario
    from jirlbot_spark.sources.warc import read_warc, write_warc

    out = tempfile.mkdtemp(prefix="jirlbot_warc_key_")
    df = spark.createDataFrame(
        warc_scenario(),
        "url string, status long, content_type string, body binary",
    )
    write_warc(df.repartition(2), out).collect()
    return read_warc(spark, out).select(
        "target_uri",
        "status",
        "content_type",
        F.length("payload").alias("payload_len"),
        F.crc32("payload").alias("payload_crc"),
    )


def _edges(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(
        F.col("l_suppkey").cast("long").alias("src_pld"),
        (F.col("l_partkey") % 80).cast("long").alias("dst_pld"),
    )


def q_pld_indegree(spark, sf):
    from jirlbot_spark.operators.star import distinct_new_edges, pld_indegree

    return pld_indegree(distinct_new_edges(_edges(spark, sf), None))


def q_pld_pagerank(spark, sf):
    """Fixed-point-arithmetic PageRank over the PLD graph (3 iterations,
    damping exactly 17/20, all-int64 recurrence — operators/star.py
    pld_pagerank). The oracle UNROLLS the same recurrence in pure DuckDB
    SQL over the raw lineitem edge derivation — no golden, no shared
    kernel — so green asserts the iteration math end-to-end."""
    from jirlbot_spark.operators.star import pld_pagerank

    return pld_pagerank(_edges(spark, sf), iterations=3)


def _pagerank_oracle(iterations: int = 3) -> str:
    """Unrolled independent SQL replication of pld_pagerank's pinned
    integer recurrence (DuckDB `//` == Spark `DIV` on the all-positive
    operands here)."""
    parts = [
        """WITH edges AS (
            SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                   CAST(l_partkey % 80 AS BIGINT) AS dst
            FROM lineitem
            WHERE CAST(l_suppkey AS BIGINT) <> CAST(l_partkey % 80 AS BIGINT)
        ),
        nodes AS (SELECT src AS pld FROM edges
                  UNION SELECT dst FROM edges),
        outdeg AS (SELECT src, COUNT(*) AS c FROM edges GROUP BY src),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        r0 AS (SELECT pld, CAST(1000000 AS BIGINT) AS rank FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(f""",
        in{i} AS (SELECT e.dst AS pld, SUM(r.rank // o.c) AS s
                  FROM edges e
                  JOIN r{i - 1} r ON e.src = r.pld
                  JOIN outdeg o ON e.src = o.src
                  GROUP BY e.dst),
        d{i} AS (SELECT COALESCE(SUM(rank), 0) AS d FROM r{i - 1}
                 WHERE pld NOT IN (SELECT src FROM outdeg)),
        r{i} AS (SELECT n0.pld,
                        CAST(150000 + (17 * (COALESCE(i0.s, 0)
                             + (SELECT d FROM d{i}) // (SELECT n FROM nn)))
                             // 20 AS BIGINT) AS rank
                 FROM nodes n0 LEFT JOIN in{i} i0 ON n0.pld = i0.pld)""")
    parts.append(
        f"\n        SELECT pld AS pld_hash, rank AS pagerank"
        f" FROM r{iterations}"
    )
    return "".join(parts)


def q_star_budget(spark, sf):
    """Registered on star_budgets_scalable (the per-partition-top-k
    pruned two-phase ranking the crawl loop itself uses) — the all-PLD
    single-partition-window variant exists only as the property-test
    reference. Tail PLDs get budget=b_lo and no exact rank by design;
    rank is presented as 0 for the tail so the driver compare sees no
    NULLs."""
    from jirlbot_spark.operators.star import (
        distinct_new_edges,
        pld_indegree,
        star_budgets_scalable,
    )

    deg = pld_indegree(distinct_new_edges(_edges(spark, sf), None))
    return star_budgets_scalable(deg, top_k=20, b_hi=1000, b_lo=10).select(
        "pld_hash",
        "indegree",
        F.coalesce(F.col("rank"), F.lit(0)).cast("int").alias("rank"),
        "budget",
    )


def _frontier(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        F.col("o_orderkey").alias("url_hash"),
        (F.col("o_custkey") % 100).alias("pld_hash"),
        F.substring("o_orderpriority", 1, 1).cast("double").alias("priority"),
        F.lit(0).alias("enqueue_batch"),
    )


def q_beast_enforce(spark, sf):
    from jirlbot_spark.operators.beast import beast_enforce

    f = _frontier(spark, sf)
    budgets = f.select("pld_hash").distinct().select(
        "pld_hash", (F.lit(3) + F.col("pld_hash") % 5).cast("long").alias("budget")
    )
    out = beast_enforce(f, budgets, salt_buckets=8)
    return out.filter(F.col("admitted")).select(
        F.col("url_hash").alias("url_id"),
        "pld_hash",
        F.col("admit_rank").alias("rnk"),
    )


def q_politeness_schedule(spark, sf):
    from jirlbot_spark.operators.politeness import politeness_schedule

    e = _t(spark, sf, "events")
    df = e.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).cast("double").alias(
            "prio"
        ),
        (F.lit(1.0) + (F.col("user_id") % 3).cast("double")).alias(
            "crawl_delay"
        ),
    )
    out = politeness_schedule(
        df,
        host_col="user_id",
        priority_col="prio",
        key_col="event_id",
        delay_col="crawl_delay",
        min_delay_s=1.0,
    )
    return out.select("event_id", "user_id", "seq_in_host", "planned_at_s")


def q_fetch_join(spark, sf):
    from jirlbot_spark.operators.fetch import table_fetch

    o = _t(spark, sf, "orders")
    p = _t(spark, sf, "part")
    # |part| as a broadcast single-row frame inside the plan — no eager
    # driver-side count() at query-construction time
    n_parts = p.selectExpr("count(*) AS __n")
    frontier = o.crossJoin(F.broadcast(n_parts)).select(
        F.col("o_orderkey").alias("url_id"),
        (F.col("o_orderkey") % F.col("__n")).alias("p_partkey"),
    )
    pages = p.select("p_partkey", F.col("p_name").alias("part_name"))
    return table_fetch(frontier, pages, "p_partkey").select(
        "url_id", "part_name"
    )


def q_link_explode(spark, sf):
    """O14 on the REAL operator: extract_links_from_text (JVM
    regexp_extract_all over href attributes + explode, 1->N, no Python)
    over synthetic HTML wrapped around each document — variable per-page
    link counts (every page links /d/<id>; every third page adds an
    external link)."""
    from jirlbot_spark.operators.fetch import extract_links_from_text

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><body><p>"),
        F.col("text"),
        F.lit('</p><a href="/d/'),
        sid,
        F.lit('">next</a>'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<a href="http://ex'),
                (F.col("doc_id") % 7).cast("string"),
                F.lit('.com/x">ext</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("http://docs.example.com/"), sid).alias("url"),
        html.alias("page_text"),
    )
    return extract_links_from_text(pages)


def q_json_props(spark, sf):
    """JSON + date/time function surface over events.props (SURVEY §2.2):
    get_json_object extraction and event-time bucketing, all JVM exprs."""
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.hour(F.col("ts").cast("timestamp")).cast("int").alias("hh"),
    )


def q_crawl_rate_window(spark, sf):
    """Event-time sliding-window crawl-rate metrics (the batch twin of
    streaming/stream_loop.metrics_stream): 10-minute windows sliding by
    5 — every event lands in exactly two windows. Window starts are
    emitted as epoch seconds so the oracle compares pure integers (no
    cross-engine timestamp/timezone semantics in the hashed values)."""
    e = _t(spark, sf, "events")
    w = F.window(F.col("ts").cast("timestamp"), "10 minutes", "5 minutes")
    return (
        e.groupBy(w, "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("ws"),
            "event_type",
            "n",
            "total_value",
        )
    )


def q_metrics_agg(spark, sf):
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


def q_topk_frontier(spark, sf):
    from jirlbot_spark.operators.beast import topk_per_bucket

    f = _frontier(spark, sf).withColumn(
        "bucket", (F.col("url_hash") % 8).cast("int")
    )
    return topk_per_bucket(f, 10, "bucket").select(
        "bucket", F.col("url_hash").alias("url_id"), "priority"
    )


# ---- training-data pipeline keys ----

def q_dedup_exact(spark, sf):
    from jirlbot_spark.operators.text_dedup import exact_dedup

    d = _t(spark, sf, "documents").select("doc_id", "text")
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    return exact_dedup(doubled)


def q_dedup_ngram(spark, sf):
    from jirlbot_spark.operators.text_dedup import exact_jaccard, shingle_hashes

    d = _t(spark, sf, "documents").select("doc_id", "text")
    # seed some true near-dups: clones of doc_id<20 with ids +100000
    doubled = d.unionByName(
        d.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    sh = shingle_hashes(doubled, k=3)
    out = exact_jaccard(sh, None)
    return out.filter(F.col("jaccard") >= 0.8).select(
        "id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard"
    )


def q_decontaminate(spark, sf):
    """Benchmark decontamination (operators/decontam.py) at the published
    k=13: benchmark = documents with doc_id % 37 == 0; corpus = the rest
    PLUS spliced rows (doc_id % 41 == 0 docs with the first benchmark
    doc's text appended) so the fixture carries guaranteed contamination
    beyond whatever organic near-dup overlap exists. The oracle
    recomputes contamination INDEPENDENTLY over gram STRINGS (no
    hashing, no shared kernel), so green certifies tokenization, gram
    construction, the semi-join, and the 64-bit no-collision assumption
    at fixture scale."""
    from jirlbot_spark.operators.decontam import ngram_decontaminate

    d = _t(spark, sf, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    rest = d.filter(F.col("doc_id") % 37 != 0)
    b0 = bench.orderBy("doc_id").limit(1).select(
        F.col("text").alias("__btext")
    )
    spliced = (
        rest.filter(F.col("doc_id") % 41 == 0)
        .crossJoin(F.broadcast(b0))
        .select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat_ws(" ", "text", "__btext").alias("text"),
        )
    )
    return ngram_decontaminate(rest.unionByName(spliced), bench, k=13)


def q_dedup_substrings(spark, sf):
    """Corpus-level duplicated-substring removal
    (operators/substring_dedup.py) at k=8 over the real documents
    table: every >=8-token run occurring more than once corpus-wide is
    stripped from all but its canonical (min doc_id, pos) occurrence.
    The oracle recomputes the whole pipeline INDEPENDENTLY over window
    STRINGS (array_to_string slices — no hashing, no shared kernel):
    duplicated-window detection, canonical-copy rule, gaps-and-islands
    span merge, and token-level strip, so green certifies tokenization,
    the span algebra, and the 64-bit no-collision assumption at fixture
    scale."""
    from jirlbot_spark.operators.substring_dedup import dedup_substrings

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return dedup_substrings(d, k=8).select(
        "doc_id",
        "clean_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


def q_url_filter(spark, sf):
    """URL spam-filter gate (operators/url_filter.py) over a synthetic
    frontier drawn from orders: each mod-10 residue class exercises one
    rule (blocked-domain suffix, keyword, session-id param, param
    count, path depth, repeated segment) with three clean classes. The
    oracle recomputes EVERY flag in pure SQL on DuckDB's RE2 with the
    identical pinned grammar — the html_extract/pii_scrub cross-dialect
    certification pattern — plus its own list lambdas for the
    repeated-segment rule."""
    from jirlbot_spark.operators.url_filter import url_spam_filter

    o = _t(spark, sf, "orders")
    k = F.col("o_orderkey").cast("long")
    m = F.pmod(k, F.lit(10)).cast("int")
    i = F.pmod(k, F.lit(97)).cast("int")
    url = (
        F.when(m == 0, F.format_string("http://bad%d.spam.net/x/%d", i, i))
        .when(m == 1, F.format_string("http://s%d.com/play-casino-%d", i, i))
        .when(m == 2, F.format_string("http://s%d.com/p?phpsessid=%d", i, i))
        .when(
            m == 3,
            F.format_string("http://s%d.com/p?a=%d&b=1&c=2&d=3&e=4", i, i),
        )
        .when(
            m == 4, F.format_string("http://s%d.com/1/2/3/4/5/6/7/8/%d", i, i)
        )
        .when(m == 5, F.format_string("http://s%d.com/%d/%d/%d/page", i, i, i, i))
        .when(m == 6, F.format_string("http://u:p@s%d.com:8080/ok/%d", i, i))
        .otherwise(F.format_string("http://s%d.com/a/b/%d?page=1", i, i))
    )
    df = o.select(k.alias("url_id"), url.alias("url"))
    return url_spam_filter(df, blocked_domains=("spam.net",)).select(
        "url_id",
        "url",
        "flag_blocked",
        "flag_keyword",
        "flag_session",
        "flag_params",
        "flag_depth",
        "flag_repeat",
        "keep",
    )


def q_trap_detect(spark, sf):
    """Per-host crawl-trap stats (operators/url_filter.py
    host_trap_stats): 40 synthetic hosts from orders — hosts 0-3 get a
    distinct calendar path per URL (path explosion), hosts 4-7 are
    query-heavy (faceted search), the rest draw from a 20-path pool.
    Spark counts distinct path HASHES; the oracle counts the path
    STRINGS themselves and recomputes the exact integer
    cross-multiplication verdict, so green certifies the no-collision
    assumption AND the threshold arithmetic independently."""
    from jirlbot_spark.operators.url_filter import host_trap_stats

    o = _t(spark, sf, "orders")
    k = F.col("o_orderkey").cast("long")
    h = F.pmod(F.col("o_custkey"), F.lit(40)).cast("int")
    path = (
        F.when(h < 4, F.format_string("cal/2024/%d", k.cast("int")))
        .when(h < 8, F.format_string("s?q=%d", k.cast("int")))
        .when(
            F.pmod(k, F.lit(10)) == 0,
            F.format_string("p?x=%d", F.pmod(k, F.lit(20)).cast("int")),
        )
        .otherwise(F.format_string("p%d", F.pmod(k, F.lit(20)).cast("int")))
    )
    df = o.select(F.format_string("http://host%d.com/%s", h, path).alias("url"))
    return host_trap_stats(df, max_distinct_paths=100).select(
        "host",
        F.col("n_urls").cast("long").alias("n_urls"),
        F.col("n_paths").cast("long").alias("n_paths"),
        "n_query",
        "max_params",
        "sum_depth",
        "trap",
    )


def q_gopher_quality(spark, sf):
    """Gopher doc-level quality rules (functions/gopher.py) over pages
    synthesized from the documents table: residue classes add bullet
    lines, ellipsis lines, or symbol prefixes so every rule fires
    somewhere. The oracle recomputes EVERY counter and integer
    cross-product verdict itself on DuckDB's RE2 + list lambdas."""
    from jirlbot_spark.functions.gopher import gopher_quality

    d = _t(spark, sf, "documents").select("doc_id", "text")
    m = F.pmod(F.col("doc_id"), F.lit(5))
    page = (
        F.when(m == 0, F.concat_ws("\n", "text", F.lit("- bullet one"),
                                   F.lit("- bullet two")))
        .when(m == 1, F.concat_ws("\n", "text", F.lit("to be continued..."),
                                  F.lit("more…")))
        .when(m == 2, F.concat(F.lit("# # # "), F.col("text")))
        .otherwise(F.col("text"))
    )
    docs = d.select("doc_id", page.alias("text"))
    out = gopher_quality(docs, min_words=20)
    return out.select(
        "doc_id",
        "n_words",
        "sum_word_len",
        "n_symbols",
        "n_lines",
        "n_bullet",
        "n_ellipsis",
        "n_alpha_words",
        "n_stop_hits",
        "flag_word_count",
        "flag_mean_len",
        "flag_symbol",
        "flag_bullet",
        "flag_ellipsis",
        "flag_alpha",
        "flag_stop",
        "keep",
    )


# quality_classify: the pinned model — weights on gram STRINGS (unigram
# w2=None, bigram w2 set), quantized at CLS_SCALE. The Spark side hashes
# these with xxhash64; the oracle joins on the STRINGS — green certifies
# the hashing, the broadcast attach, the exact int64 pooling, AND the
# 64-bit no-collision assumption at fixture scale (decontam precedent).
CLS_SCALE = 10**6
CLS_BIAS_Q = 250_000  # 0.25 — exactly representable
CLS_THR_Q = 100_000  # keep iff mean gram weight + bias >= 0.1
CLS_WEIGHTS = [
    ("spark", None, 2_000_000),
    ("table", None, 1_000_000),
    ("data", None, 500_000),
    ("vector", None, 1_250_000),
    ("query", None, 750_000),
    ("slow", None, -1_500_000),
    ("filter", None, -250_000),
    ("stream", None, -500_000),
    ("the", None, -125_000),
    ("table", "table", -2_000_000),
    ("big", "big", -750_000),
    ("spark", "join", 1_500_000),
    ("value", "table", 625_000),
    ("fast", "fast", 333_333),
    ("agg", "row", -111_111),
]


# aspect_batch: the pinned bucket ladder (64-px quantized, landscape ↔
# portrait mirrored). The oracle re-derives the argmin from the SAME
# list via an exact-integer cross join + ROW_NUMBER — no shared kernel.
ASPECT_BUCKETS = [
    (512, 512),
    (576, 448),
    (448, 576),
    (640, 384),
    (384, 640),
    (704, 320),
    (320, 704),
]


def _aspect_bucket_values() -> str:
    import math as _math

    D = _math.lcm(*[bh for _, bh in ASPECT_BUCKETS])
    return ", ".join(
        f"({i}, {bw}, {bh}, {D // bh})"
        for i, (bw, bh) in enumerate(ASPECT_BUCKETS)
    )


def q_aspect_batch(spark, sf):
    """Aspect-ratio bucketing + deterministic batch assembly
    (operators/aspect_buckets.py) over an image-dimension table
    synthesized arithmetically from orders. Assignment = exact-int64
    nearest-aspect argmin over the pinned ASPECT_BUCKETS ladder;
    batching = sharded deterministic ranks (injected Knuth hashes so
    the oracle can replay them). The oracle recomputes assignment,
    sharding, ranking, and batch/tail flags ITSELF in pure SQL."""
    from jirlbot_spark.operators.aspect_buckets import (
        assign_aspect_buckets,
        bucket_batches,
    )

    o = _t(spark, sf, "orders")
    k = F.col("o_orderkey").cast("long")
    imgs = o.select(
        k.alias("image_id"),
        (F.pmod(k * 37, F.lit(1987)) + 64).cast("int").alias("w"),
        (F.pmod(k * 53, F.lit(1993)) + 64).cast("int").alias("h"),
    )
    assigned = assign_aspect_buckets(imgs, ASPECT_BUCKETS)
    aff = lambda kk: (F.col("image_id") + F.lit(kk)) * F.lit(  # noqa: E731
        HASH_A
    ) % F.lit(FP_MOD)
    return bucket_batches(
        assigned,
        batch_size=16,
        n_shards=8,
        shard_hash=aff(11),
        order_hash=aff(23),
    ).select(
        "image_id",
        "w",
        "h",
        "bucket_id",
        "bucket_w",
        "bucket_h",
        "shard",
        "pos",
        "batch_in_shard",
        "pos_in_batch",
        "complete",
    )


def _cls_weight_values() -> str:
    return ", ".join(
        "('{}', {}, {})".format(
            w1, "NULL" if w2 is None else f"'{w2}'", wq
        )
        for w1, w2, wq in CLS_WEIGHTS
    )


def q_quality_classify(spark, sf):
    """fastText-style hashed linear quality classifier
    (operators/quality_classifier.py) over the real documents table
    with the pinned CLS_WEIGHTS model: 64-bit gram-hash features,
    broadcast weight attach, exact int64 mean pooling, integer
    cross-multiplication keep rule. The oracle recomputes every score
    over gram STRINGS in pure SQL — fully independent of xxhash64."""
    from jirlbot_spark.operators.quality_classifier import score_documents

    d = _t(spark, sf, "documents").select("doc_id", "text")
    w = spark.createDataFrame(
        CLS_WEIGHTS, "w1 string, w2 string, w_q long"
    ).select(
        F.when(
            F.col("w2").isNull(), F.xxhash64(F.col("w1"))
        )
        .otherwise(F.xxhash64(F.col("w1"), F.col("w2")))
        .alias("gh"),
        "w_q",
    )
    return score_documents(
        d,
        w,
        scale=CLS_SCALE,
        bias_q=CLS_BIAS_Q,
        threshold_q=CLS_THR_Q,
    )


def q_adaptive_delay(spark, sf):
    """Adaptive per-host politeness delays
    (operators/adaptive_politeness.py): Heritrix delay-factor-5 table
    over a synthetic fetch log drawn from orders (30 hosts, rtts
    sweeping 0..4999 ms) — min/max clamps both exercised. The oracle
    recomputes count/sum/integral-division/clamps itself in pure SQL;
    every value is int64 so green is bit-exact."""
    from jirlbot_spark.operators.adaptive_politeness import (
        adaptive_host_delays,
    )

    o = _t(spark, sf, "orders")
    log = o.select(
        F.format_string(
            "host%d.com", F.pmod(F.col("o_custkey"), F.lit(30)).cast("int")
        ).alias("host"),
        F.pmod(F.col("o_orderkey") * 7, F.lit(5000)).cast("long").alias(
            "rtt_ms"
        ),
    )
    return adaptive_host_delays(log)


def q_dedup_lines(spark, sf):
    """Corpus line-level dedup (operators/line_dedup.py) — the CCNet /
    RefinedWeb boilerplate recipe — over synthetic multi-line pages
    built from the real documents table: every page gets a shared nav
    line and a per-doc footer whose year digit varies (so only the
    NORMALIZED hash catches it), and docs with doc_id % 9 == 0 are
    cloned so organic body lines duplicate too. The oracle recomputes
    normalization, counting, the keep-first rule, and the rebuild over
    line STRINGS (no hashing shared), so green certifies the pinned
    normalization chain cross-dialect AND the 64-bit no-collision
    assumption at fixture scale."""
    from jirlbot_spark.operators.line_dedup import line_dedup

    d = _t(spark, sf, "documents").select("doc_id", "text")
    pages = d.unionByName(
        d.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    ).select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Home | About | Contact | Sitemap 2024"),
            F.col("text"),
            F.concat(
                F.lit("Copyright "),
                F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
                F.lit(" Example Corp"),
            ),
        ).alias("text"),
    )
    return line_dedup(pages).select(
        "doc_id", "clean_text", "n_lines", "n_removed"
    )


def q_dns_cache(spark, sf):
    """DNS cache batch cycle (operators/dns.py): frontier hosts vs a
    prior cache with mixed fresh / expired / NXDOMAIN entries at
    batch_id=8 — the needed delta (misses + expired; fresh positive AND
    negative entries excluded) goes through the deterministic arithmetic
    resolver, and the refreshed cache (supersede-by-host merge, TTL
    restarted) is returned. The DuckDB oracle recomputes every decision
    itself — expiry filter, resolver arithmetic, supersede merge — so
    green certifies the whole cycle independently."""
    from jirlbot_spark.operators.dns import (
        arith_resolver,
        dns_needed,
        refresh_dns_cache,
    )

    o = _t(spark, sf, "orders")
    s = _t(spark, sf, "supplier")
    hosts = o.select(F.pmod(F.col("o_custkey"), F.lit(300)).alias("host_hash"))
    cache = (
        s.select(
            F.pmod(F.col("s_suppkey"), F.lit(300)).cast("long").alias(
                "host_hash"
            )
        )
        .distinct()
        .select(
            "host_hash",
            F.when(
                F.pmod(F.col("host_hash"), F.lit(11)) == 0,
                F.lit(None).cast("string"),
            )
            .otherwise(
                F.format_string(
                    "10.1.0.%d",
                    F.pmod(F.col("host_hash"), F.lit(50)).cast("int"),
                )
            )
            .alias("ip"),
            F.pmod(F.col("host_hash"), F.lit(7)).cast("int").alias(
                "resolved_batch"
            ),
            F.lit(4).cast("int").alias("ttl_batches"),
        )
    )
    needed = dns_needed(hosts, cache, batch_id=8)
    return refresh_dns_cache(
        cache, arith_resolver(needed), batch_id=8, ttl_batches=6
    )


def q_components_update(spark, sf):
    """Incremental connected components (operators/graph.py
    update_components): a prior labeling built from historical chain
    pairs is folded together with a new-pair batch that merges groups
    across the old boundaries and introduces brand-new nodes. The
    oracle closes the UNION of both raw pair sets with a recursive CTE
    — fully independent of both the star-contraction math AND the
    prior-labeling-as-star-edges incremental argument, so green proves
    update_components(cc(H), N) == cc(H ∪ N)."""
    from jirlbot_spark.operators.graph import (
        connected_components,
        update_components,
    )
    from jirlbot_spark.session import materialize

    h = (
        spark.range(0, 100)
        .filter(F.col("id") % 10 < 3)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    n = (
        spark.range(0, 50)
        .filter(F.col("id") % 25 == 0)
        .select(F.col("id").alias("id_a"), (F.col("id") + 50).alias("id_b"))
        .unionByName(
            spark.createDataFrame([(200, 201)], "id_a long, id_b long")
        )
    )
    # checkpoint the prior labeling first — exactly what a real
    # incremental pipeline does: the prior labeling is a TABLE read
    # back from storage, not live lineage (live lineage also works;
    # test_graph.py covers it)
    prior = materialize(connected_components(h), "components-prior")
    return update_components(prior, n)


def q_repetition_stats(spark, sf):
    """Gopher-family repetition fractions (operators/repetition.py) over
    documents, with doc_id % 5 == 0 rows text-doubled so the fixture
    carries real duplicated n-grams. The oracle recomputes every value
    INDEPENDENTLY over gram STRINGS in pure SQL (count*length per gram,
    max/dup coverage per doc) — nothing shared with the Spark side's
    hash-based single-pass plan."""
    from jirlbot_spark.operators.repetition import repetition_stats

    d = _t(spark, sf, "documents").select("doc_id", "text")
    docs = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat_ws(" ", "text", "text")
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repetition_stats(docs)


def q_pack_sequences(spark, sf):
    """Concatenate-then-chunk sequence packing (operators/packing.py)
    over documents at window=64, 8 shards. The oracle recomputes every
    assignment independently: its own tokenization, its own running
    sum, its own floor division — pure SQL, no shared kernel."""
    from jirlbot_spark.operators.packing import pack_sequences

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return pack_sequences(d, window=64, n_shards=8)


_HTML_WRAP_HEAD = (
    "<!DOCTYPE html><html><head><title>doc</title>"
    "<style>p{margin:0}</style>"
    "<script>var t = '<p>not text</p>';</script></head><body><h1>"
)
_HTML_WRAP_TAIL = (
    "</h1><p>tail &amp; more&nbsp;here</p><!-- hidden --></body></html>"
)


def q_html_extract(spark, sf):
    """HTML → visible text (functions/html.py) over documents wrapped in
    deterministic markup (title/style/script/comment/entities all
    present). The oracle runs the SAME pinned pattern chain on DuckDB's
    RE2 — a different regex engine than Spark's Java regex — so green
    certifies the patterns mean the same thing in both dialects (the
    contract is written in the common subset: no backreferences, no
    lookaround)."""
    from jirlbot_spark.functions.html import html_text

    d = _t(spark, sf, "documents").select("doc_id", "text")
    body = F.concat(
        F.lit(_HTML_WRAP_HEAD), F.col("text"), F.lit(_HTML_WRAP_TAIL)
    )
    return d.select("doc_id", html_text(body).alias("text_out"))


def _html_oracle() -> str:
    from jirlbot_spark.functions.html import HTML_STRIP_STEPS

    head = _HTML_WRAP_HEAD.replace("'", "''")
    tail = _HTML_WRAP_TAIL.replace("'", "''")
    expr = f"'{head}' || text || '{tail}'"
    for pat, rep in HTML_STRIP_STEPS:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{r}', 'g')"
    expr = f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"
    return f"SELECT doc_id, {expr} AS text_out FROM documents"


def _pii_spike(text_col, doc_id):
    """Deterministic PII splice: every doc_id gets one category (or
    none), value derived from doc_id so rows differ."""
    return F.concat(
        text_col,
        F.when(
            doc_id % 4 == 0,
            F.format_string(" mail user%d@example.com", doc_id),
        )
        .when(
            doc_id % 4 == 1,
            F.format_string(
                " from 10.1.2.%d ok", F.pmod(doc_id, F.lit(256)).cast("int")
            ),
        )
        .when(
            doc_id % 4 == 2,
            F.format_string(
                " call (555) 123-%04d",
                F.pmod(doc_id, F.lit(10000)).cast("int"),
            ),
        )
        .otherwise(F.lit("")),
    )


def q_pii_scrub(spark, sf):
    """PII redaction (functions/pii.py) over documents with one
    deterministic PII splice per row. Same cross-dialect certification
    as html_extract: the oracle runs the IDENTICAL pinned pattern chain
    (and the same progressive-scrub count rule) on DuckDB's RE2, so
    green certifies the patterns and ordering mean the same thing on a
    separately-authored regex engine."""
    from jirlbot_spark.functions.pii import pii_scrub_df

    d = _t(spark, sf, "documents").select("doc_id", "text")
    spiked = d.select(
        "doc_id", _pii_spike(F.col("text"), F.col("doc_id")).alias("text")
    )
    return pii_scrub_df(spiked).select(
        "doc_id", "text_scrubbed", "n_email", "n_ip", "n_phone"
    )


def _pii_oracle() -> str:
    from jirlbot_spark.functions.pii import PII_STEPS

    spike = (
        "text || CASE"
        " WHEN doc_id % 4 = 0 THEN ' mail user' || doc_id || '@example.com'"
        " WHEN doc_id % 4 = 1 THEN ' from 10.1.2.' || (doc_id % 256) || ' ok'"
        " WHEN doc_id % 4 = 2 THEN ' call (555) 123-' ||"
        " lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " ELSE '' END"
    )
    scrub = spike
    counts = []
    cur = spike
    for (pat, rep), name in zip(PII_STEPS, ("n_email", "n_ip", "n_phone")):
        p = pat.replace("'", "''")
        scrub = f"regexp_replace({scrub}, '{p}', '{rep}', 'g')"
        counts.append(
            f"len(regexp_extract_all({cur}, '{p}')) AS {name}"
        )
        cur = f"regexp_replace({cur}, '{p}', '{rep}', 'g')"
    return (
        f"SELECT doc_id, {scrub} AS text_scrubbed, {', '.join(counts)} "
        "FROM documents"
    )


def _curate_oracle() -> str:
    """Composed INDEPENDENT oracle for q_curate_corpus: the dedup_lines
    CTE chain, the gopher counter battery, and the pii chain (DuckDB
    RE2) stacked in the pinned stage order — certifies the composition
    end-to-end, not just the pieces."""
    from jirlbot_spark.functions.pii import PII_STEPS

    scrub, counts, cur = "kt", [], "kt"
    for (pat, rep), name in zip(PII_STEPS, ("n_email", "n_ip", "n_phone")):
        p = pat.replace("'", "''")
        scrub = f"regexp_replace({scrub}, '{p}', '{rep}', 'g')"
        counts.append(f"len(regexp_extract_all({cur}, '{p}')) AS {name}")
        cur = f"regexp_replace({cur}, '{p}', '{rep}', 'g')"
    return f"""
            WITH pages AS (
              SELECT doc_id,
                     'Home | About | Contact | Sitemap 2024' || chr(10)
                     || text || chr(10)
                     || 'Copyright ' || CAST(doc_id % 7 AS VARCHAR)
                     || ' Example Corp' AS text
              FROM (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text FROM documents
                WHERE doc_id % 9 = 0
              )
            ), split AS (
              SELECT doc_id, string_split(text, chr(10)) AS l FROM pages
            ), lines AS (
              SELECT doc_id, i - 1 AS line_no, l[i] AS line
              FROM split, UNNEST(generate_series(1, len(l))) AS g(i)
            ), counted AS (
              SELECT doc_id, line_no,
                     COUNT(*) OVER (PARTITION BY n) AS c,
                     ROW_NUMBER() OVER (PARTITION BY n
                                        ORDER BY doc_id, line_no) AS rn
              FROM (
                SELECT doc_id, line_no,
                       trim(regexp_replace(regexp_replace(lower(line),
                            '[0-9]', '', 'g'), '\\s+', ' ', 'g')) AS n
                FROM lines
              ) WHERE n <> ''
            ), drops AS (
              SELECT doc_id, line_no FROM counted WHERE c > 1 AND rn > 1
            ), kept AS (
              SELECT l.doc_id, l.line, l.line_no
              FROM lines l LEFT JOIN drops d
                ON d.doc_id = l.doc_id AND d.line_no = l.line_no
              WHERE d.doc_id IS NULL
            ), cleaned AS (
              SELECT s.doc_id,
                     COALESCE(STRING_AGG(k.line, chr(10) ORDER BY k.line_no),
                              '') AS ct,
                     CAST(MAX(len(s.l)) - COUNT(k.line_no) AS BIGINT)
                       AS n_lines_removed
              FROM split s LEFT JOIN kept k ON k.doc_id = s.doc_id
              GROUP BY s.doc_id
            ), c AS (
              SELECT doc_id, ct, n_lines_removed,
                CAST(len(list_filter(
                  string_split_regex(trim(ct), '\\s+'), t -> t <> ''))
                  AS INTEGER) AS n_words,
                CAST(length(regexp_replace(ct, '\\s', '', 'g'))
                  AS INTEGER) AS sum_word_len,
                CAST(len(regexp_extract_all(ct, '#|\\.\\.\\.|…'))
                  AS INTEGER) AS n_symbols,
                CAST(len(string_split(ct, chr(10))) AS INTEGER) AS n_lines,
                CAST(len(list_filter(
                  list_transform(string_split(ct, chr(10)), x -> trim(x)),
                  x -> regexp_matches(x, '^[-*•]'))) AS INTEGER)
                  AS n_bullet,
                CAST(len(list_filter(
                  list_transform(string_split(ct, chr(10)), x -> trim(x)),
                  x -> x LIKE '%...' OR x LIKE '%…')) AS INTEGER)
                  AS n_ellipsis,
                CAST(len(list_filter(list_filter(
                  string_split_regex(trim(ct), '\\s+'), t -> t <> ''),
                  t -> regexp_matches(t, '[a-zA-Z]'))) AS INTEGER)
                  AS n_alpha_words,
                CAST(len(list_filter(
                  ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
                  w -> list_contains(list_transform(list_filter(
                    string_split_regex(trim(ct), '\\s+'), t -> t <> ''),
                    t -> lower(t)), w))) AS INTEGER) AS n_stop_hits
              FROM cleaned
            ), f AS (
              SELECT *,
                (n_words < 20 OR n_words > 100000) AS flag_word_count,
                (sum_word_len < 3 * n_words
                 OR sum_word_len > 10 * n_words) AS flag_mean_len,
                10 * n_symbols > n_words AS flag_symbol,
                10 * n_bullet > 9 * n_lines AS flag_bullet,
                10 * n_ellipsis > 3 * n_lines AS flag_ellipsis,
                5 * n_alpha_words < 4 * n_words AS flag_alpha,
                n_stop_hits < 2 AS flag_stop
              FROM c
            ), g AS (
              SELECT *,
                NOT (flag_word_count OR flag_mean_len OR flag_symbol
                     OR flag_bullet OR flag_ellipsis OR flag_alpha
                     OR flag_stop) AS keep,
                CASE WHEN NOT (flag_word_count OR flag_mean_len
                     OR flag_symbol OR flag_bullet OR flag_ellipsis
                     OR flag_alpha OR flag_stop) THEN ct ELSE '' END AS kt
              FROM f
            )
            SELECT doc_id, {scrub} AS clean_text, n_lines_removed,
                   n_words, sum_word_len, n_symbols, n_lines, n_bullet,
                   n_ellipsis, n_alpha_words, n_stop_hits,
                   flag_word_count, flag_mean_len, flag_symbol,
                   flag_bullet, flag_ellipsis, flag_alpha, flag_stop,
                   keep, {', '.join(counts)}
            FROM g
        """


def q_curate_corpus(spark, sf):
    """End-to-end curation pipeline (plans/curate.py): line dedup →
    Gopher gate over the CLEANED text → PII scrub of survivors, over
    the same synthetic multi-line pages as dedup_lines. The oracle
    composes the three INDEPENDENT SQL formulations in the pinned
    stage order."""
    from jirlbot_spark.plans.curate import curate_corpus

    d = _t(spark, sf, "documents").select("doc_id", "text")
    pages = d.unionByName(
        d.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    ).select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Home | About | Contact | Sitemap 2024"),
            F.col("text"),
            F.concat(
                F.lit("Copyright "),
                F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
                F.lit(" Example Corp"),
            ),
        ).alias("text"),
    )
    return curate_corpus(pages, min_words=20)


def q_c4_clean(spark, sf):
    """C4-style line cleaning + doc gate (functions/c4.py) over
    documents spliced into multi-line bodies exercising every rule:
    a good line (always kept), a javascript line (%3), a min-words
    failure (%5), a brace doc-gate hit (%7), a lorem-ipsum doc-gate
    hit whose own line IS kept while the doc is dropped (%11). Oracle
    runs the identical rules on DuckDB's RE2 + list lambdas —
    cross-engine certification like html_extract/pii_scrub."""
    from jirlbot_spark.functions.c4 import c4_clean_df

    d = _t(spark, sf, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    body = F.concat(
        F.col("text"),
        F.format_string("\nA good kept sentence number %d.", i),
        F.when(
            i % 3 == 0, F.lit("\nPlease enable javascript now.")
        ).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.lit("\ntiny.")).otherwise(F.lit("")),
        F.when(
            i % 7 == 0, F.lit("\nSome code { throw; } ends here.")
        ).otherwise(F.lit("")),
        F.when(
            i % 11 == 0, F.lit("\nLorem ipsum dolor sit amet today.")
        ).otherwise(F.lit("")),
    )
    spiked = d.select("doc_id", body.alias("text"))
    return c4_clean_df(spiked, min_lines=2).select(
        "doc_id", "n_lines", "n_kept", "text_clean", "keep"
    )


_C4_ORACLE = """
    WITH spiked AS (
      SELECT doc_id,
        text || chr(10) || 'A good kept sentence number ' || doc_id || '.'
        || CASE WHEN doc_id % 3 = 0
             THEN chr(10) || 'Please enable javascript now.' ELSE '' END
        || CASE WHEN doc_id % 5 = 0
             THEN chr(10) || 'tiny.' ELSE '' END
        || CASE WHEN doc_id % 7 = 0
             THEN chr(10) || 'Some code { throw; } ends here.' ELSE '' END
        || CASE WHEN doc_id % 11 = 0
             THEN chr(10) || 'Lorem ipsum dolor sit amet today.' ELSE '' END
        AS text
      FROM documents
    ), arr AS (
      SELECT doc_id, text,
        list_transform(string_split(text, chr(10)), s -> trim(s)) AS t
      FROM spiked
    ), k AS (
      SELECT doc_id, text, t,
        list_filter(t, s ->
          regexp_matches(s, '[.!?"'']$')
          AND len(string_split_regex(s, '\\s+')) >= 3
          AND NOT contains(lower(s), 'javascript')) AS kept
      FROM arr
    )
    SELECT doc_id, len(t) AS n_lines, len(kept) AS n_kept,
      array_to_string(kept, chr(10)) AS text_clean,
      (NOT contains(lower(text), 'lorem ipsum'))
        AND (NOT contains(text, '{'))
        AND len(kept) >= 2 AS keep
    FROM k
"""


def q_pair_filter(spark, sf):
    """LAION-recipe pair curation (operators/image_dedup.py
    image_pair_filter) over a pair table synthesized arithmetically
    from `part` (dims from partkey residues; captions = p_name with
    %13 rows blanked and %17 rows truncated to one word so every rule
    fires both ways). Oracle recomputes all four flags in SQL."""
    from jirlbot_spark.operators.image_dedup import image_pair_filter

    p = _t(spark, sf, "part")
    k = F.col("p_partkey")
    pairs = p.select(
        F.format_string("img%09d", k).alias("image_id"),
        (F.pmod(k * 37, F.lit(500)) + 1).cast("int").alias("w"),
        (F.pmod(k * 91, F.lit(400)) + 1).cast("int").alias("h"),
        F.when(k % 13 == 0, F.lit(""))
        .when(k % 17 == 0, F.split(F.col("p_name"), " ")[0])
        .otherwise(F.col("p_name"))
        .alias("caption"),
    )
    return image_pair_filter(pairs).select(
        "image_id", "ok_size", "ok_aspect", "ok_caption", "keep"
    )


_PAIR_FILTER_ORACLE = """
    WITH pairs AS (
      SELECT 'img' || lpad(CAST(p_partkey AS VARCHAR), 9, '0') AS image_id,
        CAST((p_partkey * 37) % 500 + 1 AS INT) AS w,
        CAST((p_partkey * 91) % 400 + 1 AS INT) AS h,
        CASE WHEN p_partkey % 13 = 0 THEN ''
             WHEN p_partkey % 17 = 0 THEN string_split(p_name, ' ')[1]
             ELSE p_name END AS caption
      FROM part
    ), flags AS (
      SELECT image_id,
        (w >= 64 AND h >= 64) AS ok_size,
        (CAST(GREATEST(w, h) AS DOUBLE) / GREATEST(LEAST(w, h), 1)) <= 3.0
          AS ok_aspect,
        (caption IS NOT NULL AND trim(caption) <> ''
          AND len(string_split_regex(trim(caption), '\\s+')) >= 3
          AND length(caption) <= 512) AS ok_caption
      FROM pairs
    )
    SELECT image_id, ok_size, ok_aspect, ok_caption,
      (ok_size AND ok_aspect AND ok_caption) AS keep
    FROM flags
"""


def q_bpe_encode(spark, sf):
    """Real subword tokenization (functions/bpe.py): Sennrich-style BPE
    trained with the distributed word-frequency shuffle + bounded
    deterministic collect, then broadcast-rank Arrow-batched encode over
    the seeded corpus. Golden = direct scalar application of the same
    train/encode (plumbing certification; algorithmic independence is
    pinned in tests/test_bpe.py by a separately-written naive trainer
    and the Sennrich paper's worked example)."""
    from jirlbot_spark.functions.bpe import bpe_encode_df, bpe_train
    from jirlbot_spark.sources.fixtures import gen_documents

    df = spark.createDataFrame(gen_documents(17, 160))
    merges = bpe_train(df, n_merges=60)
    enc = bpe_encode_df(df, merges)
    return enc.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.concat_ws("|", "tokens").alias("token_str"),
    )


def q_dedup_components(spark, sf):
    """Duplicate GROUPS: the transitive closure of the ngram near-dup
    PAIRS via distributed star contraction (operators/graph.py), plus
    the keep/drop flag a dedup pass applies. The oracle recomputes the
    same pair set in SQL and closes it with a recursive CTE — fully
    independent of the large-star/small-star implementation, so green
    asserts the contraction math, not just the plumbing."""
    from jirlbot_spark.operators.graph import duplicate_groups
    from jirlbot_spark.operators.text_dedup import (
        exact_jaccard,
        shingle_hashes,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    doubled = d.unionByName(
        d.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    sh = shingle_hashes(doubled, k=3)
    pairs = exact_jaccard(sh, None).filter(F.col("jaccard") >= 0.8)
    return duplicate_groups(doubled, pairs, "doc_id")


def q_lang_id(spark, sf):
    from jirlbot_spark.functions.text import lang_id

    d = _t(spark, sf, "documents")
    return d.select("doc_id", lang_id("text").alias("pred_lang"))


def q_token_count(spark, sf):
    from jirlbot_spark.functions.text import token_count

    d = _t(spark, sf, "documents")
    return d.select("doc_id", token_count("text").alias("n_tokens"))


def q_quality_score(spark, sf):
    from jirlbot_spark.functions.text import quality_score

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", quality_score("text").alias("quality")
    )


def q_fingerprint(spark, sf):
    from jirlbot_spark.functions.text import token_fingerprint

    d = _t(spark, sf, "documents")
    return d.select("doc_id", token_fingerprint("text").alias("fp"))


def _quantized(col):
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long")
    )


def q_ann_topk(spark, sf):
    """Exact cosine top-k THROUGH the engine's brute_topk operator
    (block-matmul mapInPandas; shuffle carries only |Q|·k·P candidate
    rows, never vectors — no crossJoin). Vectors are integer-quantized
    first so the numpy int64 kernel (_cosine_matrix) produces doubles
    bit-identical to the SQL twin's CAST(dot)/SQRT(CAST(na*nb))."""
    from jirlbot_spark.operators.similarity import brute_topk

    e = _t(spark, sf, "embeddings").select(
        "vec_id", _quantized(F.col("embedding")).alias("q")
    )
    queries = e.filter(F.col("vec_id") < 20)
    return brute_topk(queries, e, k=5, vec_col="q").select(
        "query_id", "vec_id", "cosine", F.col("rank").alias("rnk")
    )


def q_dedup_embed(spark, sf):
    """Embedding near-dup THROUGH blocked_neardup_exact — exact all-pairs
    cosine>=0.4 with a block-nested applyInPandas self-join (n·B shuffle
    rows, no CartesianProduct). LSH (embedding_neardup) cannot carry this
    key: at threshold 0.4 the fixture's 60 qualifying pairs all sit at
    cosine 0.40–0.51 where hyperplane-sketch recall=1 is unreachable, so
    the exact blocked operator is the honest scale path here."""
    from jirlbot_spark.operators.similarity import blocked_neardup_exact

    e = _t(spark, sf, "embeddings").select(
        "vec_id", _quantized(F.col("embedding")).alias("q")
    )
    return blocked_neardup_exact(
        e, threshold=0.4, id_col="vec_id", vec_col="q", n_blocks=8
    )


# ---- rows-only keys (no SQL twin; gated in pytest instead) ----

def _canonical_oracle() -> str:
    from jirlbot_spark.operators.canonical import CANONICAL_PATTERNS

    p1, p2 = (
        p.replace("\\x27", "'").replace("'", "''")
        for p in CANONICAL_PATTERNS
    )
    return f"""
        WITH built AS (
          SELECT CAST(o_orderkey AS BIGINT) AS k,
                 printf('http://cn%d.com/p%d',
                        o_orderkey % 50, o_orderkey) AS url,
                 printf('http://canon%d.com/main', o_orderkey % 7)
                   AS alias_t
          FROM orders
        ), pages AS (
          SELECT url,
            CASE k % 4
              WHEN 0 THEN '<html><head><link rel="canonical" href="'
                          || url || '"></head>'
              WHEN 1 THEN '<head><link href="' || alias_t
                          || '" rel="canonical"></head>'
              WHEN 2 THEN '<body>no canonical</body>'
              ELSE '<link rel="canonical" href="' || url
                   || '"><link rel="canonical" href="http://x.com/second">'
            END AS body
          FROM built
        ), ext AS (
          SELECT url,
            COALESCE(
              NULLIF(regexp_extract(substr(body, 1, 4096),
                                    '{p1}', 1), ''),
              NULLIF(regexp_extract(substr(body, 1, 4096),
                                    '{p2}', 1), '')
            ) AS canonical_url
          FROM pages
        )
        SELECT url, canonical_url, canonical_url = url AS is_self
        FROM ext WHERE canonical_url IS NOT NULL
    """


def q_canonical_extract(spark, sf):
    """rel=canonical extraction (operators/canonical.py) over page
    bodies synthesized arithmetically from orders: self-canonical,
    alias (href-before-rel attribute order), no-element, and
    first-of-multiple classes. URLs are canonical-clean so the DuckDB
    twin — the IDENTICAL pattern chain on RE2, the html_extract
    cross-dialect certification — stays exact; messy-href resolution
    is covered by the canonicalize goldens and tests/test_canonical."""
    from jirlbot_spark.operators.canonical import extract_canonical

    o = _t(spark, sf, "orders")
    k = F.col("o_orderkey").cast("long")
    url = F.format_string("http://cn%d.com/p%d", k % 50, k)
    alias_t = F.format_string("http://canon%d.com/main", k % 7)
    m = F.pmod(k, F.lit(4))
    body = (
        F.when(
            m == 0,
            F.concat(
                F.lit('<html><head><link rel="canonical" href="'),
                url,
                F.lit('"></head>'),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit('<head><link href="'),
                alias_t,
                F.lit('" rel="canonical"></head>'),
            ),
        )
        .when(m == 2, F.lit("<body>no canonical</body>"))
        .otherwise(
            F.concat(
                F.lit('<link rel="canonical" href="'),
                url,
                F.lit(
                    '"><link rel="canonical" href="http://x.com/second">'
                ),
            )
        )
    )
    pages = o.select(url.alias("url"), body.alias("body"))
    return extract_canonical(pages)


def q_recrawl_schedule(spark, sf):
    """Freshness-driven recrawl priorities (operators/recrawl.py) over
    a fetch history synthesized arithmetically from events: urls in
    three change classes (every batch / never / every 8 batches). The
    oracle recomputes the change detection (LAG over collapsed
    observations), the +0.5-smoothed exact-integer priority, and the
    due rule ITSELF in pure SQL."""
    from jirlbot_spark.operators.recrawl import (
        change_stats,
        recrawl_priority,
    )

    e = _t(spark, sf, "events")
    k = F.col("event_id").cast("long")
    u = F.pmod(k, F.lit(300))
    b = F.pmod(k, F.lit(97))
    log = e.select(
        u.alias("url_hash"),
        b.alias("batch_id"),
        F.when(u % 3 == 0, u * 100000 + b)
        .when(u % 3 == 1, u)
        .otherwise(u * 100000 + F.expr("(event_id % 97) div 8"))
        .cast("long")
        .alias("content_hash"),
    )
    return recrawl_priority(change_stats(log), 120, 5)


def q_image_scrub(spark, sf):
    """Byte-level image metadata scrubbing (operators/image_scrub.py)
    over gen_meta_images fixtures — PNG tEXt/tIME/eXIf, JPEG APPn/COM,
    GIF comment/XMP extensions spliced into the engine's own encodes.
    Golden = direct strip_metadata application with zlib-crc32 payload
    checksums; the Spark side computes JVM F.crc32 — two independent
    crc32 implementations must agree on every scrubbed byte string
    (the warc_roundtrip pattern). Pixel invariance is asserted at
    golden-generation time and in pytest."""
    from jirlbot_spark.operators.image_scrub import scrub_image_metadata
    from jirlbot_spark.sources.fixtures import gen_meta_images

    df = spark.createDataFrame(gen_meta_images(11, 24))
    out = scrub_image_metadata(df, id_cols=("image_id", "fmt"))
    return out.select(
        "image_id",
        "fmt",
        "orig_len",
        "clean_len",
        "n_stripped",
        "supported",
        "scrub_ok",
        F.crc32("clean_bytes").alias("clean_crc"),
    )


def q_webdataset_roundtrip(spark, sf):
    """WebDataset tar-shard connector round-trip
    (sources/webdataset.py): gen_pages fixture → pinned-ustar shards →
    binaryFile scan + own tar walk back. Output carries JVM F.crc32 of
    the recovered image bytes; the oracle carries zlib-crc32 computed
    from the RAW fixture — equality certifies every payload byte
    through two independent crc32 implementations (the warc pattern),
    plus caption/metadata fidelity."""
    import tempfile

    from jirlbot_spark.sources.fixtures import gen_pages
    from jirlbot_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    out = tempfile.mkdtemp(prefix="jirlbot_wds_key_")
    df = spark.createDataFrame(gen_pages(21, 40))
    write_webdataset(df, out, n_shards=4).count()  # run the export
    back = read_webdataset(spark, out + "/shard-*.tar")
    return back.select(
        F.col("key").alias("image_id"),
        "ext",
        F.crc32("image_bytes").alias("img_crc"),
        F.length("image_bytes").cast("long").alias("n_bytes"),
        "caption",
        F.get_json_object("meta_json", "$.fmt").alias("fmt"),
        F.get_json_object("meta_json", "$.w").cast("long").alias("w"),
        F.get_json_object("meta_json", "$.h").cast("long").alias("h"),
        F.get_json_object("meta_json", "$.phash").cast("long").alias(
            "phash"
        ),
    )


def _webdataset_values() -> str:
    import zlib

    from jirlbot_spark.sources.fixtures import gen_pages
    from jirlbot_spark.sources.webdataset import _FMT_EXT

    rows = []
    for t in gen_pages(21, 40).itertuples(index=False):
        b = bytes(t.bytes)
        cap = t.caption.replace("'", "''")
        rows.append(
            f"('{t.image_id}', '{_FMT_EXT.get(t.fmt, t.fmt)}', "
            f"CAST({zlib.crc32(b)} AS BIGINT), CAST({len(b)} AS BIGINT), "
            f"'{cap}', '{t.fmt}', CAST({t.w} AS BIGINT), "
            f"CAST({t.h} AS BIGINT), CAST({int(t.phash)} AS BIGINT))"
        )
    return ", ".join(rows)


def q_image_verify(spark, sf):
    from jirlbot_spark.operators.fetch import verify_payload
    from jirlbot_spark.sources.fixtures import gen_pages

    pages = spark.createDataFrame(gen_pages(42, 128))
    return verify_payload(pages)


def q_image_verify_lossy(spark, sf):
    """Lossy branch of the per-row payload invariant (north rule:
    PSNR>=40dB for lossy formats vs the reference pixels): 2/3 of the
    fixture rows are JPEGs from the engine's own pure-numpy baseline
    codec (functions/jpeg.py), verified against the carried ref_pixels
    column; PNG rows exercise the bit-exact branch side by side."""
    from jirlbot_spark.operators.fetch import verify_payload
    from jirlbot_spark.sources.fixtures import gen_pages_lossy

    pages = spark.createDataFrame(gen_pages_lossy(43, 96))
    return verify_payload(pages)


def q_phash(spark, sf):
    from jirlbot_spark.operators.fetch import phash_udf
    from jirlbot_spark.sources.fixtures import gen_pages

    pages = spark.createDataFrame(gen_pages(42, 128))
    return pages.select(
        "image_id",
        "phash",
        phash_udf(
            F.col("bytes"), F.col("fmt"), F.col("w"), F.col("h")
        ).alias("phash_computed"),
    )


def q_dedup_minhash(spark, sf):
    """MinHash+LSH near-dup with an EXACT oracle: the SQL twin computes
    the full exact-Jaccard>=0.8 pair set; the Spark side only emits pairs
    that land in >=1 common LSH band bucket first. Equality therefore
    also asserts LSH recall = 1 on this (deterministic) fixture — with
    16 bands of 2 rows over 32 xxhash64 permutations, the analytic miss
    probability at j=0.8 is (1-0.64)^16 ≈ 8e-8 per pair, and the seeds
    and data are fixed, so the check is stable, not flaky."""
    from jirlbot_spark.operators.text_dedup import minhash_dedup

    d = _t(spark, sf, "documents").select("doc_id", "text")
    doubled = d.unionByName(
        d.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return minhash_dedup(doubled, threshold=0.8, bands=16).select(
        "id_a", "id_b", "jaccard"
    )


def q_dedup_text_groups(spark, sf):
    """Transitive MinHash near-dup clusters with canonical keepers
    (text_dup_groups) over the dedup_minhash corpus (documents + clones
    of doc_id<20). The oracle recomputes the FULL exact-Jaccard>=0.8
    pair set over shingle STRINGS, then its recursive-CTE closure and
    the min-id keep rule — green certifies LSH recall=1, the star
    contraction, and the keeper rule in one comparison."""
    from jirlbot_spark.operators.text_dedup import text_dup_groups

    d = _t(spark, sf, "documents").select("doc_id", "text")
    doubled = d.unionByName(
        d.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return text_dup_groups(doubled, bands=16)


def q_image_stats(spark, sf):
    """Image curation signals (luma stats / histogram entropy /
    colorfulness / sharpness — the image-side quality_score) over the
    seeded fixture pages; the golden replays images.image_stats_array
    directly at goldens-gen time, so equality asserts the mapInPandas
    plumbing reproduces the direct numpy computation bit-for-bit."""
    from jirlbot_spark.operators.fetch import image_stats
    from jirlbot_spark.sources.fixtures import gen_pages

    pages = spark.createDataFrame(gen_pages(42, 96))
    return image_stats(pages)


def q_dedup_phash(spark, sf):
    """Image near-dup by perceptual hash with a genuinely INDEPENDENT
    oracle: the Spark side runs the 8-block pigeonhole banded self-join
    (operators/image_dedup.py) over a seeded fixture, while DuckDB
    computes the FULL exact O(n²) Hamming<=7 pair set itself from the
    same VALUES relation (no golden, no shared kernel) — so equality
    asserts both the arithmetic AND that the banding loses no pair
    (pigeonhole recall = 1 for hamming <= blocks-1)."""
    from jirlbot_spark.operators.image_dedup import phash_neardup
    from jirlbot_spark.sources.fixtures import gen_phash_corpus

    pages = spark.createDataFrame(gen_phash_corpus(17, 160))
    return phash_neardup(pages, max_hamming=7).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_image_dup_groups(spark, sf):
    """Transitive pHash duplicate GROUPS + canonical keepers
    (operators/image_dedup.py image_dup_groups) over the dedup_phash
    fixture. The oracle recomputes the full exact O(n²) pair set AND
    closes it with a recursive CTE itself — green asserts banding
    recall, the contraction closure, and the min-id keep rule
    independently."""
    from jirlbot_spark.operators.image_dedup import image_dup_groups
    from jirlbot_spark.sources.fixtures import gen_phash_corpus

    pages = spark.createDataFrame(gen_phash_corpus(17, 160))
    return image_dup_groups(pages, max_hamming=7)


def q_token_shards(spark, sf):
    """Packed-token binary shard sink + source
    (sources/token_shards.py): documents are tokenized with an
    SQL-expressible id rule (ascii(first char)·128 + min(len,127)),
    written as 4 binary shards to a scratch dir, read BACK via the
    binaryFile source, and reduced to per-doc (n_tokens, position-
    weighted checksum) — all computed from the ROUND-TRIPPED bytes.
    The oracle recomputes both from the raw documents table in pure
    SQL, so green certifies the byte format's write+read fidelity
    end-to-end (the warc_roundtrip pattern for the tensor-side sink)."""
    import tempfile

    from jirlbot_spark.sources.token_shards import (
        read_token_shards,
        write_token_shards,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""
    )
    tid = lambda t: (  # noqa: E731
        F.ascii(F.substring(t, 1, 1)) * 128
        + F.least(F.length(t), F.lit(127))
    ).cast("int")
    tokens_df = d.select(
        "doc_id", F.transform(toks, tid).alias("tokens")
    )
    out_dir = tempfile.mkdtemp(prefix="jirlbot_token_shards_")
    write_token_shards(tokens_df, out_dir, n_shards=4).collect()
    back = read_token_shards(spark, out_dir)
    ex = back.select(
        "doc_id", F.posexplode("tokens").alias("pos", "tid")
    )
    agg = ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum((F.col("pos") + 1) * F.col("tid")).cast("long").alias(
            "checksum"
        ),
    )
    return (
        d.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce("checksum", F.lit(0).cast("long")).alias("checksum"),
        )
    )


def _sql_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sitemap_docs_values() -> str:
    from jirlbot_spark.sources.fixtures import sitemap_scenario

    rows = ", ".join(
        f"({_sql_lit(src)}, {_sql_lit(body)})"
        for src, body in sitemap_scenario()
    )
    return f"(VALUES {rows}) AS docs(src, body)"


def _redirect_values() -> str:
    from jirlbot_spark.sources.fixtures import redirect_scenario

    rows = ", ".join(
        f"({_sql_lit(src)}, {st}, {_sql_lit(loc)})"
        for src, st, loc in redirect_scenario()
    )
    return f"(VALUES {rows}) AS t(src_url, status, location)"


def _warc_values() -> str:
    import zlib as _z

    from jirlbot_spark.sources.fixtures import warc_scenario

    rows = ", ".join(
        f"({_sql_lit(u)}, {s}, {_sql_lit(ct)}, {len(b)}, {_z.crc32(b)})"
        for u, s, ct, b in warc_scenario()
    )
    return (
        f"(VALUES {rows}) AS "
        "w(target_uri, status, content_type, payload_len, payload_crc)"
    )


def q_caption_consistency(spark, sf):
    """Caption⇄image consistency over the input-hint pair shape
    (operators/image_dedup.py caption_consistency) on the seeded
    gen_caption_corpus fixture. The oracle recomputes both
    count-distinct axes INDEPENDENTLY over the raw caption STRINGS in
    the same VALUES — no xxhash64, no shared kernel — so green also
    certifies the hash-grouping's no-collision assumption here."""
    from jirlbot_spark.operators.image_dedup import caption_consistency
    from jirlbot_spark.sources.fixtures import gen_caption_corpus

    pages = spark.createDataFrame(gen_caption_corpus(23, 160))
    return caption_consistency(pages)


def _caption_corpus_values(alias: str) -> str:
    from jirlbot_spark.sources.fixtures import gen_caption_corpus

    df = gen_caption_corpus(23, 160)
    rows = ", ".join(
        f"('{i}', '{c}', CAST({int(p)} AS BIGINT))"
        for i, c, p in zip(df["image_id"], df["caption"], df["phash"])
    )
    return f"(VALUES {rows}) AS {alias}(image_id, caption, phash)"


def _phash_corpus_values(alias: str) -> str:
    from jirlbot_spark.sources.fixtures import gen_phash_corpus

    df = gen_phash_corpus(17, 160)
    rows = ", ".join(
        f"('{i}', CAST({int(p)} AS BIGINT))"
        for i, p in zip(df["image_id"], df["phash"])
    )
    return f"(VALUES {rows}) AS {alias}(image_id, phash)"


def _phash_blocklist() -> list[int]:
    """Pinned blocklist for the phash_blocklist key, derived from the
    same seeded corpus: an exact corpus hash, 3- and 7-bit-flipped
    variants (the recall edge), an 8-bit-flip (beyond the pigeonhole
    bound — must not match), and one unrelated constant."""
    from jirlbot_spark.sources.fixtures import gen_phash_corpus

    ph = [int(p) for p in gen_phash_corpus(17, 160)["phash"][:4]]

    def flip(x, bits):
        for b in bits:
            x ^= 1 << b
        return x - (1 << 64) if x >= 1 << 63 else x

    return [
        ph[0],
        flip(ph[1], (1, 17, 33)),
        flip(ph[2], (0, 9, 18, 27, 36, 45, 54)),
        flip(ph[3], tuple(range(0, 64, 8))),
        7_777_777_777,
    ]


def q_phash_blocklist(spark, sf):
    """pHash blocklist matching (operators/image_dedup.py
    phash_blocklist) over the seeded phash corpus vs a pinned 5-entry
    blocklist covering exact / 3-bit / 7-bit (recall edge) / 8-bit
    (beyond the bound) / unrelated cases. The oracle recomputes every
    verdict by a full corpus×blocklist scan in pure SQL (bit_count over
    xor + min with the (hamming, bad_phash) tie-break) — independent of
    the Spark side's block-pigeonhole candidate generation, so green
    also certifies pigeonhole recall=1 at max_hamming=7."""
    from jirlbot_spark.operators.image_dedup import phash_blocklist
    from jirlbot_spark.sources.fixtures import gen_phash_corpus

    corpus = spark.createDataFrame(gen_phash_corpus(17, 160))
    bad = spark.createDataFrame(
        [(b,) for b in _phash_blocklist()], "bad_phash long"
    )
    return phash_blocklist(corpus, bad)


def q_dedup_simhash(spark, sf):
    """SimHash near-dup with an EXACT golden oracle: the fixture corpus
    is seeded (gen_documents — sf-independent, like the media keys), and
    the expected (id_a, id_b, hamming) pairs are computed at goldens-gen
    time by DIRECT numpy application of the simhash kernel + an O(n²)
    reference implementation of the 16-bit-block candidate rule — so
    oracle equality asserts the Spark blocked self-join finds exactly
    the pigeonhole-guaranteed pair set."""
    from jirlbot_spark.operators.text_dedup import simhash_candidates
    from jirlbot_spark.sources.fixtures import gen_documents

    d = spark.createDataFrame(gen_documents(13, 400))
    return simhash_candidates(d).filter(F.col("hamming") <= 3)


def q_ann_lsh(spark, sf):
    """LSH ANN with an EXACT golden oracle: seeded fixture corpus
    (gen_embeddings, sf-independent); the golden replicates the JVM
    computation bit-for-bit at goldens-gen time — hyperplane sketches,
    per-table bucket candidates, and the cosine rerank all use the same
    LEFT-FOLD double arithmetic F.aggregate performs, so the (query_id,
    vec_id, rank) ordering is deterministic and identical. The float
    cosine itself is an internal ranking key, not an output column."""
    from jirlbot_spark.operators.similarity import lsh_topk
    from jirlbot_spark.sources.fixtures import gen_embeddings

    emb = gen_embeddings(29, 300)
    e = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in
         zip(emb["vec_id"], emb["embedding"])],
        "vec_id long, embedding array<float>",
    )
    queries = e.filter(F.col("vec_id") < 10)
    return lsh_topk(queries, e, k=5, dim=64, n_planes=8, n_tables=4).select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank")
    )


def q_ann_ivf(spark, sf):
    """IVF-indexed ANN (operators/similarity.ivf_topk) with an EXACT
    golden oracle: seeded fixture corpus (gen_embeddings, sf-independent)
    integer-quantized so the whole pipeline is bit-deterministic — the
    k-means sample is the full corpus in row order at this scale
    (sample_mod=1), centroids are re-quantized to int64 (CENT_SCALE) so
    cell assignment/probing use exact int arithmetic independent of Arrow
    batching, and the rerank runs the same int64 _cosine_matrix as
    ann_topk. golden_ann_ivf replicates train+assign+probe+rerank by
    direct function application (the ann_lsh pattern). Recall vs brute
    stays pytest-gated in tests/test_text_ops.py."""
    from jirlbot_spark.operators.similarity import ivf_topk
    from jirlbot_spark.sources.fixtures import gen_embeddings

    emb = gen_embeddings(29, 300)
    e = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in
         zip(emb["vec_id"], emb["embedding"])],
        "vec_id long, embedding array<float>",
    ).select("vec_id", _quantized(F.col("embedding")).alias("q"))
    queries = e.filter(F.col("vec_id") < 10)
    return ivf_topk(
        queries, e, k=5, vec_col="q", n_centroids=16, nprobe=6
    ).select("query_id", "vec_id", "cosine", F.col("rank").alias("rnk"))


def q_dsir_weights(spark, sf):
    """DSIR hashed-ngram importance weights (operators/dsir.py): target
    distribution = the English documents, raw = all documents; 4096
    buckets; weights are exact int64 sums of driver-quantized log
    ratios. The golden (golden_dsir_weights) replicates the whole
    pipeline with the INDEPENDENT spec-derived pure-Python XXH64 —
    green certifies Spark's xxhash64 against the published algorithm
    end-to-end."""
    from jirlbot_spark.operators.dsir import dsir_weights

    d = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    target = d.filter(F.col("lang") == "en").select("doc_id", "text")
    raw = d.select("doc_id", "text")
    return dsir_weights(raw, target, n_buckets=4096)


def q_lm_perplexity(spark, sf):
    """CCNet-style bigram-LM quality scores (operators/lm_quality.py):
    LM trained on the English documents (vocab 500, bigram cap 2000,
    int64-quantized log probs), every document scored. The oracle pins
    only the LM tables (independently trained in pure Python at
    goldens-gen time) and recomputes mapping, bigram formation, lookup,
    and the exact sums itself in DuckDB."""
    from jirlbot_spark.operators.lm_quality import lm_score, train_bigram_lm

    d = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    ref = d.filter(F.col("lang") == "en").select("doc_id", "text")
    lm = train_bigram_lm(ref, max_vocab=500, max_bigrams=2000)
    return lm_score(d.select("doc_id", "text"), lm)


def q_dedup_semantic(spark, sf):
    """SemDeDup (operators/semdedup.py): k-means cells over the seeded
    fixture embeddings (int64-quantized, the ann_ivf contract so every
    score/assignment is exact), within-cell exact-int cosine pairs at
    0.9, star-contraction components, least-centroid-similar keep rule.
    The oracle (golden_dedup_semantic) pins ONLY the corpus + trained
    centroid tables as VALUES and recomputes assignment, pairing,
    closure (recursive CTE), and the keep rule ITSELF in DuckDB."""
    from jirlbot_spark.operators.semdedup import semantic_dedup
    from jirlbot_spark.sources.fixtures import gen_embeddings

    emb = gen_embeddings(31, 120, dim=16)
    e = spark.createDataFrame(
        [
            (int(i), [float(x) for x in v])
            for i, v in zip(emb["vec_id"], emb["embedding"])
        ],
        "vec_id long, embedding array<float>",
    ).select("vec_id", _quantized(F.col("embedding")).alias("q"))
    return semantic_dedup(e, threshold=0.9, n_clusters=4, vec_col="q").select(
        "vec_id", "cell", "cent_sim", "component", "keep"
    )


def q_image_resize(spark, sf):
    """Real decode -> nearest-neighbor resize -> re-encode over the image
    payload fixtures (functions/media.resize_images)."""
    from jirlbot_spark.functions.media import resize_images
    from jirlbot_spark.sources.fixtures import gen_pages

    pages = spark.createDataFrame(gen_pages(42, 64))
    return resize_images(pages, 16, 16).select("image_id", "w", "h", "fmt")


def q_audio_features(spark, sf):
    """Audio multimodal plumbing (typed binary column -> mapInPandas
    features); sample decode is the deterministic fake backend in this
    sandbox (media.py module docstring) — rows-only check."""
    from jirlbot_spark.functions.media import AUDIO_SCHEMA, audio_features
    from jirlbot_spark.sources.fixtures import gen_audio

    audio = spark.createDataFrame(gen_audio(7, 64), schema=AUDIO_SCHEMA)
    return audio_features(audio)


def q_frame_sample(spark, sf):
    """Video 1->N frame sampling (mapInPandas explode of raw RGB24
    frames). avi rows decode REAL pixels (media.decode_avi, the engine's
    own uncompressed-AVI parser); mp4/webm rows use the gated
    deterministic fake. The golden pins cardinality AND content: px_sum
    is the byte-sum of each emitted frame, recomputed by the goldens
    generator from a direct decode of the same fixture."""
    from pyspark.sql import functions as F2

    from jirlbot_spark.functions.media import (
        VIDEO_SCHEMA,
        frame_sample,
        px_sum_udf,
    )
    from jirlbot_spark.sources.fixtures import gen_video

    video = spark.createDataFrame(gen_video(9, 32), schema=VIDEO_SCHEMA)
    return frame_sample(video, every_n=10).select(
        "video_id",
        "frame_idx",
        "w",
        "h",
        F2.length("pixels").alias("n_bytes"),
        px_sum_udf("pixels").alias("px_sum"),
    )


def q_politeness_stream_state(spark, sf):
    """Custom stateful streaming operator (streaming/stateful.py): per-host
    politeness schedule continuing ACROSS two availableNow triggers via
    applyInPandasWithState. Cross-trigger state is SQL-expressible as a
    running per-host row_number over (trigger, priority, key) — so this
    custom stateful op gets an EXACT DuckDB oracle."""
    import shutil
    import tempfile

    from pyspark.sql.functions import col

    from jirlbot_spark.streaming.stateful import politeness_stream

    o = _t(spark, sf, "orders").select(
        (F.col("o_custkey") % 50).cast("long").alias("host_hash"),
        F.col("o_orderkey").cast("long").alias("url_hash"),
        (F.col("o_orderkey") % 3).cast("double").alias("priority"),
        (F.col("o_orderkey") % 2).cast("int").alias("trig"),
    )
    wd = tempfile.mkdtemp(prefix="pol_state_")
    indir, outdir, ckpt = f"{wd}/in", f"{wd}/out", f"{wd}/ckpt"
    schema = "host_hash long, url_hash long, priority double"
    for trig in (0, 1):
        o.filter(col("trig") == trig).select(
            "host_hash", "url_hash", "priority"
        ).coalesce(1).write.mode("append").parquet(indir)
        stream = spark.readStream.schema(schema).parquet(indir)
        q = (
            politeness_stream(stream, min_delay_s=1.0)
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    out = spark.read.parquet(outdir).select(
        "host_hash", "url_hash", "seq_in_host", "planned_at_s"
    )
    _ = shutil  # workdir intentionally left for the session lifetime
    return out


def q_resume_state(spark, sf):
    """Checkpoint/resume with an EXACT independent oracle: batches 1-2 run
    in one CrawlLoop, then a brand-new CrawlLoop over the same TableStore
    resumes from the committed manifests and runs batch 3. The full
    3-batch fetch_log (ordering, per-host sequence, politeness schedule)
    must equal the pure-Python crawl simulator's golden
    (tests/oracle_sim.py — shares no code with the engine) computed at
    goldens-gen time over the identical resume_scenario() inputs."""
    import tempfile

    from jirlbot_spark.plans.loop import CrawlConfig, CrawlLoop
    from jirlbot_spark.session import materialize
    from jirlbot_spark.sources.fixtures import gen_pages, resume_scenario
    from jirlbot_spark.sources.storage import TableStore

    seeds, graph, robots, cfg_kwargs, n_batches = resume_scenario()
    seeds_df = spark.createDataFrame([(s,) for s in seeds], ["url"])
    graph_df = spark.createDataFrame(graph, ["src_url", "dst_url"])
    robots_df = spark.createDataFrame(
        [(h, d, c) for h, (d, c) in robots.items()],
        "host string, disallow array<string>, crawl_delay double",
    )
    pages = spark.createDataFrame(gen_pages(42, 60))
    root = tempfile.mkdtemp(prefix="resume_state_")
    cfg = CrawlConfig(salt_buckets=2, image_scale=60, **cfg_kwargs)
    # pin the shuffle width to the 20-fetch fixture for the loop's many
    # tiny stages (the driver session runs 32 — pure scheduler overhead
    # here); restore whatever the session had afterwards. Semantics are
    # partition-count-independent (tests run the loop at several widths).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        store = TableStore(spark, root)
        loop = CrawlLoop(spark, store, pages, graph_df, robots_df, cfg)
        loop.ingest_seeds(seeds_df)
        loop.run(n_batches - 1)
        # fresh loop over a fresh store handle: resume purely from disk
        store2 = TableStore(spark, root)
        loop2 = CrawlLoop(spark, store2, pages, graph_df, robots_df, cfg)
        loop2.run(1)
        out = store2.read("fetch_log").select(
            F.col("batch").cast("int").alias("batch"),
            "url",
            "host",
            F.col("seq_in_host").cast("int").alias("seq_in_host"),
            F.col("planned_at_s").cast("double").alias("planned_at_s"),
        )
        # materialize under the pinned width (the loop above already ran
        # eagerly; this is the final store read)
        out = materialize(out, "resume-fetch-log")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: dedup the order-frontier DRUM-style, enforce
    per-PLD budgets, and report admitted URL counts per PLD."""
    sf = "/root/testdata/sf0.001"
    from jirlbot_spark.operators.beast import beast_enforce

    f = _frontier(spark, sf)
    budgets = f.select("pld_hash").distinct().select(
        "pld_hash", (F.lit(3) + F.col("pld_hash") % 5).cast("long").alias("budget")
    )
    out = beast_enforce(f, budgets, salt_buckets=4)
    return (
        out.filter(F.col("admitted"))
        .groupBy("pld_hash")
        .agg(F.count("*").alias("admitted_urls"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # CERTIFICATION ROTATION: the driver checks the FIRST 50 keys in dict
    # order per round. With 80 registered keys, 30 sit outside the window
    # each round, so the dict is reordered every round to guarantee every
    # key earns a green driver CORRECTNESS row at most every other round.
    #   r3 window: the 50 "steady-state" keys (seed_scan .. dedup_embed in
    #     the r3 ordering) — all green in CORRECTNESS_r03.json.
    #   r4 window: the 30 keys OUTSIDE the r3 window (12 never-checked +
    #     18 last checked in r2) + 20 r3-green fills — CORRECTNESS_r04
    #     50/50 green.
    #   r5 window (this ordering): the 30 keys that sat outside the r4
    #     window (all r3-green, now re-certified) first, then 20 fill
    #     keys chosen so EVERY key whose code path changes in round 5 is
    #     inside the window (LSH/simhash dedup, similarity.py ANN,
    #     storage.py commit path, and the crawl keys being re-measured).
    #     tools/check_window.py enforces that invariant — run it with the
    #     touched keys before shipping a round.
    #   After r5: every key's latest green driver row is ≤1 round old
    #     (30 keys r5 + 50 keys r4-or-r5).
    return {
        # --- rotated back in: outside the r4 window, last green in r3 (30) ---
        "canonical_extract": q_canonical_extract,
        "metrics_agg": q_metrics_agg,
        "topk_frontier": q_topk_frontier,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram": q_dedup_ngram,
        "dedup_components": q_dedup_components,
        "components_update": q_components_update,
        "dns_cache": q_dns_cache,
        "pii_scrub": q_pii_scrub,
        "c4_clean": q_c4_clean,
        "pair_filter": q_pair_filter,
        "bpe_encode": q_bpe_encode,
        "decontaminate": q_decontaminate,
        "quality_classify": q_quality_classify,
        "aspect_batch": q_aspect_batch,
        "dedup_substrings": q_dedup_substrings,
        "dedup_lines": q_dedup_lines,
        "url_filter": q_url_filter,
        "trap_detect": q_trap_detect,
        "adaptive_delay": q_adaptive_delay,
        "gopher_quality": q_gopher_quality,
        "dedup_semantic": q_dedup_semantic,
        "image_dup_groups": q_image_dup_groups,
        "token_shards_roundtrip": q_token_shards,
        "dsir_weights": q_dsir_weights,
        "lm_perplexity": q_lm_perplexity,
        "curate_corpus": q_curate_corpus,
        "repetition_stats": q_repetition_stats,
        "pack_sequences": q_pack_sequences,
        "html_extract": q_html_extract,
        # --- r4-green fill (20): every key touched by round-5 code
        #     changes (text_dedup/similarity/storage) + the crawl keys
        #     whose r4 bench numbers need a clean re-measure ---
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_text_groups": q_dedup_text_groups,
        "ann_topk": q_ann_topk,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "dedup_embed": q_dedup_embed,
        "resume_state": q_resume_state,
        "urlseen_dedup": q_urlseen_dedup,
        "urlseen_dedup_bloom": q_urlseen_dedup_bloom,
        "urlseen_dedup_agg": q_urlseen_dedup_agg,
        "batch_distinct": q_batch_distinct,
        "star_budget": q_star_budget,
        "beast_enforce": q_beast_enforce,
        "politeness_schedule": q_politeness_schedule,
        "seed_scan": q_seed_scan,
        "canonicalize": q_canonicalize,
        "url_hash": q_url_hash,
        "fetch_join": q_fetch_join,
        "image_verify": q_image_verify,
        # --- outside the r5 window (30, all green in CORRECTNESS_r04;
        #     none touched by round-5 changes) ---
        "pld_extract": q_pld_extract,
        "robots_requested_anti": q_robots_requested_anti,
        "robots_check": q_robots_check,
        "pld_indegree": q_pld_indegree,
        "pld_pagerank": q_pld_pagerank,
        "link_explode": q_link_explode,
        "json_props": q_json_props,
        "crawl_rate_window": q_crawl_rate_window,
        "recrawl_schedule": q_recrawl_schedule,
        "robots_rfc": q_robots_rfc,
        "sitemap_parse": q_sitemap_parse,
        "redirect_resolve": q_redirect_resolve,
        "sample_stratified": q_sample_stratified,
        "warc_roundtrip": q_warc_roundtrip,
        "webdataset_roundtrip": q_webdataset_roundtrip,
        "image_scrub": q_image_scrub,
        "dedup_phash": q_dedup_phash,
        "phash_blocklist": q_phash_blocklist,
        "caption_consistency": q_caption_consistency,
        "image_stats": q_image_stats,
        "lang_id": q_lang_id,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "fingerprint": q_fingerprint,
        "image_verify_lossy": q_image_verify_lossy,
        "phash": q_phash,
        "image_resize": q_image_resize,
        "audio_features": q_audio_features,
        "frame_sample": q_frame_sample,
        "politeness_stream_state": q_politeness_stream_state,
    }


def oracle_sql() -> dict[str, str]:
    # Fixture-seeded keys (image_verify/phash/image_resize/audio_features/
    # frame_sample) carry generated VALUES goldens — see tools/gen_goldens.py
    from jirlbot_spark.goldens_sql import GOLDEN_ORACLES

    return {
        **GOLDEN_ORACLES,
        # dedup_phash: DuckDB computes the exact O(n²) pair set ITSELF
        # from the seeded VALUES — an independent oracle, not a golden
        "dedup_phash": f"""
            SELECT a.image_id AS id_a, b.image_id AS id_b,
                   CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER)
                       AS hamming
            FROM {_phash_corpus_values("a")}
            JOIN {_phash_corpus_values("b")} ON a.image_id < b.image_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 7
        """,
        # webdataset_roundtrip: expected rows computed from the RAW
        # fixture with zlib-crc32 (Spark side: JVM F.crc32 over the
        # bytes recovered from the tar walk — two independent crc32s)
        "webdataset_roundtrip": f"""
            SELECT image_id, ext, img_crc, n_bytes, caption, fmt, w, h,
                   phash
            FROM (VALUES {_webdataset_values()})
              AS t(image_id, ext, img_crc, n_bytes, caption, fmt, w, h,
                   phash)
        """,
        # canonical_extract: the IDENTICAL pattern chain on DuckDB's RE2
        # (patterns imported from the operator — single source of truth)
        "canonical_extract": _canonical_oracle(),
        # recrawl_schedule: LAG-based change detection + the smoothed
        # exact-integer priority recomputed entirely in SQL
        "recrawl_schedule": """
            WITH log AS (
              SELECT event_id % 300 AS url_hash,
                     event_id % 97 AS batch_id,
                     CAST(CASE
                       WHEN (event_id % 300) % 3 = 0
                         THEN (event_id % 300) * 100000 + event_id % 97
                       WHEN (event_id % 300) % 3 = 1
                         THEN event_id % 300
                       ELSE (event_id % 300) * 100000
                            + (event_id % 97) // 8
                     END AS BIGINT) AS content_hash
              FROM events
            ), obs AS (
              SELECT url_hash, batch_id, MAX(content_hash) AS c
              FROM log GROUP BY url_hash, batch_id
            ), lagged AS (
              SELECT url_hash, batch_id, c,
                     LAG(c) OVER (PARTITION BY url_hash
                                  ORDER BY batch_id) AS prev
              FROM obs
            ), stats AS (
              SELECT url_hash,
                     CAST(COUNT(*) AS BIGINT) AS n_fetches,
                     CAST(SUM(CASE WHEN prev IS NOT NULL AND c <> prev
                                   THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_changes,
                     CAST(MAX(batch_id) AS BIGINT) AS last_batch
              FROM lagged GROUP BY url_hash
            )
            SELECT url_hash, n_fetches, n_changes,
                   CAST(120 - last_batch AS BIGINT) AS age,
                   CAST((120 - last_batch) * (2 * n_changes + 1)
                        AS BIGINT) AS score_num,
                   CAST(2 * n_fetches + 1 AS BIGINT) AS score_den,
                   CAST((120 - last_batch) * (2 * n_changes + 1)
                        AS DOUBLE)
                   / CAST(2 * n_fetches + 1 AS DOUBLE) AS score,
                   (120 - last_batch) * (2 * n_changes + 1)
                     >= 5 * (2 * n_fetches + 1) AS due
            FROM stats
        """,
        # phash_blocklist: full corpus×blocklist scan in pure SQL —
        # independent of the block-pigeonhole candidates; min with the
        # (hamming, bad_phash) struct tie-break replayed via ROW_NUMBER
        "phash_blocklist": f"""
            WITH bad(bad_phash) AS (VALUES {
                ", ".join(f"(CAST({b} AS BIGINT))" for b in _phash_blocklist())
            }),
            hits AS (
              SELECT c.image_id, c.phash,
                     CAST(bit_count(xor(c.phash, bad.bad_phash))
                          AS INTEGER) AS hamming,
                     bad.bad_phash
              FROM {_phash_corpus_values("c")} CROSS JOIN bad
            ), ranked AS (
              SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY image_id
                          ORDER BY hamming, bad_phash) AS rn
              FROM hits WHERE hamming <= 7
            ), best AS (
              SELECT image_id, hamming AS best_hamming,
                     bad_phash AS matched_phash
              FROM ranked WHERE rn = 1
            )
            SELECT c.image_id, c.phash,
                   b.best_hamming IS NOT NULL AS matched,
                   b.best_hamming, b.matched_phash
            FROM {_phash_corpus_values("c")}
            LEFT JOIN best b ON b.image_id = c.image_id
        """,
        # token_shards_roundtrip: per-doc token count + position-
        # weighted checksum recomputed from the RAW documents in pure
        # SQL vs Spark's computation from the round-tripped shard bytes
        "token_shards_roundtrip": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 t -> t <> '') AS t
              FROM documents
            ), pos AS (
              SELECT doc_id, i, t[i] AS tok
              FROM toks, UNNEST(generate_series(1, len(t))) AS g(i)
            ), ids AS (
              SELECT doc_id, i,
                     ord(substr(tok, 1, 1)) * 128
                     + least(length(tok), 127) AS tid
              FROM pos
            ), agg AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                     CAST(SUM(i * tid) AS BIGINT) AS checksum
              FROM ids GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(a.checksum, 0) AS BIGINT) AS checksum
            FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        """,
        # image_dup_groups: the oracle recomputes the exact pair set
        # AND its recursive-CTE closure + min-id keep rule itself
        "image_dup_groups": f"""
            WITH RECURSIVE pairs AS (
              SELECT a.image_id AS pu, b.image_id AS pw
              FROM {_phash_corpus_values("a")}
              JOIN {_phash_corpus_values("b")} ON a.image_id < b.image_id
              WHERE bit_count(xor(a.phash, b.phash)) <= 7
            ), sym AS (
              SELECT pu AS s, pw AS t FROM pairs
              UNION
              SELECT pw AS s, pu AS t FROM pairs
            ), ids AS (
              SELECT DISTINCT image_id FROM {_phash_corpus_values("v")}
            ), reach(id, lbl) AS (
              SELECT image_id, image_id FROM ids
              UNION
              SELECT sym.t, reach.lbl FROM reach JOIN sym ON sym.s = reach.id
            ), comp AS (
              SELECT id, MIN(lbl) AS component FROM reach GROUP BY id
            )
            SELECT id AS image_id, component, id = component AS keep
            FROM comp
        """,
        # caption_consistency: DuckDB recomputes both count-distinct
        # axes over the raw caption STRINGS — independent of the Spark
        # side's xxhash64 caption grouping
        "caption_consistency": f"""
            WITH pages AS (SELECT * FROM {_caption_corpus_values("p")}),
            per_cap AS (
              SELECT caption,
                     COUNT(DISTINCT phash) AS images_per_caption,
                     COUNT(*) AS pairs_per_caption
              FROM pages GROUP BY caption
            ), per_img AS (
              SELECT phash,
                     COUNT(DISTINCT caption) AS captions_per_image
              FROM pages GROUP BY phash
            )
            SELECT g.image_id,
                   CAST(c.images_per_caption AS BIGINT)
                     AS images_per_caption,
                   CAST(c.pairs_per_caption AS BIGINT)
                     AS pairs_per_caption,
                   CAST(i.captions_per_image AS BIGINT)
                     AS captions_per_image,
                   c.images_per_caption > 1 AS boilerplate_caption,
                   i.captions_per_image > 1 AS divergent_caption
            FROM pages g
            JOIN per_cap c ON c.caption = g.caption
            JOIN per_img i ON i.phash = g.phash
        """,
        # sitemap_parse / redirect_resolve: DuckDB re-implements the
        # extraction / RFC 3986 merge itself in pure SQL over the same
        # VALUES — independent oracles, not goldens
        "sitemap_parse": f"""
            WITH docs AS (SELECT * FROM {_sitemap_docs_values()}),
            xml AS (SELECT * FROM docs WHERE regexp_matches(body,
                    '(?is)<\\s*(urlset|sitemapindex)[\\s>]')),
            blocks AS (
              SELECT src, unnest(regexp_extract_all(body,
                     '(?is)<url\\s*>(.*?)</url\\s*>', 1)) AS block,
                     'url' AS kind FROM xml
              UNION ALL
              SELECT src, unnest(regexp_extract_all(body,
                     '(?is)<sitemap\\s*>(.*?)</sitemap\\s*>', 1)) AS block,
                     'sitemap' AS kind FROM xml
            ),
            xml_entries AS (
              SELECT src,
                replace(replace(replace(replace(replace(
                  regexp_extract(block,
                    '(?is)<loc\\s*>\\s*(.*?)\\s*</loc\\s*>', 1),
                  '&lt;','<'),'&gt;','>'),'&quot;','"'),'&apos;',''''),
                  '&amp;','&') AS loc,
                kind,
                nullif(regexp_extract(block,
                  '(?is)<lastmod\\s*>\\s*(.*?)\\s*</lastmod\\s*>', 1),
                  '') AS lastmod
              FROM blocks
            ),
            txt_entries AS (
              SELECT src, trim(line) AS loc, 'url' AS kind,
                     CAST(NULL AS VARCHAR) AS lastmod
              FROM (SELECT src,
                      unnest(string_split_regex(body, '\\r?\\n')) AS line
                    FROM docs WHERE NOT regexp_matches(body,
                      '(?is)<\\s*(urlset|sitemapindex)[\\s>]'))
              WHERE regexp_matches(trim(line), '^[hH][tT][tT][pP][sS]?://')
            )
            SELECT src, loc, kind, lastmod FROM
              (SELECT * FROM xml_entries UNION ALL SELECT * FROM txt_entries)
            WHERE loc <> ''
        """,
        "redirect_resolve": f"""
            WITH r AS (SELECT * FROM {_redirect_values()}
                       WHERE status IN (301,302,303,307,308)
                         AND coalesce(location,'') <> ''),
            p AS (SELECT src_url, location,
                regexp_extract(src_url, '^(https?://[^/?#]+)', 1) AS origin,
                regexp_extract(src_url, '^(https?):', 1) AS scheme,
                regexp_replace(regexp_replace(src_url,
                  '^https?://[^/?#]+', ''), '[?#].*$', '') AS rawpath,
                coalesce(nullif(regexp_extract(src_url,
                  '(\\?[^#]*)', 1), ''), '') AS bquery
              FROM r),
            p2 AS (SELECT *, CASE WHEN rawpath = '' THEN '/'
                                  ELSE rawpath END AS path FROM p),
            m AS (SELECT src_url,
              CASE
                WHEN location LIKE 'http://%'
                  OR location LIKE 'https://%' THEN location
                WHEN location LIKE '//%' THEN scheme || ':' || location
                WHEN location LIKE '/%' THEN origin || location
                WHEN location LIKE '?%' THEN origin || path || location
                WHEN location LIKE '#%'
                  THEN origin || path || bquery || location
                ELSE origin || regexp_replace(path, '[^/]*$', '')
                       || location
              END AS resolved FROM p2)
            SELECT src_url, regexp_replace(resolved, '#.*$', '') AS target
            FROM m
        """,
        # sample_stratified: DuckDB recomputes every keep/assign decision
        # itself (Knuth multiplicative hash, FLOOR-quantized thresholds —
        # Spark side truncates via int()/cast, so FLOOR matches exactly)
        "sample_stratified": f"""
            WITH rates(lang, rate) AS (VALUES
                ('en', 0.8), ('de', 0.5), ('fr', 0.25)),
            d AS (SELECT doc_id, lang,
                    ((doc_id + 1) * {HASH_A}) % {FP_MOD} AS h1,
                    ((doc_id + 7) * {HASH_A}) % {FP_MOD} AS h2
                  FROM documents),
            s AS (SELECT d.doc_id, d.lang, d.h2
                  FROM d LEFT JOIN rates r USING (lang)
                  WHERE (h1 % 1048576)
                        < FLOOR(COALESCE(r.rate, 0.1) * 1048576))
            SELECT doc_id, lang,
              CASE WHEN (h2 % 1048576) < FLOOR(0.8 * 1048576) THEN 'train'
                   WHEN (h2 % 1048576) < FLOOR(0.9 * 1048576) THEN 'val'
                   ELSE 'test' END AS split
            FROM s
        """,
        # warc_roundtrip: the twin is the INPUT tuple set itself (with
        # zlib-crc32 checksums, independent of the JVM crc32 Spark
        # computes) — equality asserts the WARC round-trip is lossless
        "warc_roundtrip": f"""
            SELECT target_uri, status, content_type,
                   CAST(payload_len AS INTEGER) AS payload_len,
                   CAST(payload_crc AS BIGINT) AS payload_crc
            FROM {_warc_values()}
        """,
        "seed_scan": """
            SELECT o_orderkey AS url_id, o_custkey AS pld_id,
                   CAST(substring(o_orderpriority, 1, 1) AS INT) AS priority
            FROM orders WHERE o_totalprice > 100
        """,
        "canonicalize": """
            SELECT o_orderkey AS url_id,
                   'http://site' || CAST(o_custkey % 100 AS VARCHAR)
                   || '.com/o/' || CAST(o_orderkey AS VARCHAR)
                   AS canonical_url
            FROM orders
        """,
        "pld_extract": """
            SELECT c_custkey AS cust_id,
                   'site' || CAST(c_custkey % 50 AS VARCHAR)
                   || CASE WHEN c_custkey % 4 = 0 THEN '.co.uk' ELSE '.com' END
                   AS pld
            FROM customer
        """,
        # url_hash: VALUES golden from the independent scalar murmur3
        # reference (GOLDEN_ORACLES, generated by tools/gen_goldens.py)
        "urlseen_dedup": """
            SELECT o_orderkey AS url_id,
                   CASE WHEN o_orderkey % 3 = 0 THEN 'DUPLICATE_KEY'
                        ELSE 'UNIQUE_KEY' END AS drum_result
            FROM orders
        """,
        "urlseen_dedup_bloom": """
            SELECT o_orderkey AS url_id,
                   CASE WHEN o_orderkey % 3 = 0 THEN 'DUPLICATE_KEY'
                        ELSE 'UNIQUE_KEY' END AS drum_result
            FROM orders
        """,
        "urlseen_dedup_agg": """
            SELECT o_orderkey AS url_id, o_orderkey AS first_arrival
            FROM orders WHERE o_orderkey % 3 <> 0
        """,
        "politeness_stream_state": """
            SELECT host_hash, url_hash,
                   CAST(rn AS BIGINT) AS seq_in_host,
                   CAST((rn - 1) * 1.0 AS DOUBLE) AS planned_at_s
            FROM (
                SELECT o_custkey % 50 AS host_hash,
                       o_orderkey AS url_hash,
                       ROW_NUMBER() OVER (
                           PARTITION BY o_custkey % 50
                           ORDER BY o_orderkey % 2,
                                    CAST(o_orderkey % 3 AS DOUBLE),
                                    o_orderkey
                       ) AS rn
                FROM orders
            )
        """,
        "batch_distinct": """
            SELECT l_partkey AS part_id, COUNT(*) AS n_orders
            FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
            GROUP BY l_partkey
        """,
        "robots_requested_anti": """
            SELECT DISTINCT o_custkey % 200 AS host_hash FROM orders
            WHERE o_custkey % 200 NOT IN (SELECT s_suppkey FROM supplier)
        """,
        "robots_check": """
            SELECT o.o_orderkey AS url_id,
                   CASE WHEN s.s_suppkey IS NULL THEN 'UNKNOWN'
                        WHEN s.s_acctbal < 0 THEN 'FAIL'
                        WHEN s.s_suppkey % 5 = 0
                             AND ('/o/' || CAST(o.o_orderkey % 20 AS VARCHAR))
                                 LIKE '/o/1%' THEN 'FAIL'
                        ELSE 'PASS' END AS robots_status
            FROM orders o LEFT JOIN supplier s ON s.s_suppkey = o.o_custkey % 150
        """,
        "pld_indegree": """
            SELECT dst_pld AS pld_hash, COUNT(DISTINCT src_pld) AS indegree
            FROM (SELECT CAST(l_suppkey AS BIGINT) AS src_pld,
                         CAST(l_partkey % 80 AS BIGINT) AS dst_pld
                  FROM lineitem)
            WHERE src_pld <> dst_pld
            GROUP BY dst_pld
        """,
        "pld_pagerank": _pagerank_oracle(3),
        "star_budget": """
            WITH deg AS (
              SELECT dst_pld AS pld_hash, COUNT(DISTINCT src_pld) AS indegree
              FROM (SELECT CAST(l_suppkey AS BIGINT) AS src_pld,
                           CAST(l_partkey % 80 AS BIGINT) AS dst_pld
                    FROM lineitem)
              WHERE src_pld <> dst_pld GROUP BY dst_pld
            ), ranked AS (
              SELECT pld_hash, indegree,
                     ROW_NUMBER() OVER (ORDER BY indegree DESC, pld_hash ASC)
                       AS rank
              FROM deg
            )
            SELECT pld_hash, indegree,
                   CAST(CASE WHEN rank <= 20 THEN rank ELSE 0 END AS INT)
                     AS rank,
                   CASE WHEN rank <= 20
                        THEN CAST(FLOOR(1000.0 - ((rank - 1) * 990.0) / 19.0)
                                  AS BIGINT)
                        ELSE 10 END AS budget
            FROM ranked
        """,
        "beast_enforce": """
            WITH f AS (
              SELECT o_orderkey AS url_id, o_custkey % 100 AS pld_hash,
                     CAST(substring(o_orderpriority, 1, 1) AS DOUBLE)
                       AS priority
              FROM orders
            ), ranked AS (
              SELECT url_id, pld_hash,
                     ROW_NUMBER() OVER (PARTITION BY pld_hash
                                        ORDER BY priority ASC, url_id ASC)
                       AS rnk
              FROM f
            )
            SELECT url_id, pld_hash, CAST(rnk AS INT) AS rnk FROM ranked
            WHERE rnk <= 3 + pld_hash % 5
        """,
        "politeness_schedule": """
            WITH s AS (
              SELECT event_id, user_id,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY epoch_us(ts) ASC,
                                                 event_id ASC) AS seq_in_host
              FROM events
            )
            SELECT event_id, user_id, CAST(seq_in_host AS INT) AS seq_in_host,
                   (seq_in_host - 1) * (1.0 + CAST(user_id % 3 AS DOUBLE))
                     AS planned_at_s
            FROM s
        """,
        "fetch_join": """
            SELECT o.o_orderkey AS url_id, p.p_name AS part_name
            FROM orders o
            LEFT JOIN part p
              ON p.p_partkey = o.o_orderkey % (SELECT COUNT(*) FROM part)
        """,
        "link_explode": """
            WITH pages AS (
              SELECT 'http://docs.example.com/' || CAST(doc_id AS VARCHAR)
                       AS src_url,
                     '<html><body><p>' || text || '</p><a href="/d/'
                       || CAST(doc_id AS VARCHAR) || '">next</a>'
                       || CASE WHEN doc_id % 3 = 0
                               THEN '<a href="http://ex'
                                    || CAST(doc_id % 7 AS VARCHAR)
                                    || '.com/x">ext</a>'
                               ELSE '' END
                       || '</body></html>' AS page_text
              FROM documents
            )
            SELECT src_url,
                   unnest(regexp_extract_all(page_text,
                                             'href="([^"]+)"', 1)) AS out_url
            FROM pages
        """,
        "json_props": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   CAST(EXTRACT(hour FROM ts) AS INT) AS hh
            FROM events
        """,
        "crawl_rate_window": """
            SELECT ws, event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_value
            FROM (
              SELECT CAST(FLOOR(epoch(ts)/300)*300 AS BIGINT) - 300 AS ws,
                     event_type, value FROM events
              UNION ALL
              SELECT CAST(FLOOR(epoch(ts)/300)*300 AS BIGINT) AS ws,
                     event_type, value FROM events
            ) GROUP BY ws, event_type
        """,
        "metrics_agg": """
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_value
            FROM events GROUP BY event_type
        """,
        "topk_frontier": """
            WITH f AS (
              SELECT o_orderkey AS url_id,
                     CAST(o_orderkey % 8 AS INT) AS bucket,
                     CAST(substring(o_orderpriority, 1, 1) AS DOUBLE)
                       AS priority
              FROM orders
            )
            SELECT bucket, url_id, priority FROM (
              SELECT bucket, url_id, priority,
                     ROW_NUMBER() OVER (PARTITION BY bucket
                                        ORDER BY priority ASC, url_id ASC)
                       AS rn
              FROM f
            ) WHERE rn <= 10
        """,
        "dedup_exact": """
            SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
            FROM (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id + 100000, text FROM documents
            ) GROUP BY text
        """,
        # dedup_text_groups: full exact-Jaccard pair set over shingle
        # STRINGS + recursive-CTE closure + min-id keep rule — fully
        # independent (no hashing, no shared kernel); green certifies
        # LSH recall=1 AND the contraction AND the keeper rule
        "dedup_text_groups": """
            WITH RECURSIVE docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20
            ), toks AS (
              SELECT doc_id, string_split(trim(text), ' ') AS t FROM docs
            ), sh0 AS (
              SELECT doc_id, unnest(
                list_filter(
                  list_transform(t, (x, i) ->
                    CASE WHEN i + 2 <= len(t)
                         THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2] END),
                  s -> s IS NOT NULL)) AS s
              FROM toks
            ), sh AS (
              SELECT DISTINCT doc_id, s FROM sh0
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS inter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ), pairs AS (
              SELECT id_a, id_b FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE CAST(inter AS DOUBLE)
                    / (sa.sz + sb.sz - inter) >= 0.8
            ), sym AS (
              SELECT id_a AS s, id_b AS t FROM pairs
              UNION
              SELECT id_b AS s, id_a AS t FROM pairs
            ), reach(id, lbl) AS (
              SELECT doc_id, doc_id FROM docs
              UNION
              SELECT sym.t, reach.lbl FROM reach JOIN sym ON sym.s = reach.id
            ), comp AS (
              SELECT id, MIN(lbl) AS component FROM reach GROUP BY id
            )
            SELECT id AS doc_id, component, id = component AS keep
            FROM comp
        """,
        "dedup_minhash": """
            WITH docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20
            ), toks AS (
              SELECT doc_id, string_split(trim(text), ' ') AS t FROM docs
            ), sh0 AS (
              SELECT doc_id, unnest(
                list_filter(
                  list_transform(t, (x, i) ->
                    CASE WHEN i + 2 <= len(t)
                         THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2] END),
                  s -> s IS NOT NULL)) AS s
              FROM toks
            ), sh AS (
              SELECT DISTINCT doc_id, s FROM sh0
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS inter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b,
                   CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
        """,
        "dedup_ngram": """
            WITH docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20
            ), toks AS (
              SELECT doc_id, string_split(trim(text), ' ') AS t FROM docs
            ), sh0 AS (
              SELECT doc_id, unnest(
                list_filter(
                  list_transform(t, (x, i) ->
                    CASE WHEN i + 2 <= len(t)
                         THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2] END),
                  s -> s IS NOT NULL)) AS s
              FROM toks
            ), sh AS (
              SELECT DISTINCT doc_id, s FROM sh0
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS inter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
                   CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
        """,
        # decontaminate: DuckDB recomputes k=13 gram overlap over gram
        # STRINGS (array_to_string slices) — independent of the Spark
        # side's xxhash64 gram hashing
        # aspect_batch: the oracle re-derives the nearest-aspect argmin
        # (exact integer cross join + ROW_NUMBER over cost, idx), the
        # Knuth shard/order hashes, the within-(bucket, shard) ranks,
        # and the batch/tail flags entirely in SQL — independent twin
        "aspect_batch": f"""
            WITH imgs AS (
              SELECT CAST(o_orderkey AS BIGINT) AS image_id,
                     CAST((o_orderkey * 37) % 1987 + 64 AS INTEGER) AS w,
                     CAST((o_orderkey * 53) % 1993 + 64 AS INTEGER) AS h
              FROM orders
            ), b(idx, bw, bh, mult) AS (VALUES {_aspect_bucket_values()}),
            cost AS (
              SELECT i.image_id, i.w, i.h, b.idx, b.bw, b.bh,
                     abs(CAST(i.w AS BIGINT) * b.bh
                         - b.bw * CAST(i.h AS BIGINT)) * b.mult AS c
              FROM imgs i CROSS JOIN b
            ), pick AS (
              SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY image_id ORDER BY c, idx) AS rn
              FROM cost
            ), assigned AS (
              SELECT image_id, w, h, idx AS bucket_id,
                     bw AS bucket_w, bh AS bucket_h
              FROM pick WHERE rn = 1
            ), hashed AS (
              SELECT *,
                ((image_id + 11) * {HASH_A}) % {FP_MOD} % 8 AS shard,
                ((image_id + 23) * {HASH_A}) % {FP_MOD} AS oh
              FROM assigned
            ), ranked AS (
              SELECT *,
                ROW_NUMBER() OVER (PARTITION BY bucket_id, shard
                                   ORDER BY oh, image_id) - 1 AS pos,
                COUNT(*) OVER (PARTITION BY bucket_id, shard) AS n
              FROM hashed
            )
            SELECT image_id, w, h, bucket_id, bucket_w, bucket_h,
                   CAST(shard AS INTEGER) AS shard,
                   CAST(pos AS BIGINT) AS pos,
                   pos // 16 AS batch_in_shard,
                   CAST(pos % 16 AS INTEGER) AS pos_in_batch,
                   (pos // 16) < (n // 16) AS complete
            FROM ranked
        """,
        # quality_classify: the oracle recomputes every document score
        # over gram STRINGS (no hashing) with the same pinned CLS_WEIGHTS
        # — independent of the Spark side's xxhash64 features; the exact
        # int64 pooling + single-division score make the doubles bit-equal
        "quality_classify": f"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 t -> t <> '') AS t
              FROM documents
            ), grams AS (
              SELECT doc_id, t[i] AS g1, CAST(NULL AS VARCHAR) AS g2
              FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
              UNION ALL
              SELECT doc_id, t[i] AS g1, t[i + 1] AS g2
              FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
            ), w(w1, w2, wq) AS (VALUES {_cls_weight_values()}),
            j AS (
              SELECT g.doc_id, COALESCE(w.wq, 0) AS wq
              FROM grams g LEFT JOIN w
                ON g.g1 = w.w1 AND g.g2 IS NOT DISTINCT FROM w.w2
            ), agg AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                     CAST(SUM(wq) AS BIGINT) AS sum_q
              FROM j GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(COALESCE(a.sum_q, 0) AS BIGINT) AS sum_q,
                   CASE WHEN COALESCE(a.n_grams, 0) > 0
                        THEN CAST(a.sum_q + {CLS_BIAS_Q} * a.n_grams
                                  AS DOUBLE)
                             / CAST(a.n_grams * {CLS_SCALE} AS DOUBLE)
                        ELSE CAST({CLS_BIAS_Q} AS DOUBLE)
                             / CAST({CLS_SCALE} AS DOUBLE) END AS score,
                   CASE WHEN COALESCE(a.n_grams, 0) > 0
                        THEN a.sum_q + {CLS_BIAS_Q} * a.n_grams
                             >= {CLS_THR_Q} * a.n_grams
                        ELSE {CLS_BIAS_Q} >= {CLS_THR_Q} END AS keep
            FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        """,
        "decontaminate": """
            WITH bench AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0
            ), b0 AS (
              SELECT text FROM bench ORDER BY doc_id LIMIT 1
            ), rest AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0
            ), docs AS (
              SELECT doc_id, text FROM rest
              UNION ALL
              SELECT doc_id + 200000, text || ' ' || (SELECT text FROM b0)
              FROM rest WHERE doc_id % 41 = 0
            ), toks AS (
              SELECT doc_id, string_split(trim(text), ' ') AS t FROM docs
            ), grams AS (
              SELECT DISTINCT doc_id, array_to_string(t[i : i + 12], ' ') AS g
              FROM toks,
                   UNNEST(range(1, greatest(len(t) - 13 + 2, 1))) AS u(i)
            ), btoks AS (
              SELECT doc_id, string_split(trim(text), ' ') AS t FROM bench
            ), bgrams AS (
              SELECT DISTINCT array_to_string(t[i : i + 12], ' ') AS g
              FROM btoks,
                   UNNEST(range(1, greatest(len(t) - 13 + 2, 1))) AS u(i)
            ), tot AS (
              SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
            ), hit AS (
              SELECT doc_id, COUNT(*) AS n FROM grams
              WHERE g IN (SELECT g FROM bgrams) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(tot.n, 0) AS BIGINT) AS n_grams,
                   CAST(COALESCE(hit.n, 0) AS BIGINT) AS n_hit,
                   COALESCE(hit.n, 0) > 0 AS contaminated
            FROM docs d
            LEFT JOIN tot ON tot.doc_id = d.doc_id
            LEFT JOIN hit ON hit.doc_id = d.doc_id
        """,
        # dedup_substrings: DuckDB recomputes duplicated k=8 windows
        # over window STRINGS (array_to_string slices), the canonical
        # min-(doc_id,pos) keep rule, the gaps-and-islands span merge,
        # and the token strip — fully independent of the Spark side's
        # xxhash64 windows and Window-function islands
        "dedup_substrings": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents
            ), occ AS (
              SELECT doc_id, i AS pos,
                     array_to_string(t[i : i + 7], ' ') AS w
              FROM toks,
                   UNNEST(generate_series(1, greatest(len(t) - 7, 0)))
                     AS g(i)
            ), ranked AS (
              SELECT doc_id, pos,
                     COUNT(*) OVER (PARTITION BY w) AS n,
                     ROW_NUMBER() OVER (PARTITION BY w
                                        ORDER BY doc_id, pos) AS rn
              FROM occ
            ), dup AS (
              SELECT doc_id, pos FROM ranked WHERE n > 1 AND rn > 1
            ), flagged AS (
              SELECT doc_id, pos,
                     CASE WHEN pos <= MAX(pos + 8) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
                          THEN 0 ELSE 1 END AS new_island
              FROM dup
            ), gids AS (
              SELECT doc_id, pos,
                     SUM(new_island) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS gid
              FROM flagged
            ), spans AS (
              SELECT doc_id, gid, MIN(pos) AS s, MAX(pos) + 8 AS e
              FROM gids GROUP BY doc_id, gid
            ), tokpos AS (
              SELECT t.doc_id, t.t[g.i] AS tok, g.i AS i
              FROM toks t,
                   UNNEST(generate_series(1, len(t.t))) AS g(i)
            ), kept AS (
              SELECT tp.doc_id, tp.tok, tp.i FROM tokpos tp
              WHERE NOT EXISTS (
                SELECT 1 FROM spans s
                WHERE s.doc_id = tp.doc_id
                  AND tp.i >= s.s AND tp.i < s.e)
            )
            SELECT t.doc_id,
                   COALESCE(STRING_AGG(k.tok, ' ' ORDER BY k.i), '')
                     AS clean_text,
                   CAST(len(t.t) AS BIGINT) AS n_tokens,
                   CAST(len(t.t) - COUNT(k.i) AS BIGINT) AS n_removed
            FROM toks t
            LEFT JOIN kept k ON k.doc_id = t.doc_id
            GROUP BY t.doc_id, len(t.t)
        """,
        # dedup_lines: DuckDB rebuilds the same synthetic pages and
        # recomputes the CCNet normalization chain (on its RE2), the
        # per-normalized-line count, the keep-first canonical rule, and
        # the per-doc rebuild over line STRINGS — fully independent of
        # the Spark side's xxhash64 keys
        "dedup_lines": """
            WITH pages AS (
              SELECT doc_id,
                     'Home | About | Contact | Sitemap 2024' || chr(10)
                     || text || chr(10)
                     || 'Copyright ' || CAST(doc_id % 7 AS VARCHAR)
                     || ' Example Corp' AS text
              FROM (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text FROM documents
                WHERE doc_id % 9 = 0
              )
            ), split AS (
              SELECT doc_id, string_split(text, chr(10)) AS l FROM pages
            ), lines AS (
              SELECT doc_id, i - 1 AS line_no, l[i] AS line
              FROM split, UNNEST(generate_series(1, len(l))) AS g(i)
            ), counted AS (
              SELECT doc_id, line_no,
                     COUNT(*) OVER (PARTITION BY n) AS c,
                     ROW_NUMBER() OVER (PARTITION BY n
                                        ORDER BY doc_id, line_no) AS rn
              FROM (
                SELECT doc_id, line_no,
                       trim(regexp_replace(regexp_replace(lower(line),
                            '[0-9]', '', 'g'), '\\s+', ' ', 'g')) AS n
                FROM lines
              ) WHERE n <> ''
            ), drops AS (
              SELECT doc_id, line_no FROM counted WHERE c > 1 AND rn > 1
            ), kept AS (
              SELECT l.doc_id, l.line, l.line_no
              FROM lines l LEFT JOIN drops d
                ON d.doc_id = l.doc_id AND d.line_no = l.line_no
              WHERE d.doc_id IS NULL
            )
            SELECT s.doc_id,
                   COALESCE(STRING_AGG(k.line, chr(10) ORDER BY k.line_no),
                            '') AS clean_text,
                   CAST(MAX(len(s.l)) AS BIGINT) AS n_lines,
                   CAST(MAX(len(s.l)) - COUNT(k.line_no) AS BIGINT)
                     AS n_removed
            FROM split s LEFT JOIN kept k ON k.doc_id = s.doc_id
            GROUP BY s.doc_id
        """,
        # gopher_quality: every counter + integer cross-product verdict
        # recomputed on DuckDB's RE2 + list lambdas — fully independent
        "gopher_quality": """
            WITH pages AS (
              SELECT doc_id,
                CASE CAST(doc_id % 5 AS INTEGER)
                  WHEN 0 THEN text || chr(10) || '- bullet one'
                              || chr(10) || '- bullet two'
                  WHEN 1 THEN text || chr(10) || 'to be continued...'
                              || chr(10) || 'more…'
                  WHEN 2 THEN '# # # ' || text
                  ELSE text
                END AS text
              FROM documents
            ), c AS (
              SELECT doc_id,
                CAST(len(list_filter(
                  string_split_regex(trim(text), '\\s+'), t -> t <> ''))
                  AS INTEGER) AS n_words,
                CAST(length(regexp_replace(text, '\\s', '', 'g'))
                  AS INTEGER) AS sum_word_len,
                CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…'))
                  AS INTEGER) AS n_symbols,
                CAST(len(string_split(text, chr(10))) AS INTEGER)
                  AS n_lines,
                CAST(len(list_filter(
                  list_transform(string_split(text, chr(10)), l -> trim(l)),
                  l -> regexp_matches(l, '^[-*•]'))) AS INTEGER)
                  AS n_bullet,
                CAST(len(list_filter(
                  list_transform(string_split(text, chr(10)), l -> trim(l)),
                  l -> l LIKE '%...' OR l LIKE '%…')) AS INTEGER)
                  AS n_ellipsis,
                CAST(len(list_filter(list_filter(
                  string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                  t -> regexp_matches(t, '[a-zA-Z]'))) AS INTEGER)
                  AS n_alpha_words,
                CAST(
                  (CASE WHEN list_contains(list_transform(list_filter(
                    string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                    t -> lower(t)), 'the') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(list_transform(list_filter(
                    string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                    t -> lower(t)), 'be') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(list_transform(list_filter(
                    string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                    t -> lower(t)), 'to') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(list_transform(list_filter(
                    string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                    t -> lower(t)), 'of') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(list_transform(list_filter(
                    string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                    t -> lower(t)), 'and') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(list_transform(list_filter(
                    string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                    t -> lower(t)), 'that') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(list_transform(list_filter(
                    string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                    t -> lower(t)), 'have') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(list_transform(list_filter(
                    string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                    t -> lower(t)), 'with') THEN 1 ELSE 0 END)
                  AS INTEGER) AS n_stop_hits
              FROM pages
            )
            SELECT doc_id, n_words, sum_word_len, n_symbols, n_lines,
                   n_bullet, n_ellipsis, n_alpha_words, n_stop_hits,
                   (n_words < 20 OR n_words > 100000) AS flag_word_count,
                   (sum_word_len < 3 * n_words
                    OR sum_word_len > 10 * n_words) AS flag_mean_len,
                   10 * n_symbols > n_words AS flag_symbol,
                   10 * n_bullet > 9 * n_lines AS flag_bullet,
                   10 * n_ellipsis > 3 * n_lines AS flag_ellipsis,
                   5 * n_alpha_words < 4 * n_words AS flag_alpha,
                   n_stop_hits < 2 AS flag_stop,
                   NOT ((n_words < 20 OR n_words > 100000)
                     OR (sum_word_len < 3 * n_words
                         OR sum_word_len > 10 * n_words)
                     OR 10 * n_symbols > n_words
                     OR 10 * n_bullet > 9 * n_lines
                     OR 10 * n_ellipsis > 3 * n_lines
                     OR 5 * n_alpha_words < 4 * n_words
                     OR n_stop_hits < 2) AS keep
            FROM c
        """,
        # adaptive_delay: count/sum/integral division/clamps recomputed
        # in pure SQL — all int64, bit-exact
        "adaptive_delay": """
            WITH log AS (
              SELECT 'host' || CAST(o_custkey % 30 AS INTEGER) || '.com'
                       AS host,
                     CAST((o_orderkey * 7) % 5000 AS BIGINT) AS rtt
              FROM orders
            )
            SELECT host,
                   CAST(COUNT(*) AS BIGINT) AS n_obs,
                   CAST(SUM(rtt) AS BIGINT) AS sum_rtt_ms,
                   CAST(LEAST(GREATEST(
                     (5 * SUM(rtt)) // COUNT(*), 1000), 30000) AS BIGINT)
                     AS delay_ms
            FROM log GROUP BY host
        """,
        # url_filter: every flag recomputed in pure SQL on DuckDB's RE2
        # with the pinned URL grammar + its own list lambdas — fully
        # independent of the Spark expressions
        "url_filter": """
            WITH base AS (
              SELECT CAST(o_orderkey AS BIGINT) AS url_id,
                     CAST(o_orderkey % 10 AS INTEGER) AS m,
                     CAST(o_orderkey % 97 AS INTEGER) AS i
              FROM orders
            ), u AS (
              SELECT url_id,
                CASE m
                  WHEN 0 THEN 'http://bad' || i || '.spam.net/x/' || i
                  WHEN 1 THEN 'http://s' || i || '.com/play-casino-' || i
                  WHEN 2 THEN 'http://s' || i || '.com/p?phpsessid=' || i
                  WHEN 3 THEN 'http://s' || i
                              || '.com/p?a=' || i || '&b=1&c=2&d=3&e=4'
                  WHEN 4 THEN 'http://s' || i
                              || '.com/1/2/3/4/5/6/7/8/' || i
                  WHEN 5 THEN 'http://s' || i || '.com/' || i || '/' || i
                              || '/' || i || '/page'
                  WHEN 6 THEN 'http://u:p@s' || i || '.com:8080/ok/' || i
                  ELSE 'http://s' || i || '.com/a/b/' || i || '?page=1'
                END AS url
              FROM base
            ), parts AS (
              SELECT url_id, url,
                lower(regexp_replace(regexp_replace(
                  regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
                  '^[^@]*@', ''), ':[0-9]+$', '')) AS host,
                list_filter(string_split(
                  regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                  '/'), s -> s <> '') AS segs,
                regexp_extract(url, '\\?([^#]*)', 1) AS q
              FROM u
            ), flags AS (
              SELECT url_id, url,
                (host = 'spam.net' OR host LIKE '%.spam.net')
                  AS flag_blocked,
                regexp_matches(lower(url),
                  'casino|viagra|xxx-|warez|phish') AS flag_keyword,
                regexp_matches(lower(url),
                  '[?&](sid|sessionid|phpsessid|jsessionid|cfid)=')
                  AS flag_session,
                (CASE WHEN q = '' THEN 0
                      ELSE len(string_split(q, '&')) END) > 4
                  AS flag_params,
                len(segs) > 8 AS flag_depth,
                len(list_filter(segs,
                  s -> len(list_filter(segs, x -> x = s)) >= 3)) > 0
                  AS flag_repeat
              FROM parts
            )
            SELECT url_id, url, flag_blocked, flag_keyword, flag_session,
                   flag_params, flag_depth, flag_repeat,
                   NOT (flag_blocked OR flag_keyword OR flag_session
                        OR flag_params OR flag_depth OR flag_repeat)
                     AS keep
            FROM flags
        """,
        # trap_detect: the oracle counts distinct path STRINGS (Spark
        # counts xxhash64 values) and recomputes the exact integer
        # cross-multiplication verdict itself
        "trap_detect": """
            WITH u AS (
              SELECT 'http://host' || h || '.com/' || path AS url
              FROM (
                SELECT CAST(o_custkey % 40 AS INTEGER) AS h,
                  CASE WHEN o_custkey % 40 < 4
                         THEN 'cal/2024/' || CAST(o_orderkey AS INTEGER)
                       WHEN o_custkey % 40 < 8
                         THEN 's?q=' || CAST(o_orderkey AS INTEGER)
                       WHEN o_orderkey % 10 = 0
                         THEN 'p?x=' || CAST(o_orderkey % 20 AS INTEGER)
                       ELSE 'p' || CAST(o_orderkey % 20 AS INTEGER)
                  END AS path
                FROM orders)
            ), parts AS (
              SELECT
                lower(regexp_replace(regexp_replace(
                  regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
                  '^[^@]*@', ''), ':[0-9]+$', '')) AS host,
                regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                  AS path,
                regexp_extract(url, '\\?([^#]*)', 1) AS q
              FROM u
            )
            SELECT host,
              CAST(COUNT(*) AS BIGINT) AS n_urls,
              CAST(COUNT(DISTINCT path) AS BIGINT) AS n_paths,
              CAST(SUM(CASE WHEN q <> '' THEN 1 ELSE 0 END) AS BIGINT)
                AS n_query,
              CAST(MAX(CASE WHEN q = '' THEN 0
                       ELSE len(string_split(q, '&')) END) AS INTEGER)
                AS max_params,
              CAST(SUM(len(list_filter(string_split(path, '/'),
                   s -> s <> ''))) AS BIGINT) AS sum_depth,
              (COUNT(DISTINCT path) > 100
               OR SUM(CASE WHEN q <> '' THEN 1 ELSE 0 END) * 4
                  > COUNT(*) * 3) AS trap
            FROM parts GROUP BY host
        """,
        # html_extract: the pinned pattern chain on DuckDB's RE2 —
        # cross-dialect certification (see q_html_extract docstring)
        "html_extract": _html_oracle(),
        "pii_scrub": _pii_oracle(),
        "curate_corpus": _curate_oracle(),
        "c4_clean": _C4_ORACLE,
        "pair_filter": _PAIR_FILTER_ORACLE,
        # pack_sequences: DuckDB recomputes tokenization + running sum
        # + floor division itself — independent of the Spark window
        "pack_sequences": """
            WITH toks AS (
              SELECT doc_id,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+'))
                          END AS BIGINT) AS n_tokens,
                     CAST(doc_id % 8 AS INTEGER) AS shard
              FROM documents
            ), s AS (
              SELECT doc_id, n_tokens, shard,
                     CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS start_token
              FROM toks
            )
            SELECT doc_id, n_tokens, shard, start_token,
                   start_token // 64 AS pack_id,
                   start_token % 64 AS offset
            FROM s
        """,
        # repetition_stats: DuckDB recomputes top/dup n-gram coverage
        # over gram STRINGS — independent of the Spark side's
        # hash-based single-explode plan
        "repetition_stats": """
            WITH docs AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN text || ' ' || text
                          ELSE text END AS text
              FROM documents
            ), toks AS (
              SELECT doc_id, string_split(trim(text), ' ') AS t FROM docs
            ), totals AS (
              SELECT doc_id,
                     CAST(length(array_to_string(t, ' ')) AS BIGINT)
                       AS total
              FROM toks
            ), ns AS (
              SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS n
            ), grams AS (
              SELECT doc_id, n,
                     array_to_string(t[i : i + n - 1], ' ') AS g
              FROM toks CROSS JOIN ns,
                   UNNEST(range(1, greatest(len(t) - n + 2, 1))) AS u(i)
            ), per_gram AS (
              SELECT doc_id, n, g, COUNT(*) AS cnt
              FROM grams GROUP BY doc_id, n, g
            ), per_doc_n AS (
              SELECT doc_id, n,
                     MAX(cnt * length(g)) AS top_cover,
                     SUM(CASE WHEN cnt >= 2 THEN cnt * length(g)
                              ELSE 0 END) AS dup_cover
              FROM per_gram GROUP BY doc_id, n
            )
            SELECT t.doc_id, t.total AS total_chars,
                   CASE WHEN t.total > 0 THEN
                     CAST(COALESCE(MAX(CASE WHEN p.n = 2
                       THEN p.top_cover END), 0) AS DOUBLE) / t.total
                   ELSE 0.0 END AS top2_frac,
                   CASE WHEN t.total > 0 THEN
                     CAST(COALESCE(MAX(CASE WHEN p.n = 3
                       THEN p.top_cover END), 0) AS DOUBLE) / t.total
                   ELSE 0.0 END AS top3_frac,
                   CASE WHEN t.total > 0 THEN
                     CAST(COALESCE(MAX(CASE WHEN p.n = 4
                       THEN p.top_cover END), 0) AS DOUBLE) / t.total
                   ELSE 0.0 END AS top4_frac,
                   CASE WHEN t.total > 0 THEN
                     CAST(COALESCE(MAX(CASE WHEN p.n = 5
                       THEN p.dup_cover END), 0) AS DOUBLE) / t.total
                   ELSE 0.0 END AS dup5_frac,
                   CASE WHEN t.total > 0 THEN
                     CAST(COALESCE(MAX(CASE WHEN p.n = 6
                       THEN p.dup_cover END), 0) AS DOUBLE) / t.total
                   ELSE 0.0 END AS dup6_frac,
                   CASE WHEN t.total > 0 THEN
                     CAST(COALESCE(MAX(CASE WHEN p.n = 7
                       THEN p.dup_cover END), 0) AS DOUBLE) / t.total
                   ELSE 0.0 END AS dup7_frac,
                   CASE WHEN t.total > 0 THEN
                     CAST(COALESCE(MAX(CASE WHEN p.n = 8
                       THEN p.dup_cover END), 0) AS DOUBLE) / t.total
                   ELSE 0.0 END AS dup8_frac,
                   CASE WHEN t.total > 0 THEN
                     CAST(COALESCE(MAX(CASE WHEN p.n = 9
                       THEN p.dup_cover END), 0) AS DOUBLE) / t.total
                   ELSE 0.0 END AS dup9_frac,
                   CASE WHEN t.total > 0 THEN
                     CAST(COALESCE(MAX(CASE WHEN p.n = 10
                       THEN p.dup_cover END), 0) AS DOUBLE) / t.total
                   ELSE 0.0 END AS dup10_frac
            FROM totals t
            LEFT JOIN per_doc_n p ON p.doc_id = t.doc_id
            GROUP BY t.doc_id, t.total
        """,
        # same pair rule as dedup_ngram, then the transitive closure via
        # a recursive CTE (min label reachable over symmetric edges) —
        # an INDEPENDENT computation of connected components, nothing
        # shared with the Spark star-contraction code
        "dedup_components": """
            WITH RECURSIVE docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20
            ), toks AS (
              SELECT doc_id, string_split(trim(text), ' ') AS t FROM docs
            ), sh0 AS (
              SELECT doc_id, unnest(
                list_filter(
                  list_transform(t, (x, i) ->
                    CASE WHEN i + 2 <= len(t)
                         THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2] END),
                  s -> s IS NOT NULL)) AS s
              FROM toks
            ), sh AS (
              SELECT DISTINCT doc_id, s FROM sh0
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS inter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ), pairs AS (
              SELECT id_a, id_b
              FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
            ), sym AS (
              SELECT id_a AS s, id_b AS t FROM pairs
              UNION
              SELECT id_b AS s, id_a AS t FROM pairs
            ), reach(id, lbl) AS (
              SELECT doc_id, doc_id FROM docs
              UNION
              SELECT sym.t, reach.lbl FROM reach JOIN sym ON sym.s = reach.id
            ), comp AS (
              SELECT id, MIN(lbl) AS component FROM reach GROUP BY id
            )
            SELECT d.doc_id, c.component,
                   d.doc_id = c.component AS keep
            FROM docs d JOIN comp c ON c.id = d.doc_id
        """,
        # components_update: closure of the UNION of both raw pair
        # sets via a recursive CTE — independent of the incremental path
        "components_update": """
            WITH RECURSIVE h AS (
              SELECT CAST(i AS BIGINT) AS id_a, CAST(i + 1 AS BIGINT) AS id_b
              FROM UNNEST(range(0, 100)) AS u(i) WHERE i % 10 < 3
            ), n AS (
              SELECT CAST(i AS BIGINT), CAST(i + 50 AS BIGINT)
              FROM UNNEST(range(0, 50)) AS u(i) WHERE i % 25 = 0
              UNION ALL SELECT 200, 201
            ), allp AS (
              SELECT * FROM h UNION ALL SELECT * FROM n
            ), nodes AS (
              SELECT id_a AS id FROM allp UNION SELECT id_b FROM allp
            ), sym AS (
              SELECT id_a AS s, id_b AS t FROM allp
              UNION SELECT id_b, id_a FROM allp
            ), reach(id, lbl) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT sym.t, reach.lbl FROM reach JOIN sym ON sym.s = reach.id
            )
            SELECT id, MIN(lbl) AS component FROM reach GROUP BY id
        """,
        # dns_cache: the SQL recomputes the expiry filter, the resolver
        # arithmetic, and the supersede merge itself — fully independent
        "dns_cache": """
            WITH hosts AS (
              SELECT DISTINCT o_custkey % 300 AS host_hash FROM orders
            ), cache AS (
              SELECT host_hash,
                CASE WHEN host_hash % 11 = 0 THEN NULL
                     ELSE '10.1.0.' || CAST(host_hash % 50 AS INT) END AS ip,
                CAST(host_hash % 7 AS INT) AS resolved_batch,
                CAST(4 AS INT) AS ttl_batches
              FROM (SELECT DISTINCT CAST(s_suppkey % 300 AS BIGINT)
                      AS host_hash FROM supplier)
            ), needed AS (
              SELECT h.host_hash FROM hosts h
              LEFT JOIN cache c USING (host_hash)
              WHERE c.host_hash IS NULL
                 OR c.resolved_batch + c.ttl_batches <= 8
            ), resolved AS (
              SELECT host_hash,
                CASE WHEN mix % 17 = 0 THEN NULL
                     ELSE '10.0.0.' || CAST(mix % 64 AS INT) END AS ip
              FROM (
                SELECT host_hash,
                  ((host_hash % 2147483648) * 2654435761) % 4294967296
                    AS mix
                FROM needed
              )
            ), neu AS (
              SELECT host_hash, ip, CAST(8 AS INT) AS resolved_batch,
                     CAST(6 AS INT) AS ttl_batches
              FROM resolved
            ), kept AS (
              SELECT c.* FROM cache c
              LEFT JOIN neu n USING (host_hash)
              WHERE n.host_hash IS NULL
            )
            SELECT * FROM kept UNION ALL SELECT * FROM neu
        """,
        "lang_id": """
            WITH t AS (
              SELECT doc_id,
                string_split_regex(trim(text), '\\s+') AS toks
              FROM documents
            ), hits AS (
              SELECT doc_id,
                len(list_filter(toks, x -> list_contains(
                  ['the','a','of','and','to','in','is','it','that'],
                  lower(x)))) AS en,
                len(list_filter(toks, x -> list_contains(
                  ['der','die','das','und','ist','nicht','ein','zu'],
                  lower(x)))) AS de,
                len(list_filter(toks, x -> list_contains(
                  ['le','la','les','et','est','un','une','dans'],
                  lower(x)))) AS fr
              FROM t
            )
            SELECT doc_id,
                   CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
                        WHEN de >= fr AND de > 0 THEN 'de'
                        WHEN fr > 0 THEN 'fr'
                        ELSE 'und' END AS pred_lang
            FROM hits
        """,
        "token_count": """
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END AS n_tokens
            FROM documents
        """,
        "quality_score": """
            WITH t AS (
              SELECT doc_id, text,
                string_split_regex(trim(text), '\\s+') AS toks
              FROM documents
            ), c AS (
              SELECT doc_id,
                CAST(len(toks) AS DOUBLE) AS n,
                CAST(len(list_filter(toks, x -> list_contains(
                  ['the','a','of','and','to','in','is','it','that'],
                  lower(x)))) AS DOUBLE) AS stop,
                CAST(length(text) - length(
                  regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                  AS punct,
                GREATEST(CAST(length(text) AS DOUBLE), 1.0) AS chars
              FROM t
            )
            SELECT doc_id,
                   0.4 * LEAST(n / 20.0, 1.0)
                 + 0.4 * LEAST(stop / GREATEST(n, 1.0) * 5.0, 1.0)
                 + 0.2 * (1.0 - LEAST(punct / chars * 10.0, 1.0)) AS quality
            FROM c
        """,
        "fingerprint": f"""
            SELECT doc_id,
              CAST(list_sum(list_transform(
                     string_split_regex(trim(text), '\\s+'),
                     (t, i) -> CAST(i AS BIGINT)
                       * ((ascii(t) * 31 + length(t)) % {FP_MOD})))
                   % {FP_MOD} AS BIGINT) AS fp
            FROM documents
        """,
        "ann_topk": """
            WITH q AS (
              SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS v
              FROM embeddings
            ), pairs AS (
              SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                CAST(list_dot_product(a.v, b.v) AS DOUBLE)
                / SQRT(CAST(CAST(list_dot_product(a.v, a.v) AS BIGINT)
                       * CAST(list_dot_product(b.v, b.v) AS BIGINT)
                       AS DOUBLE)) AS cosine
              FROM q a, q b WHERE a.vec_id < 20
            )
            SELECT query_id, vec_id, cosine, CAST(rnk AS INT) AS rnk FROM (
              SELECT query_id, vec_id, cosine,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC)
                       AS rnk
              FROM pairs
            ) WHERE rnk <= 5
        """,
        "dedup_embed": """
            WITH q AS (
              SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS v
              FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              CAST(list_dot_product(a.v, b.v) AS DOUBLE)
              / SQRT(CAST(CAST(list_dot_product(a.v, a.v) AS BIGINT)
                     * CAST(list_dot_product(b.v, b.v) AS BIGINT)
                     AS DOUBLE)) AS cosine
            FROM q a, q b
            WHERE a.vec_id < b.vec_id
              AND CAST(list_dot_product(a.v, b.v) AS DOUBLE)
                  / SQRT(CAST(CAST(list_dot_product(a.v, a.v) AS BIGINT)
                         * CAST(list_dot_product(b.v, b.v) AS BIGINT)
                         AS DOUBLE)) >= 0.4
        """,
    }
