"""Sitemap ingestion + redirect routing + RFC 3986 resolution vectors.

The resolution test is an INDEPENDENT cross-check: urllib.parse.urljoin
is a separately-authored RFC 3986 §5 implementation, and the vector set
is the RFC's own §5.4.1/§5.4.2 examples — not goldens derived from the
kernels under test.
"""

from __future__ import annotations

import gzip
from urllib.parse import urljoin

import pandas as pd
import pytest

URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc> http://example.com/a?x=1&amp;y=2 </loc>
    <lastmod>2026-01-04</lastmod>
  </url>
  <URL><LOC>http://example.com/b&apos;s</LOC></URL>
  <url><priority>0.5</priority></url>
</urlset>"""

SITEMAPINDEX = """<sitemapindex>
  <sitemap><loc>http://example.com/maps/a.xml.gz</loc>
    <lastmod>2025-12-31T23:59:59+00:00</lastmod></sitemap>
  <sitemap><loc>http://example.com/maps/b.xml</loc></sitemap>
</sitemapindex>"""

PLAINTEXT = "\n".join(
    [
        "http://example.com/t1",
        "  https://example.com/t2  ",
        "# not a url",
        "",
        "ftp://example.com/nope",
    ]
)


def _entries(spark, rows):
    from jirlbot_spark.operators.sitemaps import sitemap_entries

    df = spark.createDataFrame(rows, ["sitemap_url", "body_text"])
    out = sitemap_entries(df)
    return sorted(
        (r.src, r.loc, r.kind, r.lastmod) for r in out.collect()
    )


def test_urlset_entities_lastmod_case(spark):
    got = _entries(spark, [("http://example.com/sm.xml", URLSET)])
    assert got == [
        (
            "http://example.com/sm.xml",
            "http://example.com/a?x=1&y=2",
            "url",
            "2026-01-04",
        ),
        (
            "http://example.com/sm.xml",
            "http://example.com/b's",
            "url",
            None,
        ),
    ]  # the loc-less <url> block is dropped per spec


def test_sitemapindex_yields_sitemap_kind(spark):
    got = _entries(spark, [("http://example.com/sm.xml", SITEMAPINDEX)])
    assert got == [
        (
            "http://example.com/sm.xml",
            "http://example.com/maps/a.xml.gz",
            "sitemap",
            "2025-12-31T23:59:59+00:00",
        ),
        (
            "http://example.com/sm.xml",
            "http://example.com/maps/b.xml",
            "sitemap",
            None,
        ),
    ]


def test_plaintext_sitemap_lines(spark):
    got = _entries(spark, [("http://example.com/sm.txt", PLAINTEXT)])
    assert [g[1] for g in got] == [
        "http://example.com/t1",
        "https://example.com/t2",
    ]
    assert all(g[2] == "url" and g[3] is None for g in got)


def test_body_text_gzip_roundtrip_bomb_corrupt(spark):
    from pyspark.sql import functions as F

    from jirlbot_spark.operators.sitemaps import sitemap_body_text

    plain = URLSET.encode()
    gz = gzip.compress(plain)
    bomb = gzip.compress(b"\x00" * (51 * 1024 * 1024))  # > 50 MiB cap
    assert len(bomb) < 100_000  # the bomb itself is tiny on the wire
    corrupt = gz[:20] + b"\xff\xff\xff\xff"
    df = spark.createDataFrame(
        [(1, gz), (2, plain), (3, bomb), (4, corrupt), (5, None)],
        "id long, body binary",
    )
    got = {
        r.id: r.t
        for r in df.select(
            "id", sitemap_body_text(F.col("body")).alias("t")
        ).collect()
    }
    assert got[1] == URLSET
    assert got[2] == URLSET
    assert got[3] == ""  # capped, never materialized
    assert got[4] == ""
    assert got[5] == ""


def test_sitemap_directives_from_robots(spark):
    from jirlbot_spark.operators.sitemaps import sitemap_urls_from_robots

    txt = (
        "User-agent: *\nDisallow: /private\n"
        "SITEMAP: http://a.com/sm.xml\n"
        "  sitemap:\thttp://a.com/sm2.xml.gz\n"
        "# sitemap: http://a.com/commented-out-still-counts\n"
    )
    df = spark.createDataFrame([("a.com", txt)], ["host", "robots_txt"])
    got = sorted(
        r.sitemap_url for r in sitemap_urls_from_robots(df).collect()
    )
    # RFC 9309 has no comment-stripping for non-group lines in our
    # pinned grammar subset; '#'-prefixed lines don't match ^\s*sitemap
    assert got == ["http://a.com/sm.xml", "http://a.com/sm2.xml.gz"]


# ---------------------------------------------------------- redirects


def test_route_redirects_unit(spark):
    from jirlbot_spark.operators.fetch import route_redirects

    rows = [
        ("http://a.com/1", 301, "/moved"),
        ("http://a.com/2", 302, "http://b.com/x"),
        ("http://a.com/3", 200, ""),
        ("http://a.com/4", 308, None),
        ("http://a.com/5", 404, "/ignored"),
    ]
    df = spark.createDataFrame(rows, ["url", "status", "location"])
    got = sorted(
        (r.src_url, r.out_url) for r in route_redirects(df).collect()
    )
    assert got == [
        ("http://a.com/1", "/moved"),
        ("http://a.com/2", "http://b.com/x"),
    ]


def test_loop_routes_relative_redirects(spark, tmp_path):
    """A 301 with a RELATIVE Location resolves against the redirecting
    page and lands in the next batch's frontier/fetch path — through the
    normal canonicalize -> DRUM -> budgets -> politeness pipeline."""
    from jirlbot_spark.operators.fetch import http_backend
    from jirlbot_spark.plans.loop import CrawlConfig, CrawlLoop
    from jirlbot_spark.sources.storage import TableStore

    def virtual_clock_factory():
        state = {"t": 0.0}

        def clock():
            state["t"] += 0.001
            return state["t"]

        def sleeper(dt):
            state["t"] += dt

        return clock, sleeper

    def transport(url):
        if url == "http://r-site.com/start":
            return {
                "status": 301,
                "content_type": "",
                "body": b"",
                # relative, with a fragment canonicalize must strip
                "location": "/moved?x=1#frag",
            }
        return {"status": 200, "content_type": "text/html", "body": b"ok"}

    store = TableStore(spark, str(tmp_path / "redircrawl"))
    robots_src = spark.createDataFrame(
        [("r-site.com", [], 0.0)],
        "host string, disallow array<string>, crawl_delay double",
    )
    loop = CrawlLoop(
        spark,
        store,
        None,
        None,  # no link table: redirects are the ONLY discovery channel
        robots_src,
        CrawlConfig(salt_buckets=4, image_scale=10, min_delay_s=0.0),
        fetch_backend=http_backend(
            transport=transport, clock_factory=virtual_clock_factory
        ),
    )
    seeds = spark.createDataFrame([("http://r-site.com/start",)], ["url"])
    loop.ingest_seeds(seeds)
    # batch 1 fetches robots (seed deferred), 2 fetches the seed -> 301,
    # 3 fetches the resolved redirect target
    loop.run(3)
    log = {
        (r.url, r.status, r.batch)
        for r in store.read("fetch_log")
        .select("url", "status", "batch")
        .collect()
    }
    assert ("http://r-site.com/start", 301, 2) in log
    assert ("http://r-site.com/moved?x=1", 200, 3) in log
    # the redirect target was recorded as seen (loops would terminate)
    assert store.read("url_seen").count() == 2


def test_loop_discovers_via_sitemaps(spark, tmp_path):
    """Fetched sitemap bodies feed the link stream: a seed sitemapindex
    enqueues its gz member, whose urlset enqueues page URLs (one
    RELATIVE loc resolving against the sitemap's own URL) — recursion
    across batches with no loop-side state. HTML bodies never parse."""
    from jirlbot_spark.operators.fetch import http_backend
    from jirlbot_spark.plans.loop import CrawlConfig, CrawlLoop
    from jirlbot_spark.sources.storage import TableStore

    def virtual_clock_factory():
        state = {"t": 0.0}

        def clock():
            state["t"] += 0.001
            return state["t"]

        def sleeper(dt):
            state["t"] += dt

        return clock, sleeper

    index_xml = (
        "<sitemapindex><sitemap>"
        "<loc>http://s-site.com/maps/pages.xml.gz</loc>"
        "</sitemap></sitemapindex>"
    ).encode()
    urlset_gz = gzip.compress(
        (
            "<urlset>"
            "<url><loc>http://s-site.com/p1</loc></url>"
            "<url><loc>p-rel</loc></url>"  # relative: resolves vs src
            "</urlset>"
        ).encode()
    )

    def transport(url):
        body = {
            "http://s-site.com/sitemap.xml": index_xml,
            "http://s-site.com/maps/pages.xml.gz": urlset_gz,
        }.get(url, b"<html>ok</html>")
        return {"status": 200, "content_type": "", "body": body}

    store = TableStore(spark, str(tmp_path / "smcrawl"))
    robots_src = spark.createDataFrame(
        [("s-site.com", [], 0.0)],
        "host string, disallow array<string>, crawl_delay double",
    )
    loop = CrawlLoop(
        spark,
        store,
        None,
        None,  # sitemaps are the only discovery channel here
        robots_src,
        CrawlConfig(salt_buckets=4, image_scale=10, min_delay_s=0.0),
        fetch_backend=http_backend(
            transport=transport, clock_factory=virtual_clock_factory
        ),
    )
    seeds = spark.createDataFrame(
        [("http://s-site.com/sitemap.xml",)], ["url"]
    )
    loop.ingest_seeds(seeds)
    loop.run(4)
    log = {
        (r.url, r.batch)
        for r in store.read("fetch_log").select("url", "batch").collect()
    }
    assert log == {
        ("http://s-site.com/sitemap.xml", 2),
        ("http://s-site.com/maps/pages.xml.gz", 3),
        ("http://s-site.com/p1", 4),
        ("http://s-site.com/maps/p-rel", 4),
    }


# ------------------------------------- RFC 3986 §5.4 resolution vectors

RFC_BASE = "http://a/b/c/d;p?q"
# §5.4.1 normal + §5.4.2 abnormal examples (dot-segment cases included;
# both sides get canonicalized, which performs the §5.2.4 removal)
RFC_REFS = [
    "g:h", "g", "./g", "g/", "/g", "//g", "?y", "g?y", "#s", "g#s",
    "g?y#s", ";x", "g;x", "g;x?y#s", "", ".", "./", "..", "../", "../g",
    "../..", "../../", "../../g",
    "../../../g", "../../../../g",
    "/./g", "/../g", "g.", ".g", "g..", "..g",
    "./../g", "./g/.", "g/./h", "g/../h", "g;x=1/./y", "g;x=1/../y",
    "g?y/./x", "g?y/../x", "g#s/./x", "g#s/../x",
]


def test_resolution_matches_urljoin_rfc_vectors():
    """canonicalize(ref, base) == canonicalize(urljoin(base, ref)) for
    every RFC 3986 §5.4 example — urljoin is the independent reference
    implementation; canonicalization applies identical normalization to
    both sides. Checked on BOTH kernels (pandas + Arrow)."""
    import pyarrow as pa

    from jirlbot_spark.functions.urls_arrow import canonicalize_with_host
    from tests.urls_reference import canonicalize_series

    refs = pd.Series(RFC_REFS)
    bases = pd.Series([RFC_BASE] * len(refs))
    ours = canonicalize_series(refs, bases)
    joined = pd.Series([urljoin(RFC_BASE, r) for r in RFC_REFS])
    expect = canonicalize_series(joined)
    assert list(ours.fillna("∅")) == list(expect.fillna("∅"))

    arrow_out, _ = canonicalize_with_host(
        pa.array(RFC_REFS), pa.array([RFC_BASE] * len(RFC_REFS))
    )
    got_arrow = ["∅" if v is None else v for v in arrow_out.to_pylist()]
    assert got_arrow == list(ours.fillna("∅"))


def test_fragment_only_ref_keeps_base_query():
    from tests.urls_reference import canonicalize_series

    out = canonicalize_series(
        pd.Series(["#top", "?n=2", ""]),
        pd.Series(["http://h.com/p?q=1"] * 3),
    )
    assert list(out) == [
        "http://h.com/p?q=1",  # frag-only: query survives
        "http://h.com/p?n=2",  # query-only: query replaced
        "http://h.com/p?q=1",  # empty ref: base minus fragment
    ]
