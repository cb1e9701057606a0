from __future__ import annotations

from pyspark.sql import functions as F

from jirlbot_spark.operators.politeness import politeness_schedule
from jirlbot_spark.operators.robots import (
    FAIL,
    PASS,
    UNKNOWN,
    parse_robots_txt_df,
    robots_check,
    robots_requested_new,
)


def test_robots_requested_anti(spark):
    hosts = spark.createDataFrame(
        [(1, "a.com"), (2, "b.com"), (3, "c.com"), (2, "b.com")],
        ["host_hash", "host"],
    )
    requested = spark.createDataFrame([(2,)], ["host_hash"])
    # one row per host_hash, with `host` riding along
    out = sorted(
        tuple(r) for r in robots_requested_new(hosts, requested).collect()
    )
    assert out == [(1, "a.com"), (3, "c.com")]
    assert sorted(
        tuple(r) for r in robots_requested_new(hosts, None).collect()
    ) == [(1, "a.com"), (2, "b.com"), (3, "c.com")]


def test_robots_check_classification(spark):
    urls = spark.createDataFrame(
        [
            (1, "/public/a"),
            (1, "/private/x"),
            (2, "/anything"),
            (3, "/whatever"),
            (4, "/x"),
        ],
        ["host_hash", "path"],
    )
    robots = spark.createDataFrame(
        [
            (1, ["/private", "/tmp"]),
            (2, []),           # allow-all
            (3, ["/"]),        # disallow-all
        ],
        ["host_hash", "disallow"],
    )
    got = {
        (r.host_hash, r.path): r.robots_status
        for r in robots_check(urls, robots).collect()
    }
    assert got[(1, "/public/a")] == PASS
    assert got[(1, "/private/x")] == FAIL
    assert got[(2, "/anything")] == PASS
    assert got[(3, "/whatever")] == FAIL
    assert got[(4, "/x")] == UNKNOWN  # no cached robots -> defer


def test_parse_robots_txt(spark):
    body1 = "User-agent: *\nDisallow: /private\nCrawl-delay: 5\nDisallow: /tmp\n"
    body2 = "User-agent: googlebot\nDisallow: /only-google\n"
    body3 = "# empty\n"
    raw = spark.createDataFrame(
        [("a.com", body1), ("b.com", body2), ("c.com", body3)],
        ["host", "body"],
    )
    got = {r.host: r for r in parse_robots_txt_df(raw).collect()}
    assert sorted(got["a.com"].disallow) == ["/private", "/tmp"]
    assert got["a.com"].crawl_delay == 5.0
    assert got["b.com"].disallow == []  # other-agent rules don't apply
    assert got["c.com"].disallow == [] and got["c.com"].crawl_delay == 0.0


def test_politeness_spacing_property(spark):
    import random

    rng = random.Random(11)
    rows = [
        (i, f"h{rng.randint(0, 4)}", float(rng.randint(0, 3)), 2.0)
        for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, ["url_hash", "host", "priority", "crawl_delay"]
    )
    out = politeness_schedule(df, min_delay_s=1.0).collect()
    by_host: dict[str, list] = {}
    for r in out:
        by_host.setdefault(r.host, []).append(r)
    for host, rs in by_host.items():
        rs.sort(key=lambda r: r.seq_in_host)
        assert [r.seq_in_host for r in rs] == list(range(1, len(rs) + 1))
        for a, b in zip(rs, rs[1:]):
            assert b.planned_at_s - a.planned_at_s >= 2.0 - 1e-9
        # schedule order respects (priority, url_hash)
        order = [(r.priority, r.url_hash) for r in rs]
        assert order == sorted(order)


def test_politeness_min_delay_floor(spark):
    df = spark.createDataFrame(
        [(1, "h", 0.0, 0.0), (2, "h", 0.0, 0.0)],
        ["url_hash", "host", "priority", "crawl_delay"],
    )
    out = sorted(
        politeness_schedule(df, min_delay_s=1.5).collect(),
        key=lambda r: r.seq_in_host,
    )
    assert out[1].planned_at_s - out[0].planned_at_s == 1.5


# ---- HTTP fetch backend (injected transport + virtual clock) ----

def test_http_fetch_honors_politeness_schedule(spark):
    """Per-host serialization + planned_at_s spacing: each host's rows
    fetch in schedule order, never before their planned offset, and the
    injected transport's payloads come back row-for-row. Transport and
    clock factory are LOCAL closures (cloudpickle ships them by value to
    the workers — the same way a cluster user would inject them)."""
    from jirlbot_spark.operators.fetch import http_fetch
    from jirlbot_spark.operators.politeness import politeness_schedule

    def virtual_clock_factory():
        # per-task virtual clock starting at 0; sleeper advances exactly,
        # and every clock() read costs 1ms (a deterministic fetch-cost
        # model) - makes politeness enforcement assertable offline
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
            "content_type": "text/html",
            "body": f'<a href="{url}/next">x</a>'.encode(),
        }

    rows = [
        (f"http://h{h}.com/p{i}", f"h{h}.com", h * 1000 + i, float(i), 2.0)
        for h in range(3)
        for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "url string, host string, url_hash long, prio double, "
        "crawl_delay double"
    )
    sched = politeness_schedule(
        df, host_col="host", priority_col="prio", key_col="url_hash",
        delay_col="crawl_delay", min_delay_s=1.0,
    )
    out = http_fetch(
        sched,
        transport=fake_transport,
        clock_factory=virtual_clock_factory,
    ).toPandas()
    assert len(out) == 15
    assert (out["status"] == 200).all()
    for _, r in out.iterrows():
        assert r["body"].decode().startswith(f'<a href="{r["url"]}')
    for host, grp in out.groupby("host"):
        g = grp.sort_values("seq_in_host")
        # fetched in schedule order on a per-host serial clock...
        assert g["fetched_at_s"].is_monotonic_increasing
        # ...never before the planned offset...
        assert (g["fetched_at_s"] >= g["planned_at_s"]).all()
        # ...and consecutive fetches are >= the 2s crawl delay apart
        # (minus the 1ms-per-clock-read fetch-cost model's jitter)
        gaps = g["fetched_at_s"].diff().dropna()
        assert (gaps >= 1.99).all(), (host, gaps.tolist())


def test_robots_rfc9309_grammar(spark):
    """Allow + wildcard + $ anchor + per-UA groups + comments + grouped
    consecutive UA lines, end to end: parse -> check."""
    from jirlbot_spark.operators.robots import (
        parse_robots_txt_df,
        robots_check,
    )

    body = "\n".join([
        "# global section",
        "User-agent: *",
        "Disallow: /private",
        "Crawl-delay: 2",
        "",
        "User-agent: googlebot",
        "User-agent: jirlbot   # grouped UA lines share rules",
        "Disallow: /img/*.gif$",
        "Disallow: /Cgi-Bin/",
        "Allow: /img/public",
        "Crawl-delay: 5",
    ])
    raw = spark.createDataFrame([("h1.com", body)], "host string, body string")

    # as the star agent: only the * group applies
    star = parse_robots_txt_df(raw).collect()[0]
    assert star["disallow"] == ["/private"]
    assert star["allow"] == []
    assert star["crawl_delay"] == 2.0

    # as jirlbot: the specific group wins over *
    mine = parse_robots_txt_df(raw, user_agent="jirlbot/1.0").collect()[0]
    assert sorted(mine["disallow"]) == ["/Cgi-Bin/", "/img/*.gif$"]
    assert mine["allow"] == ["/img/public"]
    assert mine["crawl_delay"] == 5.0

    parsed = parse_robots_txt_df(raw, user_agent="jirlbot/1.0").withColumn(
        "host_hash", F.lit(1).cast("long")
    )
    urls = spark.createDataFrame(
        [
            (1, 1, "/img/cat.gif"),        # wildcard + $ -> FAIL
            (2, 1, "/img/cat.gif?x=1"),    # $ anchor: query breaks match -> PASS
            (3, 1, "/img/public/cat.gif"), # allow (13) beats disallow (11) -> PASS
            (4, 1, "/Cgi-Bin/x"),          # case-sensitive prefix -> FAIL
            (5, 1, "/cgi-bin/x"),          # different case -> PASS
            (6, 1, "/private/x"),          # star group's rule NOT applied -> PASS
            (7, 2, "/anything"),           # unknown host -> UNKNOWN
        ],
        "url_id long, host_hash long, path string",
    )
    out = {
        r["url_id"]: r["robots_status"]
        for r in robots_check(urls, parsed).collect()
    }
    assert out == {
        1: "FAIL", 2: "PASS", 3: "PASS", 4: "FAIL",
        5: "PASS", 6: "PASS", 7: "UNKNOWN",
    }


def test_robots_regex_degenerates_to_prefix_semantics(spark):
    """Plain rules (no wildcards, no $, no allow list) through the
    RFC 9309 matcher must classify exactly like simple prefix matching —
    the degenerate-equivalence claim the oracle/simulator contracts rely
    on. Random rules and paths, reference computed in plain Python."""
    import numpy as np

    from jirlbot_spark.operators.robots import robots_check

    rng = np.random.default_rng(17)
    segs = ["a", "b", "cgi", "img", "p.q", "x-y", "idx+1", "(v)", "z"]

    def rand_path():
        return "/" + "/".join(
            rng.choice(segs, size=rng.integers(1, 4))
        )

    hosts = []
    for h in range(20):
        rules = [rand_path() for _ in range(int(rng.integers(0, 4)))]
        hosts.append((h, rules))
    urls = [
        (u, int(rng.integers(0, 25)), rand_path()) for u in range(400)
    ]
    robots_df = spark.createDataFrame(
        hosts, "host_hash long, disallow array<string>"
    )
    urls_df = spark.createDataFrame(
        urls, "url_id long, host_hash long, path string"
    )
    got = {
        r.url_id: r.robots_status
        for r in robots_check(urls_df, robots_df).collect()
    }
    rules_by_host = dict(hosts)
    for url_id, hh, path in urls:
        if hh not in rules_by_host:
            exp = "UNKNOWN"
        elif any(path.startswith(d) for d in rules_by_host[hh]):
            exp = "FAIL"
        else:
            exp = "PASS"
        assert got[url_id] == exp, (url_id, hh, path)


def test_loop_live_robots_fetcher(spark, tmp_path):
    """LIVE robots acquisition end-to-end: the loop fetches
    /robots.txt through the injected transport, parses it with the
    RFC 9309 grammar (specific-UA group beats `*`, Allow longest-match
    beats a shorter Disallow), blocks accordingly, and honors the
    parsed Crawl-delay in the politeness schedule."""
    from jirlbot_spark.operators.fetch import http_backend
    from jirlbot_spark.operators.robots import robots_http_fetcher
    from jirlbot_spark.plans.loop import CrawlConfig, CrawlLoop
    from jirlbot_spark.sources.storage import TableStore

    ROBOTS_BODY = (
        b"User-agent: jirlbot\n"
        b"Disallow: /private\n"
        b"Allow: /private/ok\n"
        b"Crawl-delay: 2\n"
        b"\n"
        b"User-agent: *\n"
        b"Disallow: /\n"  # the * group must NOT apply to us
    )

    requests_log = str(tmp_path / "requests.log")

    def transport(url):
        # every request, from whichever worker makes it
        with open(requests_log, "a") as f:
            f.write(url + "\n")
        if url == "http://l-site.com/robots.txt":
            return {"status": 200, "content_type": "", "body": ROBOTS_BODY}
        return {"status": 200, "content_type": "", "body": b"<html>ok</html>"}

    def virtual_clock_factory():
        state = {"t": 0.0}

        def clock():
            state["t"] += 0.001
            return state["t"]

        def sleeper(dt):
            state["t"] += dt

        return clock, sleeper

    store = TableStore(spark, str(tmp_path / "liverobots"))
    loop = CrawlLoop(
        spark,
        store,
        None,
        None,
        None,  # NO static robots table: rules come from the fetcher
        CrawlConfig(salt_buckets=4, image_scale=10, min_delay_s=0.5,
                    user_agent="jirlbot"),
        fetch_backend=http_backend(
            transport=transport, clock_factory=virtual_clock_factory
        ),
        robots_fetcher=robots_http_fetcher(transport),
    )
    seeds = spark.createDataFrame(
        [
            ("http://l-site.com/a",),
            ("http://l-site.com/private/x",),
            ("http://l-site.com/private/ok",),
        ],
        ["url"],
    )
    loop.ingest_seeds(seeds)
    stats = loop.run(2)
    fetched = {
        r.url: r
        for r in store.read("fetch_log")
        .select("url", "planned_at_s", "seq_in_host")
        .collect()
    }
    assert set(fetched) == {
        "http://l-site.com/a",
        "http://l-site.com/private/ok",  # Allow longest-match wins
    }  # /private/x blocked; `*` group's Disallow:/ correctly ignored
    # parsed Crawl-delay: 2s spacing between the host's two fetches
    times = sorted(r.planned_at_s for r in fetched.values())
    assert times[1] - times[0] >= 2.0
    # once-per-host-ever robots contract: robots.txt requested exactly
    # once over the run (parsing must not re-run the fetch), one rules
    # row, and the parsed rule lists landed in the store
    with open(requests_log) as f:
        requested = f.read().split()
    assert requested.count("http://l-site.com/robots.txt") == 1
    rules = store.read("robots").collect()
    assert len(rules) == 1
    assert rules[0].disallow == ["/private"]
    assert rules[0].allow == ["/private/ok"]
    assert rules[0].crawl_delay == 2.0
    assert sum(s["fetched"] for s in stats) == 2
