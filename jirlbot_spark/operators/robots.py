"""Robots handling (RobotsCache / RobotsRequested in the reference).

Two DRUM-backed structures in the reference become one table and two
joins here:

  - robots_requested: a host is fetched-for-robots at most once →
    left-anti join of candidate hosts against the committed robots table
    (the check_update pattern keyed on host_hash). The reference keeps
    RobotsRequested apart from RobotsCache because its robots fetches
    finish later; here a host's rules are fetched, parsed and committed
    in the same atomic batch that requests them, so the robots table IS
    the requested set.
  - robots check: URL × cached rules → PASS / FAIL / UNKNOWN(defer),
    with RFC 9309 semantics: Allow + Disallow directives, `*` wildcards
    and `$` end anchors inside rules, longest-match precedence (the
    longer of the best-matching allow/disallow wins; allow wins ties).
    Rules are pre-compiled to anchored regexes ON THE ROBOTS SIDE (a
    tiny per-host frame), so the per-URL work is one JVM higher-order
    `filter(rules, r -> regexp_like(path, r.re))` — no Python anywhere.

Plain prefix rules with no allow list degenerate to exactly the old
prefix-match semantics (FAIL iff any disallow prefix matches), so
existing oracle/simulator contracts are unchanged.

Scale: robots is hash-partitioned by host_hash; host cardinality is ~3-4
orders below URL cardinality, so the join side is small and usually
broadcast; skewed hot hosts only matter for the politeness window, not here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STATUS_COL = "robots_status"
PASS = "PASS"
FAIL = "FAIL"
UNKNOWN = "UNKNOWN"


def robots_requested_new(
    hosts: DataFrame,
    requested: DataFrame | None,
    host_col: str = "host_hash",
) -> DataFrame:
    """Hosts whose robots.txt has never been requested (to fetch now):
    one row per host_col, other columns (e.g. `host`) riding along.
    `requested` is any frame of already-requested keys — in the crawl
    loop, the committed robots table."""
    h = hosts.dropDuplicates([host_col])
    if requested is None:
        return h
    return h.join(requested.select(host_col), host_col, "left_anti")


def robots_http_fetcher(transport, scheme: str = "http"):
    """Package a transport as a CrawlLoop `robots_fetcher`: hosts ->
    (host, body) raw robots.txt, fetched as {scheme}://{host}/robots.txt
    inside an Arrow-batched task (hosts are new-this-batch only — the
    anti-join against the committed robots table guarantees at most ONE
    robots fetch per host EVER, so per-host politeness needs no schedule
    here; the loop materializes the bodies so the parser's branches do
    not re-run the fetch).

    Failure policy pinned to RFC 9309 §2.3.1: any non-200 outcome maps
    to an empty body -> parse_robots_txt_df yields no rules ->
    allow-all. (The RFC's 5xx "assume disallow" refinement needs retry
    state the once-per-host contract deliberately avoids; a cluster
    deployment wanting it can inject its own fetcher.)"""
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [
            StructField("host", StringType()),
            StructField("body", StringType()),
        ]
    )

    def fetch(it):
        for pdf in it:
            hosts = pdf["host"].tolist()
            bodies = []
            for h in hosts:
                try:
                    r = transport(f"{scheme}://{h}/robots.txt")
                    ok = int(r.get("status", 0)) == 200
                    body = bytes(r.get("body", b"")) if ok else b""
                except Exception:
                    body = b""
                bodies.append(body.decode("utf-8", errors="replace"))
            yield pd.DataFrame({"host": hosts, "body": bodies})

    def fetcher(hosts: DataFrame) -> DataFrame:
        return hosts.select("host").distinct().mapInPandas(fetch, schema)

    return fetcher


def _rule_regex(rule: Column) -> Column:
    """Anchored regex for one robots rule, built JVM-side: escape regex
    metachars, then `*` -> `.*` and a trailing (escaped) `$` back to a
    real end anchor. A plain rule therefore compiles to a prefix match."""
    esc = F.regexp_replace(rule, r"([.^$+?(){}\[\]|\\])", "\\\\$1")
    star = F.regexp_replace(esc, r"\*", ".*")
    anchored = F.regexp_replace(star, r"\\\$$", "\\$")
    return F.concat(F.lit("^"), anchored)


def _rule_structs(col: Column) -> Column:
    """array<struct<re,ln>>: pre-compiled regex + rule length (the RFC's
    specificity measure) per rule; null array -> empty."""
    return F.transform(
        F.coalesce(col, F.array().cast("array<string>")),
        lambda r: F.struct(
            _rule_regex(r).alias("re"), F.length(r).alias("ln")
        ),
    )


def _best_match_len(rules: Column, path_col: str) -> Column:
    """Length of the longest rule matching the path; -1 if none match."""
    matched = F.filter(
        rules, lambda s: F.regexp_like(F.col(path_col), s["re"])
    )
    return F.coalesce(
        F.array_max(F.transform(matched, lambda s: s["ln"])), F.lit(-1)
    )


def robots_check(
    urls: DataFrame,
    robots: DataFrame | None,
    host_col: str = "host_hash",
    path_col: str = "path",
    disallow_col: str = "disallow",
    allow_col: str | None = None,
) -> DataFrame:
    """Classify each URL PASS / FAIL / UNKNOWN against cached rules.

    UNKNOWN = host has no cached robots yet → caller defers the URL and
    routes the host through robots_requested_new (no rules ⇔ never
    requested, since rules commit with the request). A NULL/empty disallow
    list means allow-all; the sentinel rule "/" disallows everything.
    With an allow list (allow_col, auto-detected when the robots frame
    has an `allow` column), RFC 9309 longest-match applies: the longer
    of the best matching allow/disallow rule wins, allow winning ties.
    """
    if robots is None:
        return urls.withColumn(STATUS_COL, F.lit(UNKNOWN))
    if allow_col is None and "allow" in robots.columns:
        allow_col = "allow"
    sel = [
        F.col(host_col),
        _rule_structs(F.col(disallow_col)).alias("__dis"),
        (
            _rule_structs(F.col(allow_col))
            if allow_col is not None
            else F.array().cast("array<struct<re:string,ln:int>>")
        ).alias("__alw"),
    ]
    r = robots.select(*sel)
    joined = urls.join(r, host_col, "left")
    best_dis = _best_match_len(F.col("__dis"), path_col)
    best_alw = _best_match_len(F.col("__alw"), path_col)
    return joined.withColumn(
        STATUS_COL,
        F.when(F.col("__dis").isNull(), F.lit(UNKNOWN))
        .when(best_dis > best_alw, F.lit(FAIL))
        .otherwise(F.lit(PASS)),
    ).drop("__dis", "__alw")


def parse_robots_txt_df(
    raw: DataFrame, host_col: str = "host", user_agent: str = "*"
) -> DataFrame:
    """Parse raw robots.txt bodies (host, body) into (host, allow[],
    disallow[], crawl_delay) with JVM-side string ops only.

    Grammar (RFC 9309 shape, simplified where noted):
      - `#` comments stripped per line
      - consecutive `User-agent:` lines form ONE group sharing the rules
        that follow (the RFC's group rule)
      - a group applies if one of its UA tokens is `*` or a
        case-insensitive prefix of `user_agent`; when any specific
        (non-*) group matches, specific groups win and `*` groups are
        ignored (the RFC's most-specific-group rule, at prefix
        granularity rather than longest-token)
      - directives collected: Allow, Disallow (empty values dropped),
        Crawl-delay (max across matching groups)
    """
    from pyspark.sql import Window

    ua = user_agent.lower()
    lines = (
        raw.select(
            host_col,
            F.posexplode(F.split(F.col("body"), "\n")).alias("pos", "line"),
        )
        # raw_line keeps the value's case (rule paths are case-sensitive);
        # line (lowered) is only for directive/UA-token matching
        .withColumn(
            "raw_line", F.trim(F.regexp_replace("line", "#.*$", ""))
        )
        .withColumn("line", F.lower("raw_line"))
    )
    sec = lines.withColumn(
        "is_ua", F.col("line").startswith("user-agent:")
    )
    w = Window.partitionBy(host_col).orderBy("pos")
    # a GROUP starts at a user-agent line whose predecessor is not one:
    # consecutive UA lines share the group (RFC 9309 §2.1)
    sec = sec.withColumn(
        "grp_start",
        (
            F.col("is_ua")
            & ~F.coalesce(F.lag("is_ua").over(w), F.lit(False))
        ).cast("int"),
    ).withColumn("grp", F.sum("grp_start").over(w))
    ua_tok = F.trim(F.substring_index("line", ":", -1))
    ua_lines = sec.filter(F.col("is_ua")).select(
        host_col, "grp", ua_tok.alias("tok")
    )
    star_grps = ua_lines.filter(F.col("tok") == "*").select(
        host_col, "grp"
    ).distinct()
    spec_grps = ua_lines.filter(
        (F.col("tok") != "*")
        & F.lit(ua).startswith(F.col("tok"))
    ).select(host_col, "grp").distinct()
    spec_hosts = spec_grps.select(host_col).distinct()
    chosen = spec_grps.unionByName(
        star_grps.join(spec_hosts, host_col, "left_anti")
    )
    in_grp = sec.join(chosen, [host_col, "grp"], "left_semi").select(
        F.col(host_col).alias("h"), "line", "raw_line"
    )

    def directive(prefix: str) -> Column:
        return F.trim(F.expr(f"substring(raw_line, {len(prefix) + 2})"))

    def rule_list(prefix: str, out: str) -> DataFrame:
        return (
            in_grp.filter(F.col("line").startswith(prefix + ":"))
            .withColumn("rule", directive(prefix))
            .filter(F.col("rule") != "")
            .groupBy("h")
            .agg(F.collect_list("rule").alias(out))
        )

    dis = rule_list("disallow", "disallow")
    alw = rule_list("allow", "allow")
    delay = (
        in_grp.filter(F.col("line").startswith("crawl-delay:"))
        # try_cast: malformed values in untrusted robots.txt ("10s")
        # must degrade to NULL -> default delay, not throw under ANSI
        .withColumn("crawl_delay", directive("crawl-delay").try_cast("double"))
        .groupBy("h")
        .agg(F.max("crawl_delay").alias("crawl_delay"))
    )
    hosts = raw.select(F.col(host_col).alias("h")).distinct()
    empty_arr = F.array().cast("array<string>")
    return (
        hosts.join(dis, "h", "left")
        .join(alw, "h", "left")
        .join(delay, "h", "left")
        .select(
            F.col("h").alias(host_col),
            F.coalesce("allow", empty_arr).alias("allow"),
            F.coalesce("disallow", empty_arr).alias("disallow"),
            F.coalesce("crawl_delay", F.lit(0.0)).alias("crawl_delay"),
        )
    )
