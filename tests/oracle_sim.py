"""Single-threaded pure-Python crawl simulator with IRLbot semantics.

Defines the GOLDEN crawl ordering, URL-seen set, and budget assignments the
Spark engine must reproduce (north rule: "matching the reference's crawl
ordering and final URL-seen set under the same seed list + politeness
budget"). Independent implementation: its canonicalizer and data structures
share no code with jirlbot_spark (murmur3 comes from tests/scalar_murmur3,
itself independently verified against the vectorized engine hash).

Determinism contract mirrored from the engine:
  - ordering everywhere = (priority asc, url_hash asc), priority = depth
  - STAR budgets recomputed each batch from the distinct cross-PLD edge set
    accumulated through the previous batch; rank tiebreak = pld_hash asc
  - BEAST admits top-budget per PLD; excess deferred to next pass
  - robots: unknown host -> defer URL, request robots (available next
    batch); prefix match on disallow rules; FAIL drops the URL
  - link depth = src depth + 1; a URL reached twice gets min depth
"""

from __future__ import annotations

from dataclasses import dataclass, field

from tests.scalar_murmur3 import murmur3_x64_128

TWO_LEVEL_SUFFIXES = {
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gen.in",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "co.nz", "net.nz", "org.nz",
    "co.za", "org.za", "com.mx", "com.ar", "com.tr", "com.sg",
    "co.kr", "or.kr", "com.tw", "com.hk",
}


def h64(s: str) -> int:
    v, _ = murmur3_x64_128(s.encode("utf-8"))
    return v - (1 << 64) if v >= (1 << 63) else v


def canon(url: str, base: str = "") -> str | None:
    """Scalar canonicalizer (independent of the engine's vectorized one)."""
    url = url.strip()
    if "#" in url:
        url = url.split("#", 1)[0]
    if "://" not in url or not url.split("://", 1)[0].replace("+", "").replace(
        "-", ""
    ).replace(".", "").isalnum() or url.split("://", 1)[0][:1].isdigit():
        return None  # simulator inputs are always absolute
    scheme, rest = url.split("://", 1)
    scheme = scheme.lower()
    if scheme not in ("http", "https"):
        return None
    hostport, sep, pathq = rest.partition("/")
    pathq = sep + pathq if sep else "/"
    host, _, port = hostport.partition(":")
    host = host.lower().strip(".")
    if not host:
        return None
    if port and (
        (scheme == "http" and port == "80")
        or (scheme == "https" and port == "443")
    ):
        port = ""
    path, q, query = pathq.partition("?")
    segs: list[str] = []
    for seg in path.split("/")[1:]:
        if seg == ".":
            continue
        elif seg == "..":
            if segs:
                segs.pop()
        else:
            segs.append(seg)
    path = "/" + "/".join(segs)
    out = scheme + "://" + host + ((":" + port) if port else "") + path + q + query
    return out if len(out) <= 2048 else None


def host_of(url: str) -> str:
    return url.split("://", 1)[1].split("/", 1)[0].split(":")[0]


def pld_of(host: str) -> str:
    labels = host.split(".")
    if len(labels) >= 3 and ".".join(labels[-2:]) in TWO_LEVEL_SUFFIXES:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:]) if len(labels) >= 2 else host


def path_of(url: str) -> str:
    rest = url.split("://", 1)[1]
    i = rest.find("/")
    return rest[i:] if i >= 0 else "/"


@dataclass
class SimConfig:
    top_k: int = 100
    b_hi: int = 50
    b_lo: int = 5
    default_budget: int = 5
    min_delay_s: float = 1.0


@dataclass
class FrontierRow:
    url: str
    depth: int
    enqueue_batch: int

    @property
    def priority(self) -> float:
        return float(self.depth)


@dataclass
class SimResult:
    url_seen: set[str] = field(default_factory=set)
    fetch_log: list[dict] = field(default_factory=list)
    budgets_per_batch: dict[int, dict[str, int]] = field(default_factory=dict)
    batches: list[dict] = field(default_factory=list)


def star_budgets(edges: set[tuple[str, str]], cfg: SimConfig) -> dict[str, int]:
    indeg: dict[str, set[str]] = {}
    for s, d in edges:
        indeg.setdefault(d, set()).add(s)
    ranked = sorted(
        ((len(v), p) for p, v in indeg.items()),
        key=lambda t: (-t[0], h64(t[1])),
    )
    out = {}
    span = max(cfg.top_k - 1, 1)
    for i, (_, p) in enumerate(ranked):
        rank = i + 1
        if rank <= cfg.top_k:
            out[p] = int(cfg.b_hi - (rank - 1) * (cfg.b_hi - cfg.b_lo) / span)
        else:
            out[p] = cfg.b_lo
    return out


def simulate(
    seeds: list[str],
    web_graph: list[tuple[str, str]],
    robots_source: dict[str, tuple[list[str], float]],
    n_batches: int,
    cfg: SimConfig | None = None,
) -> SimResult:
    cfg = cfg or SimConfig()
    res = SimResult()
    out_links: dict[str, list[str]] = {}
    for s, d in web_graph:
        cs = canon(s)
        if cs is not None:
            out_links.setdefault(cs, []).append(d)

    # batch 0: seed ingest
    frontier: list[FrontierRow] = []
    for s in seeds:
        c = canon(s)
        if c is None or c in res.url_seen:
            continue
        res.url_seen.add(c)
        frontier.append(FrontierRow(c, 0, 1))

    edges: set[tuple[str, str]] = set()
    robots_known: dict[str, tuple[list[str], float]] = {}
    robots_requested: set[str] = set()

    for j in range(1, n_batches + 1):
        if not frontier:
            res.batches.append({"batch": j, "rows_in": 0, "fetched": 0})
            break
        rows_in = len(frontier)
        budgets = star_budgets(edges, cfg)
        res.budgets_per_batch[j] = dict(budgets)

        # BEAST admission per pld
        by_pld: dict[str, list[FrontierRow]] = {}
        for r in frontier:
            by_pld.setdefault(pld_of(host_of(r.url)), []).append(r)
        admitted: list[FrontierRow] = []
        deferred: list[FrontierRow] = []
        for pld, rows in by_pld.items():
            rows.sort(key=lambda r: (r.priority, h64(r.url)))
            b = budgets.get(pld, cfg.default_budget)
            admitted.extend(rows[:b])
            for r in rows[b:]:
                deferred.append(FrontierRow(r.url, r.depth, r.enqueue_batch + 1))

        # robots gate
        passed: list[FrontierRow] = []
        for r in admitted:
            host = host_of(r.url)
            if host in robots_known:
                rules, _ = robots_known[host]
                # a null (None) disallow list allows all
                if any(path_of(r.url).startswith(d) for d in rules or ()):
                    continue  # FAIL: dropped
                passed.append(r)
            else:
                deferred.append(FrontierRow(r.url, r.depth, r.enqueue_batch + 1))
        for r in admitted:
            host = host_of(r.url)
            if host not in robots_requested:
                robots_requested.add(host)
                robots_known[host] = robots_source.get(host, ([], 0.0))

        # politeness schedule + fetch
        by_host: dict[str, list[FrontierRow]] = {}
        for r in passed:
            by_host.setdefault(host_of(r.url), []).append(r)
        fetched: list[FrontierRow] = []
        for host, rows in sorted(by_host.items()):
            rows.sort(key=lambda r: (r.priority, h64(r.url)))
            _, delay = robots_known[host]
            delay = max(delay, cfg.min_delay_s)
            for i, r in enumerate(rows):
                res.fetch_log.append(
                    {
                        "batch": j,
                        "url": r.url,
                        "host": host,
                        "seq_in_host": i + 1,
                        "planned_at_s": i * delay,
                    }
                )
                fetched.append(r)

        # link extraction, edges, new URLs
        new_by_url: dict[str, int] = {}
        for r in fetched:
            src_pld = pld_of(host_of(r.url))
            for dst in out_links.get(r.url, []):
                c = canon(dst)
                if c is None:
                    continue
                dst_pld = pld_of(host_of(c))
                if dst_pld != src_pld:
                    edges.add((src_pld, dst_pld))
                d = r.depth + 1
                if c not in new_by_url or d < new_by_url[c]:
                    new_by_url[c] = d
        fresh = []
        for url, d in new_by_url.items():
            if url in res.url_seen:
                continue
            res.url_seen.add(url)
            fresh.append(FrontierRow(url, d, j + 1))

        frontier = deferred + fresh
        res.batches.append(
            {"batch": j, "rows_in": rows_in, "fetched": len(fetched)}
        )
    return res
