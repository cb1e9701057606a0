"""DNS cache + server-IP politeness keying.

The IRLbot paper reports DNS resolution as a real crawl bottleneck and
caches lookups aggressively (IRLbot: §experience with the DNS resolver;
the reference tree is empty, so semantics are pinned here, not cited).
The DRUM-style recast is the same shape as the robots request: resolution
is an ANTI-JOIN problem — a host is resolved at most once per TTL
window, never once per URL. The robots rules table is itself the
requested set because rules never expire; a DNS entry does, so the
"anti-join" here also keeps expired rows.

Design (all deterministic — TTL is counted in BATCHES, not wall clock,
so resume/replay and the DuckDB oracle see identical decisions):

  dns_cache table:  host_hash:long, ip:string(null = NXDOMAIN/failure),
                    resolved_batch:int, ttl_batches:int
  dns_needed       = hosts ⟕ cache, keep cache-miss OR expired rows
                     (resolved_batch + ttl_batches <= batch_id).
                     NXDOMAIN rows are cached too (negative caching —
                     the paper's resolver died on retry storms; an
                     unresolvable host must not be re-asked every batch).
  resolve          = injected resolver over the NEEDED set only
                     (cluster impl: getaddrinfo inside an Arrow-batched
                     task; sandbox default: a pure-JVM arithmetic fake).
  refresh          = supersede-by-host_hash merge (anti-join + union).
  attach_server_key= URLs ⟕ cache; serve_key = xxhash64(ip) when
                     resolved else host_hash (engine-internal keying, so
                     xxhash64 is fine per the O4 convention). Politeness
                     keyed on serve_key makes virtual-hosted domains
                     share ONE fetch queue — per-server politeness, which
                     per-host keying silently violates when thousands of
                     hosts resolve to one box.

Scale: host cardinality is orders below URL cardinality (same argument
as robots.py), so the cache side of every join here is small — usually
broadcast. The resolver only ever sees the needed DELTA, so external DNS
traffic per batch is bounded by new+expired hosts, not frontier size.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DNS_COLS = ("host_hash", "ip", "resolved_batch", "ttl_batches")
DEFAULT_TTL_BATCHES = 64


def dns_needed(
    hosts: DataFrame,
    cache: DataFrame | None,
    batch_id: int,
    host_col: str = "host_hash",
) -> DataFrame:
    """Distinct hosts whose cache entry is absent or expired at batch_id.

    One hash join against the (small) cache; expiry is column
    arithmetic, so a fresh entry costs nothing and an expired one is
    re-resolved exactly once — the re-resolve then supersedes it in
    refresh_dns_cache, restarting its TTL.
    """
    h = hosts.select(host_col).distinct()
    if cache is None:
        return h
    c = cache.select(
        F.col("host_hash").alias(host_col),
        (F.col("resolved_batch") + F.col("ttl_batches")).alias("__expires"),
    )
    return (
        h.join(c, host_col, "left")
        .where(F.col("__expires").isNull() | (F.col("__expires") <= batch_id))
        .select(host_col)
    )


def arith_resolver(
    needed: DataFrame, host_col: str = "host_hash"
) -> DataFrame:
    """Deterministic pure-JVM fake resolver (sandbox default; cluster
    deployments inject socket_resolver or their own).

    ip derives from a Knuth multiplicative hash of host_hash, folded to
    ≤64 distinct addresses so virtual hosting (many hosts → one IP) is
    actually exercised downstream; every 17th mix value resolves to NULL
    (NXDOMAIN) so negative caching is exercised too. The arithmetic is
    plain int64 ops (the inner pmod keeps the product under 2^63, so it
    survives ANSI mode on ANY input hash), so a DuckDB oracle recomputes
    every decision independently.
    """
    mix = F.pmod(
        F.pmod(F.col(host_col), F.lit(2147483648)) * F.lit(2654435761),
        F.lit(4294967296),
    )
    folded = F.pmod(mix, F.lit(64))
    ip = F.when(
        F.pmod(mix, F.lit(17)) == 0, F.lit(None).cast("string")
    ).otherwise(
        F.format_string("10.0.0.%d", folded.cast("int"))
    )
    return needed.select(F.col(host_col).alias("host_hash"), ip.alias("ip"))


def socket_resolver(
    getaddr: Callable[[str], str | None] | None = None,
    host_name_col: str = "host",
) -> Callable[[DataFrame], DataFrame]:
    """Real resolver for cluster runs: getaddrinfo (or an injected
    lookup, which is how tests drive it offline) inside an Arrow-batched
    task over the needed delta ONLY. Returns host_hash, ip rows; lookup
    failure => NULL ip (negative-cached upstream)."""
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    if getaddr is None:

        def getaddr(host: str) -> str | None:  # pragma: no cover - needs DNS
            import socket

            try:
                return socket.getaddrinfo(host, None)[0][4][0]
            except OSError:
                return None

    schema = StructType(
        [
            StructField("host_hash", LongType()),
            StructField("ip", StringType()),
        ]
    )

    def resolve(needed: DataFrame) -> DataFrame:
        def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                yield pd.DataFrame(
                    {
                        "host_hash": pdf["host_hash"],
                        "ip": [getaddr(h) for h in pdf[host_name_col]],
                    }
                )

        return needed.mapInPandas(run, schema)

    return resolve


def collapse_dns_runs(appended: DataFrame) -> DataFrame:
    """Latest row per host from an append-only run history.

    The loop never overwrites the dns_cache table (overwriting a table
    the same plan still lazily reads is the classic Spark self-overwrite
    hazard); each batch APPENDS only its newly-resolved delta, and reads
    collapse to the max-resolved_batch row per host — same pattern as
    url_seen runs. Ties are impossible: a host resolves at most once per
    batch (dns_needed is distinct). Cache cardinality is hosts, orders
    below URLs, so this agg is cheap and usually broadcast downstream.
    """
    return (
        appended.groupBy("host_hash")
        .agg(
            F.max_by(
                F.struct("ip", "resolved_batch", "ttl_batches"),
                "resolved_batch",
            ).alias("s")
        )
        .select("host_hash", "s.ip", "s.resolved_batch", "s.ttl_batches")
    )


def refresh_dns_cache(
    cache: DataFrame | None,
    resolved: DataFrame,
    batch_id: int,
    ttl_batches: int = DEFAULT_TTL_BATCHES,
) -> DataFrame:
    """Merge freshly resolved rows over the cache (supersede by
    host_hash — a re-resolved host keeps exactly one row, the new one)."""
    new = resolved.select(
        "host_hash",
        "ip",
        F.lit(batch_id).cast("int").alias("resolved_batch"),
        F.lit(ttl_batches).cast("int").alias("ttl_batches"),
    )
    if cache is None:
        return new
    kept = cache.select(*DNS_COLS).join(
        new.select("host_hash"), "host_hash", "left_anti"
    )
    return kept.unionByName(new)


def attach_server_key(
    urls: DataFrame,
    cache: DataFrame,
    host_col: str = "host_hash",
) -> DataFrame:
    """Attach ip + serve_key for per-SERVER politeness: resolved hosts
    key on xxhash64(ip) (engine-internal keying per the O4 convention),
    unresolved/NXDOMAIN hosts fall back to their own host_hash so they
    still schedule politely rather than clumping on one NULL key."""
    c = cache.select(F.col("host_hash").alias(host_col), "ip")
    return urls.join(c, host_col, "left").withColumn(
        "serve_key",
        F.when(F.col("ip").isNotNull(), F.xxhash64(F.col("ip"))).otherwise(
            F.col(host_col)
        ),
    )
