"""URL canonicalization + pay-level-domain extraction on pyarrow compute
kernels — the one URL kernel the package ships.

Semantics modeled on IRLbot's URL handling (checkAndTransformURL /
getPLDofURL in the reference's IRLbotUtil; reference tree was empty at build
time — SURVEY.md §0 — so the contract is pinned by the IRLbot paper and the
golden table in tests/test_urls.py):

  canonicalize(url, base):
    - strip ASCII tab/newline/CR anywhere in url and base first (the
      WHATWG URL rule; also the one char where re2's '$'/'.' semantics
      diverge from Python re, which keeps this kernel bit-equivalent to
      the pandas oracle in tests/urls_reference.py on dirty link data)
    - resolve relative references against base (scheme-relative, absolute
      path, relative path, query-only, fragment-only, empty reference)
    - strip the fragment
    - percent-encoding normalization (RFC 3986 §6.2.2): uppercase %XX
      hex, decode unreserved escapes (ALPHA / DIGIT / - . _ ~) — done
      BEFORE dot-segment removal so a decoded %2E participates in it
    - lowercase scheme and host; path/query case preserved
    - IDN: non-ASCII hosts encode to punycode (xn--) labels; hosts the
      idna codec rejects are REJECTED rows
    - drop default ports (http:80, https:443)
    - collapse dot-segments ("/./", "/../") in the path
    - empty path -> "/"
    - REJECT (null) anything that is not http(s), has no host, or exceeds
      MAX_URL_LEN

  pld(host): pay-level-domain via the vendored public-suffix list
    ("a.b.example.co.uk" -> "example.co.uk").

Every pass runs in Arrow C++ (re2 regex, contiguous UTF-8 buffers, no
Python string objects); the only per-row Python is the idna fallback for
the rare non-ASCII hosts. The crawl loop reaches these kernels through
prepare.prepare_urls_fused (mapInArrow); single columns reach them through
the arrow_udf wrappers at the bottom of this module. A pandas twin lives
in tests/urls_reference.py as the oracle these kernels are fuzz-tested
against (tests/test_arrow_kernels.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from jirlbot_spark.functions.psl import MAX_RULE_LABELS, load_psl

MAX_URL_LEN = 2048

# Percent-encoding normalization tables. The first 12 passes uppercase the
# hex digits of every valid %xx escape (6 per digit position; no
# lookarounds, so re2-compatible).
PCT_UPPER_PASSES: list[tuple[str, str]] = [
    (f"%{c}([0-9a-fA-F])", f"%{c.upper()}\\1") for c in "abcdef"
] + [(f"%([0-9A-F]){c}", f"%\\1{c.upper()}") for c in "abcdef"]
_UNRESERVED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
# Unreserved-escape decode, pinned contract: ITERATED single-pass to
# FIXPOINT. One round is a true simultaneous single pass, in two
# literal-replace phases (RE2 has no replacement callback, so a single
# regex pass isn't expressible here):
#   phase 1: each valid %XX -> a private-use placeholder U+E0XX.
#            Placeholders are non-ASCII, so a decode inside one round can
#            never combine with surrounding text into a NEW escape — the
#            round is order-independent.
#   phase 2: placeholder -> the decoded character.
# Rounds repeat until nothing changes. On well-formed input one round is
# a no-op-detecting second pass; on malformed stray-% input ('%7%45E')
# a decode may SYNTHESIZE a new escape ('%7EE'), and the next round
# decodes it ('~E'). That cascading is a deliberate, documented
# divergence from one-shot RFC 3986 decoding: the canonical form must be
# a FIXPOINT of canonicalize (frontier dedup keys would otherwise drift),
# and one-shot decoding leaves non-fixpoint outputs. Golden-pinned and
# idempotence-tested in tests/test_urls.py.
PCT_DECODE_PHASE1: list[tuple[str, str]] = [
    (f"%{ord(ch):02X}", chr(0xE000 + ord(ch))) for ch in _UNRESERVED
]
PCT_DECODE_PHASE2: list[tuple[str, str]] = [
    (chr(0xE000 + ord(ch)), ch) for ch in _UNRESERVED
]


def idna_encode(host: str) -> str | None:
    """Punycode-encode one non-ASCII hostname (None = reject). Scalar —
    called only on the (rare) non-ASCII-host rows; ASCII hosts never
    reach it."""
    try:
        return host.encode("idna").decode("ascii")
    except Exception:
        return None


def _suffix_re(k: int) -> str:
    """Regex capturing the last k dot-separated labels (no match -> null)."""
    if k == 1:
        return r"([^.]+)$"
    return r"((?:[^.]+\.){%d}[^.]+)$" % (k - 1)


_SPLIT_PAT = (
    r"^(?P<scheme>[a-zA-Z][a-zA-Z0-9+.\-]*)://"
    r"(?P<host>[^/:?#]*)(?::(?P<port>\d*))?(?P<rest>[/?].*)?$"
)
_EMPTY = pa.scalar("", pa.string())
_NULL_STR = pa.scalar(None, pa.string())
_PSL_ARROW: tuple[pa.Array, pa.Array, pa.Array] | None = None


def _psl_arrow() -> tuple[pa.Array, pa.Array, pa.Array]:
    """(exact, wildcard_parents, exceptions) as Arrow value sets, built
    once per process from the vendored publicsuffix.org table."""
    global _PSL_ARROW
    if _PSL_ARROW is None:
        exact, wc, exc = load_psl()
        _PSL_ARROW = (
            pa.array(sorted(exact), pa.string()),
            pa.array(sorted(wc), pa.string()),
            pa.array(sorted(exc), pa.string()),
        )
    return _PSL_ARROW

# dot-segment passes, applied in order to fixpoint (rows without the
# literal "/." can match none of them, so only those rows enter the loop)
_DOT_PASSES = [
    (r"/\./", "/"),
    (r"/\.$", "/"),
    (r"/[^/]*[^/.][^/]*/\.\./", "/"),
    (r"/[^/]*[^/.][^/]*/\.\.$", "/"),
    (r"^/\.\./", "/"),
    (r"^/\.\.$", "/"),
]


def _concat(*parts):
    return pc.binary_join_element_wise(*parts, "")


def _strip_ctrl(u: pa.Array) -> pa.Array:
    """WHATWG control strip (\\t \\n \\r anywhere) — run FIRST; '\\n' is
    also the one character where re2's '$'/'.' semantics diverge from
    Python re, so stripping it keeps this kernel bit-equivalent to the
    pandas oracle on dirty link data."""
    if pc.any(pc.match_substring_regex(u, r"[\t\n\r]")).as_py():
        u = pc.replace_substring_regex(u, r"[\t\n\r]", "")
    return u


def _pct_normalize(u: pa.Array) -> pa.Array:
    """PUA-placeholder guard (adversarial input carrying the placeholder
    code points would corrupt phase 2), 12 re2 uppercase passes, then the
    FIXPOINT-iterated two-phase unreserved decode (escape -> placeholder
    -> char per round; see PCT_DECODE_PHASE1 for why the fixpoint is the
    pinned contract), only over rows containing '%'."""
    mask = pc.match_substring(u, "%")
    if not pc.any(mask).as_py():
        return u
    sub = pc.filter(u, mask)
    sub = pc.replace_substring_regex(sub, r"[\x{E000}-\x{E0FF}]", "")
    for pat, rep in PCT_UPPER_PASSES:
        sub = pc.replace_substring_regex(sub, pat, rep)
    for _ in range(64):
        nxt = sub
        for lit, rep in PCT_DECODE_PHASE1:
            nxt = pc.replace_substring(nxt, lit, rep)
        for lit, rep in PCT_DECODE_PHASE2:
            nxt = pc.replace_substring(nxt, lit, rep)
        if pc.all(pc.equal(nxt, sub)).as_py():
            break
        sub = nxt
    return pc.replace_with_mask(u, mask, sub)


def _idna_hosts(host: pa.Array) -> pa.Array:
    """Punycode-encode the (rare) non-ASCII hosts via idna_encode; failures become null (rejected downstream). ASCII rows never
    leave Arrow."""
    nonascii = pc.invert(pc.string_is_ascii(host))
    if not pc.any(nonascii).as_py():
        return host
    vals = pc.filter(host, nonascii).to_pylist()
    enc = pa.array(
        [None if h is None else idna_encode(h) for h in vals], pa.string()
    )
    return pc.replace_with_mask(host, nonascii, enc)


def _field(struct, name, fill="") -> pa.Array:
    out = pc.struct_field(struct, name)
    return pc.fill_null(out, fill) if fill is not None else out


def _remove_dot_segments(path: pa.Array) -> pa.Array:
    mask = pc.match_substring(path, "/.")
    if not pc.any(mask).as_py():
        return path
    # fixpoint only over the rows that contain "/." — scatter back via
    # replace_with_mask so clean rows never re-enter the regex engine
    sub = pc.filter(path, mask)
    for _ in range(64):
        nxt = sub
        for pat, rep in _DOT_PASSES:
            nxt = pc.replace_substring_regex(nxt, pat, rep)
        if pc.all(pc.equal(nxt, sub)).as_py():
            break
        sub = nxt
    return pc.replace_with_mask(path, mask, sub)


def resolve_chunk(urls: pa.Array, bases: pa.Array) -> pa.Array:
    """RFC-3986-style reference resolution, one mask per reference form:
    scheme-relative (//x), absolute-path (/x), query-only
    (?q), fragment-only (#f), relative-path, empty reference; relative
    refs with no usable base resolve to "" (rejected downstream)."""
    u = pc.utf8_trim_whitespace(_strip_ctrl(pc.fill_null(urls, "")))
    b = pc.utf8_trim_whitespace(_strip_ctrl(pc.fill_null(bases, "")))
    has_scheme = pc.match_substring_regex(
        u, r"^[a-zA-Z][a-zA-Z0-9+.\-]*:"
    )
    if not pc.any(pc.not_equal(b, "")).as_py():
        return pc.if_else(has_scheme, u, _EMPTY)

    bp = pc.extract_regex(b, _SPLIT_PAT)
    b_scheme = _field(bp, "scheme")
    b_host = _field(bp, "host")
    b_port = _field(bp, "port")
    b_rest = _field(bp, "rest")
    origin = _concat(b_scheme, "://", b_host)
    origin = pc.if_else(
        pc.equal(b_port, ""), origin, _concat(origin, ":", b_port)
    )
    # absent rest -> "/". A matched rest is never "" (the pattern
    # requires at least one char), but re2 reports absent optional groups
    # as "" rather than null — so "" ⟺ absent
    b_path = pc.replace_substring_regex(
        pc.if_else(pc.equal(b_rest, ""), "/", b_rest), r"[?#].*$", ""
    )
    b_dir = pc.replace_substring_regex(b_path, r"[^/]*$", "")
    b_dir = pc.if_else(pc.equal(b_dir, ""), "/", b_dir)
    b_query = _field(
        pc.extract_regex(b_rest, r"(?P<q>\?[^#]*)"), "q"
    )

    no_scheme = pc.invert(has_scheme)
    empty_ref = pc.and_(no_scheme, pc.equal(u, ""))
    starts = lambda s: pc.starts_with(u, s)  # noqa: E731
    scheme_rel = pc.and_(
        pc.and_(no_scheme, pc.invert(empty_ref)), starts("//")
    )
    abs_path = pc.and_(
        pc.and_(no_scheme, pc.invert(empty_ref)),
        pc.and_(pc.invert(scheme_rel), starts("/")),
    )
    query_only = pc.and_(no_scheme, starts("?"))
    frag_only = pc.and_(no_scheme, starts("#"))
    rel_path = pc.and_(
        pc.and_(no_scheme, pc.invert(empty_ref)),
        pc.and_(
            pc.invert(scheme_rel),
            pc.and_(
                pc.invert(abs_path),
                pc.and_(pc.invert(query_only), pc.invert(frag_only)),
            ),
        ),
    )

    out = u
    out = pc.if_else(empty_ref, _concat(origin, b_path, b_query), out)
    out = pc.if_else(scheme_rel, _concat(b_scheme, ":", u), out)
    out = pc.if_else(abs_path, _concat(origin, u), out)
    out = pc.if_else(query_only, _concat(origin, b_path, u), out)
    # frag-only keeps the base query (RFC 3986 §5.3: query is only
    # replaced when the reference defines one) — dropping it would alias
    # href="#section" to a query-stripped sibling page
    out = pc.if_else(
        frag_only, _concat(origin, b_path, b_query, u), out
    )
    out = pc.if_else(rel_path, _concat(origin, b_dir, u), out)
    no_base = pc.equal(b_host, "")
    return pc.if_else(pc.and_(no_scheme, no_base), _EMPTY, out)


def canonicalize_with_host(
    urls: pa.Array, bases: pa.Array | None = None
) -> tuple[pa.Array, pa.Array]:
    """(canonical_url, host) arrays; both null where the URL is rejected.

    Resolve against bases (when given),
    trim, strip fragment, split, lowercase scheme+host, trim host dots,
    drop default ports, "" path -> "/", collapse dot-segments, reject
    non-http(s) / hostless / bad-host-char / overlong.
    """
    if isinstance(urls, pa.ChunkedArray):
        urls = urls.combine_chunks()
    if bases is not None:
        if isinstance(bases, pa.ChunkedArray):
            bases = bases.combine_chunks()
        u = resolve_chunk(urls, bases)
    else:
        u = pc.utf8_trim_whitespace(_strip_ctrl(pc.fill_null(urls, "")))
    if pc.any(pc.match_substring(u, "#")).as_py():
        # literal split beats a ".*$"-style regex replace ~2x: the
        # fragment is everything after the FIRST '#', discarded
        u = pc.list_element(pc.split_pattern(u, "#", max_splits=1), 0)
    u = _pct_normalize(u)
    parts = pc.extract_regex(u, _SPLIT_PAT)
    matched = pc.is_valid(parts)
    scheme = pc.utf8_lower(_field(parts, "scheme"))
    host = pc.utf8_trim(pc.utf8_lower(_field(parts, "host")), ".")
    host = _idna_hosts(host)
    port = _field(parts, "port")
    rest = _field(parts, "rest")

    if pc.any(pc.match_substring(rest, "?")).as_py():
        # path/query split on the FIRST '?', also literal: a row with a
        # '?' keeps it in the query even when the body is empty (same as
        # a "(\?.*)$" extract)
        ls = pc.split_pattern(rest, "?", max_splits=1)
        path = pc.list_element(ls, 0)
        qbody = pc.binary_join(pc.list_slice(ls, 1, 2), "")
        query = pc.if_else(
            pc.equal(pc.list_value_length(ls), 2),
            _concat("?", qbody),
            "",
        )
    else:
        path, query = rest, _EMPTY
    path = pc.if_else(pc.equal(path, ""), "/", path)
    path = _remove_dot_segments(path)

    default_port = pc.or_(
        pc.and_(pc.equal(scheme, "http"), pc.equal(port, "80")),
        pc.and_(pc.equal(scheme, "https"), pc.equal(port, "443")),
    )
    port_sfx = pc.if_else(
        pc.and_(pc.not_equal(port, ""), pc.invert(default_port)),
        _concat(":", port),
        "",
    )
    canon = _concat(scheme, "://", host, port_sfx, path, query)

    ok = pc.and_(
        pc.and_(
            matched,
            pc.is_in(scheme, value_set=pa.array(["http", "https"])),
        ),
        pc.and_(
            pc.and_(
                pc.not_equal(host, ""),
                pc.invert(
                    pc.match_substring_regex(host, r"[^a-z0-9.\-:_]")
                ),
            ),
            pc.less_equal(pc.utf8_length(canon), MAX_URL_LEN),
        ),
    )
    return (
        pc.if_else(ok, canon, _NULL_STR),
        pc.if_else(ok, host, _NULL_STR),
    )


def canonicalize_chunk(
    urls: pa.Array, bases: pa.Array | None = None
) -> pa.Array:
    return canonicalize_with_host(urls, bases)[0]


def host_of_chunk(urls: pa.Array) -> pa.Array:
    """Lowercased host of an (already canonical) URL; null if none."""
    h = pc.struct_field(
        pc.extract_regex(
            urls, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?P<h>[^/:?#]+)"
        ),
        "h",
    )
    return pc.utf8_lower(h)


def pld_chunk(hosts: pa.Array) -> pa.Array:
    """Pay-level-domain of a hostname via the full public-suffix list.

    PSL match algorithm: the public-suffix label count is the longest
    matching exact rule, or parent+1 for a ``*.parent`` wildcard rule,
    with ``!exception`` rules overriding to len(exception)-1, and the
    implicit ``*`` default (the bare TLD) when nothing matches. The PLD is
    one label more than the public suffix. Hosts that ARE a public suffix
    (or single labels like "localhost") are their own PLD; IPv4 literals
    pass through whole; ""/null -> null.

    Cost per batch: MAX_RULE_LABELS+1 anchored regex extracts plus ~2·K
    hash-set membership tests — shape-independent of the 9.5k-rule table.
    """
    if isinstance(hosts, pa.ChunkedArray):
        hosts = hosts.combine_chunks()
    exact_set, wc_set, exc_set = _psl_arrow()
    h = pc.utf8_trim(pc.utf8_lower(pc.fill_null(hosts, "")), ".")
    is_ip = pc.match_substring_regex(h, r"^\d{1,3}(\.\d{1,3}){3}$")
    K = MAX_RULE_LABELS
    suf = {
        k: pc.struct_field(
            pc.extract_regex(h, "(?P<g>" + _suffix_re(k)[1:]), "g"
        )
        for k in range(1, K + 2)
    }
    ps_len = pa.array(np.ones(len(h), np.int32))
    for k in range(2, K + 1):
        hit = pc.fill_null(pc.is_in(suf[k], value_set=exact_set), False)
        ps_len = pc.if_else(hit, pa.scalar(k, pa.int32()), ps_len)
    for k in range(1, K):
        hit = pc.and_(
            pc.fill_null(pc.is_in(suf[k], value_set=wc_set), False),
            pc.less(ps_len, k + 1),
        )
        ps_len = pc.if_else(hit, pa.scalar(k + 1, pa.int32()), ps_len)
    for k in range(2, K + 1):
        hit = pc.fill_null(pc.is_in(suf[k], value_set=exc_set), False)
        ps_len = pc.if_else(hit, pa.scalar(k - 1, pa.int32()), ps_len)
    pld = pa.array([None] * len(h), pa.string())
    for L in range(2, K + 2):
        pick = pc.equal(ps_len, L - 1)
        pld = pc.if_else(pick, suf[L], pld)
    pld = pc.coalesce(pld, h)
    pld = pc.if_else(is_ip, h, pld)
    return pc.if_else(pc.equal(h, ""), _NULL_STR, pld)


def string_bytes_view(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(data, starts, lens) numpy views of a string array's UTF-8 buffer.

    Zero-copy except the offsets cast; null rows get len 0. The raw
    ingredients for vectorized byte-level kernels (murmur3) without any
    per-row Python.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        z = np.zeros(0, np.int64)
        return np.zeros(0, np.uint8), z, z
    bufs = arr.buffers()
    if pa.types.is_large_string(arr.type):
        odt, osz = np.int64, 8
    else:
        odt, osz = np.int32, 4
    offsets = np.frombuffer(
        bufs[1], dtype=odt, count=n + 1, offset=osz * arr.offset
    ).astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, np.uint8)
    )
    starts = offsets[:-1]
    lens = offsets[1:] - starts
    if arr.null_count:
        valid = np.asarray(pc.is_valid(arr))
        lens = np.where(valid, lens, 0)
    return data, starts, lens


# ---- Spark column wrappers (Arrow-batched, same kernels as prepare) ----

@F.arrow_udf(StringType())
def canonicalize_udf(urls: pa.Array, bases: pa.Array) -> pa.Array:
    return canonicalize_chunk(urls, bases)


@F.arrow_udf(StringType())
def host_udf(urls: pa.Array) -> pa.Array:
    return host_of_chunk(urls)


@F.arrow_udf(StringType())
def pld_udf(hosts: pa.Array) -> pa.Array:
    return pld_chunk(hosts)
