"""Pandas reference implementation of URL canonicalization, host and
pay-level-domain extraction — the test oracle for the Arrow kernels the
package ships (jirlbot_spark/functions/urls_arrow.py, whose module
docstring states the contract; the golden tables in tests/test_urls.py
pin it).

Every pass here is a pandas Series op (str.extract / str.replace masks)
over Python's `re`, where the shipped kernel runs re2 over Arrow buffers:
two regex engines, two string representations, one contract. The
percent-encoding tables, MAX_URL_LEN, the suffix regex and the scalar
idna step are imported from the shipped module, so both sides run the
same pass sequence even on degenerate inputs like stray '%'s.

Also here: `prepare_frame`, the pandas twin of prepare.prepare_batch_arrow
(canonical url, host, pld and their murmur3 keys), built on
`murmur3_64_reference`, which hashes through the bytes-list entry point
hashing.murmur3_x64_128_batch rather than the Arrow-buffer one.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from jirlbot_spark.functions.hashing import murmur3_x64_128_batch
from jirlbot_spark.functions.psl import MAX_RULE_LABELS, load_psl
from jirlbot_spark.functions.urls_arrow import (
    MAX_URL_LEN,
    PCT_DECODE_PHASE1,
    PCT_DECODE_PHASE2,
    PCT_UPPER_PASSES,
    _suffix_re,
    idna_encode,
)

_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*):")
# scheme://host[:port][/path...]
_SPLIT_RE = re.compile(
    r"^(?P<scheme>[a-zA-Z][a-zA-Z0-9+.\-]*)://"
    r"(?P<host>[^/:?#]*)(?::(?P<port>\d*))?(?P<rest>[/?].*)?$"
)
# precompiled dot-segment passes (compiled once; pandas accepts patterns)
_DOT_HINT = re.compile(r"/\.")
_P_CUR = re.compile(r"/\./")
_P_CUR_END = re.compile(r"/\.$")
_P_UP = re.compile(r"/[^/]*[^/.][^/]*/\.\./")
_P_UP_END = re.compile(r"/[^/]*[^/.][^/]*/\.\.$")
_P_ROOT = re.compile(r"^/\.\./")
_P_ROOT_END = re.compile(r"^/\.\.$")
_P_FRAG = re.compile(r"#.*$")
_P_QUERY = re.compile(r"\?.*$")
_P_QUERY_CAP = re.compile(r"(\?.*)$")
_P_BADHOST = re.compile(r"[^a-z0-9.\-:_]")
_P_CTRL = re.compile(r"[\t\n\r]")
_P_NONASCII = re.compile(r"[^\x00-\x7f]")

# adversarial inputs carrying our placeholder code points would corrupt
# phase 2 — strip them first (they're garbage in a URL either way)
_P_PUA_GUARD = re.compile("[\\uE000-\\uE0FF]")
_PCT_UPPER_COMPILED = [(re.compile(p), r) for p, r in PCT_UPPER_PASSES]


def _strip_ctrl(s: pd.Series) -> pd.Series:
    if s.str.contains(_P_CTRL, na=False).any():
        s = s.str.replace(_P_CTRL, "", regex=True)
    return s


def _pct_normalize(s: pd.Series) -> pd.Series:
    """Uppercase %XX hex + fixpoint decode of unreserved escapes
    (iterated placeholder two-phase — see PCT_DECODE_PHASE1), only over
    the rows that contain '%' (subset-scatter like _remove_dot_segments).
    Round count is bounded: each non-final round strictly shortens its
    rows (a decode drops >=2 chars)."""
    m = s.str.contains("%", regex=False, na=False)
    if not m.any():
        return s
    sub = s[m]
    if sub.str.contains(_P_PUA_GUARD, na=False).any():
        sub = sub.str.replace(_P_PUA_GUARD, "", regex=True)
    for pat, rep in _PCT_UPPER_COMPILED:
        sub = sub.str.replace(pat, rep, regex=True)
    for _ in range(64):
        nxt = sub
        for lit, rep in PCT_DECODE_PHASE1:
            nxt = nxt.str.replace(lit, rep, regex=False)
        for lit, rep in PCT_DECODE_PHASE2:
            nxt = nxt.str.replace(lit, rep, regex=False)
        if nxt.equals(sub):
            break
        sub = nxt
    out = s.copy()
    out[m] = sub
    return out


def _remove_dot_segments(paths: pd.Series) -> pd.Series:
    """Collapse /./ and /../ segments, vectorized to fixpoint.

    Fast path: only rows containing "/." enter the loop (real-world URL
    batches are mostly dot-free); each pass is a whole-subset regex
    replace, loop count bounded by the deepest nesting in the batch.
    """
    has_dots = paths.str.contains(_DOT_HINT, na=False)
    if not has_dots.any():
        return paths
    sub = paths[has_dots]
    for _ in range(64):
        nxt = sub.str.replace(_P_CUR, "/", regex=True)
        nxt = nxt.str.replace(_P_CUR_END, "/", regex=True)
        # "/segment/../" -> "/" (segment must not itself be "." / "..")
        nxt = nxt.str.replace(_P_UP, "/", regex=True)
        nxt = nxt.str.replace(_P_UP_END, "/", regex=True)
        # "/../" at the root has no parent to pop — collapses to "/"
        nxt = nxt.str.replace(_P_ROOT, "/", regex=True)
        nxt = nxt.str.replace(_P_ROOT_END, "/", regex=True)
        if nxt.equals(sub):
            break
        sub = nxt
    out = paths.copy()
    out[has_dots] = sub
    return out


def resolve_series(urls: pd.Series, bases: pd.Series) -> pd.Series:
    """RFC-3986-style reference resolution, vectorized with masks."""
    urls = _strip_ctrl(urls.fillna("")).str.strip()
    bases = _strip_ctrl(bases.fillna("")).str.strip()

    has_scheme = urls.str.match(_SCHEME_RE)
    if (bases == "").all():
        # fast path: nothing to resolve against — relative refs are
        # unresolvable (nulled), absolute refs pass through untouched
        return urls.where(has_scheme, "")
    out = urls.copy()

    bp = bases.str.extract(_SPLIT_RE)
    base_origin = bp["scheme"].fillna("") + "://" + bp["host"].fillna("")
    base_port = bp["port"].fillna("")
    base_origin = base_origin.where(base_port == "", base_origin + ":" + base_port)
    base_path = (
        bp["rest"].fillna("/").str.replace(r"[?#].*$", "", regex=True)
    )
    base_dir = base_path.str.replace(r"[^/]*$", "", regex=True)
    base_dir = base_dir.where(base_dir != "", "/")

    base_query = bp["rest"].fillna("").str.extract(r"(\?[^#]*)")[0].fillna("")

    empty_ref = ~has_scheme & (urls == "")
    scheme_rel = ~has_scheme & ~empty_ref & urls.str.startswith("//")
    abs_path = ~has_scheme & ~empty_ref & ~scheme_rel & urls.str.startswith("/")
    query_only = ~has_scheme & urls.str.startswith("?")
    frag_only = ~has_scheme & urls.str.startswith("#")
    rel_path = (
        ~has_scheme
        & ~empty_ref
        & ~scheme_rel
        & ~abs_path
        & ~query_only
        & ~frag_only
    )

    # empty reference -> the base itself (minus fragment), per RFC 3986 §5.3
    out = out.mask(empty_ref, base_origin + base_path + base_query)
    out = out.mask(scheme_rel, bp["scheme"].fillna("") + ":" + urls)
    out = out.mask(abs_path, base_origin + urls)
    out = out.mask(query_only, base_origin + base_path + urls)
    # fragment-only refs keep the BASE QUERY (RFC 3986 §5.3: query is
    # only replaced when the reference defines one) — dropping it would
    # alias href="#section" to a query-stripped sibling page
    out = out.mask(frag_only, base_origin + base_path + base_query + urls)
    out = out.mask(rel_path, base_origin + base_dir + urls)
    # relative ref with no usable base -> unresolvable
    no_base = bp["host"].isna() | (bp["host"].fillna("") == "")
    out = out.mask(~has_scheme & no_base, "")
    return out


def canonicalize_series(
    urls: pd.Series, bases: pd.Series | None = None
) -> pd.Series:
    """Vectorized canonicalization; returns canonical URL or <NA> (reject)."""
    if bases is None:
        bases = pd.Series([""] * len(urls), index=urls.index)
    u = resolve_series(urls, bases)
    # strip fragment early (it never survives); skip when none present
    if u.str.contains("#", regex=False, na=False).any():
        u = u.str.replace(_P_FRAG, "", regex=True)
    u = _pct_normalize(u)

    parts = u.str.extract(_SPLIT_RE)
    scheme = parts["scheme"].str.lower()
    host = parts["host"].str.lower().str.strip(".")
    nonascii = host.str.contains(_P_NONASCII, regex=True, na=False)
    if nonascii.any():
        host = host.copy()
        host[nonascii] = [idna_encode(h) for h in host[nonascii]]
    port = parts["port"]
    rest = parts["rest"].fillna("")

    has_q = rest.str.contains("?", regex=False, na=False)
    if has_q.any():
        path = rest.str.replace(_P_QUERY, "", regex=True)
        query = rest.str.extract(_P_QUERY_CAP)[0].fillna("")
    else:
        path, query = rest, ""
    path = path.where(path != "", "/")
    path = _remove_dot_segments(path)

    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_sfx = (":" + port.fillna("")).where(
        port.notna() & (port != "") & ~default_port, ""
    )

    canon = scheme + "://" + host + port_sfx + path + query

    ok = (
        scheme.isin(["http", "https"])
        & host.notna()
        & (host != "")
        & ~host.str.contains(_P_BADHOST, regex=True, na=True)
        & (canon.str.len() <= MAX_URL_LEN)
    )
    return canon.where(ok, pd.NA)


def host_of_series(urls: pd.Series) -> pd.Series:
    """Lowercased host of an (already canonical) URL; <NA> if none."""
    h = urls.str.extract(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/:?#]+)")[0]
    return h.str.lower()


def pld_series(hosts: pd.Series) -> pd.Series:
    """Pay-level-domain of a hostname via the full public-suffix list.

    PSL match algorithm, vectorized: the public-suffix label count is the
    longest matching exact rule, or parent+1 for a ``*.parent`` wildcard
    rule, with ``!exception`` rules overriding to len(exception)-1, and
    the implicit ``*`` default (the bare TLD) when nothing matches.  The
    PLD is one label more than the public suffix.  Hosts that ARE a
    public suffix (or single labels like "localhost") are their own PLD;
    IPv4 literals pass through whole.

    Cost per batch: MAX_RULE_LABELS+1 anchored regex extracts plus ~2·K
    hash-set membership tests — shape-independent of the 9.5k-rule table.
    """
    exact, wildcard_parents, exceptions = load_psl()
    h = hosts.fillna("").str.lower().str.strip(".")
    is_ip = h.str.match(r"^\d{1,3}(\.\d{1,3}){3}$")
    K = MAX_RULE_LABELS
    suf = {k: h.str.extract(_suffix_re(k))[0] for k in range(1, K + 2)}
    # implicit '*' rule: the TLD itself is a public suffix
    ps_len = pd.Series(1, index=h.index)
    for k in range(2, K + 1):  # k=1 is the default; exact TLD rules agree
        hit = suf[k].isin(exact)
        if hit.any():
            ps_len = ps_len.mask(hit, k)  # increasing k => longest match
    for k in range(1, K):
        # '*.parent' with k-label parent => (k+1)-label suffixes are public
        hit = suf[k].isin(wildcard_parents)
        if hit.any():
            ps_len = ps_len.mask(hit & (ps_len < k + 1), k + 1)
    for k in range(2, K + 1):
        # exception rule: its own match is REGISTRABLE (ps = rule minus
        # leftmost label); beats wildcard/exact per the PSL spec
        hit = suf[k].isin(exceptions)
        if hit.any():
            ps_len = ps_len.mask(hit, k - 1)
    pld = pd.Series(pd.NA, index=h.index, dtype="object")
    for L in range(2, K + 2):
        pick = ps_len == L - 1
        if pick.any():
            pld = pld.mask(pick, suf[L])
    # host shorter than ps+1 labels (is itself a suffix, or single-label
    # like "localhost") -> own PLD
    pld = pld.fillna(h)
    pld = pld.mask(is_ip, h)
    return pld.mask(h == "", pd.NA)


def murmur3_64_reference(s: pd.Series) -> pd.Series:
    """First 64 bits of murmur3_x64_128 of each UTF-8 string as signed
    int64; null stays null."""
    data = [v.encode("utf-8") for v in s.fillna("").astype(str)]
    h1, _ = murmur3_x64_128_batch(data)
    out = pd.Series(h1.view(np.int64), index=s.index, dtype="Int64")
    return out.mask(s.isna())


def prepare_frame(
    pdf: pd.DataFrame, url_col: str, base_col: str | None
) -> pd.DataFrame:
    """One batch in, prepared batch out (invalid URLs dropped): the six
    prepared columns followed by every input column except url/base."""
    bases = pdf[base_col] if base_col else None
    canon = canonicalize_series(pdf[url_col], bases)
    keep = pdf.drop(columns=[c for c in (url_col, base_col) if c])
    ok = canon.notna()
    canon = canon[ok]
    keep = keep[ok]
    host = host_of_series(canon)
    pld = pld_series(host)
    out = pd.DataFrame(
        {
            "url": canon.astype("object"),
            "url_hash": murmur3_64_reference(canon),
            "host": host.astype("object"),
            "host_hash": murmur3_64_reference(host),
            "pld": pld.astype("object"),
            "pld_hash": murmur3_64_reference(pld),
        },
        index=canon.index,
    )
    return pd.concat([out, keep], axis=1)
