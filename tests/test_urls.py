"""Golden table for URL canonicalization + PLD extraction.

Modeled on the reference's IRLbotUtilTest contract (checkAndTransformURL /
getPLDofURL); reference tree was empty at build time (SURVEY.md §0), so the
vectors encode the IRLbot-paper / RFC 3986 semantics the north rule pins.
The pandas functions are the oracle in tests/urls_reference.py; the
shipped Arrow kernels are held to the same tables here and in
test_arrow_kernels.py.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest

from jirlbot_spark.functions.urls_arrow import canonicalize_chunk
from tests.urls_reference import (
    canonicalize_series,
    host_of_series,
    murmur3_64_reference,
    pld_series,
)

REJECT = None

CANON_CASES = [
    # (raw, base, expected)
    # fixpoint %-decode (pinned contract, urls_arrow.PCT_DECODE_PHASE1
    # comment): malformed stray-% input decodes until stable so the
    # canonical form stays idempotent — '%7%45E' -> '%7EE' -> '~E'
    ("http://example.com/%7%45E", "", "http://example.com/~E"),
    ("http://example.com/%4%31x", "", "http://example.com/Ax"),
    # adversarial private-use placeholders are stripped, not decoded
    ("http://example.com/xy%41", "", "http://example.com/xyA"),
    ("http://example.com", "", "http://example.com/"),
    ("HTTP://EXAMPLE.COM/Path", "", "http://example.com/Path"),
    ("http://example.com:80/", "", "http://example.com/"),
    ("https://example.com:443/a", "", "https://example.com/a"),
    ("http://example.com:8080/a", "", "http://example.com:8080/a"),
    ("http://example.com/a#frag", "", "http://example.com/a"),
    ("http://example.com/a?q=1#frag", "", "http://example.com/a?q=1"),
    ("http://example.com/a/./b", "", "http://example.com/a/b"),
    ("http://example.com/a/../b", "", "http://example.com/b"),
    ("http://example.com/a/b/../../c", "", "http://example.com/c"),
    ("http://example.com/a/.", "", "http://example.com/a/"),
    ("  http://example.com/  ", "", "http://example.com/"),
    ("http://Example.COM./x", "", "http://example.com/x"),
    # relative resolution
    ("/abs/path", "http://base.org/dir/page", "http://base.org/abs/path"),
    ("rel/page", "http://base.org/dir/page", "http://base.org/dir/rel/page"),
    ("rel/page", "http://base.org", "http://base.org/rel/page"),
    ("../up", "http://base.org/a/b/c", "http://base.org/a/up"),
    ("//other.com/x", "https://base.org/", "https://other.com/x"),
    ("?q=2", "http://base.org/p?q=1", "http://base.org/p?q=2"),
    ("", "http://base.org/dir/page", "http://base.org/dir/page"),
    # port carried through base
    ("/x", "http://base.org:8080/a", "http://base.org:8080/x"),
    # control characters: \t \n \r stripped anywhere (WHATWG), incl. the
    # re2-vs-Python-re '$'-before-newline divergence cases (ADVICE r1)
    ("http://x.com/#a\nb", "", "http://x.com/"),
    ("http://x.com/a?q\n#f", "", "http://x.com/a?q"),
    ("http://x.com/\na", "", "http://x.com/a"),
    ("http://x\t.com/\r", "", "http://x.com/"),
    # percent-encoding normalization (RFC 3986 §6.2.2)
    ("http://x.com/a%3fb", "", "http://x.com/a%3Fb"),
    ("http://x.com/%41%62c", "", "http://x.com/Abc"),
    ("http://x.com/%7euser", "", "http://x.com/~user"),
    ("http://x.com/a%2Fb?x=%2d", "", "http://x.com/a%2Fb?x=-"),
    ("http://x.com/a/%2e%2e/b", "", "http://x.com/b"),  # decoded dot-segs
    ("http://x.com/%zz", "", "http://x.com/%zz"),  # invalid escape kept
    # IDN hosts -> punycode labels
    ("http://müller.de/x", "", "http://xn--mller-kva.de/x"),
    ("http://bücher.example.co.uk/", "", "http://xn--bcher-kva.example.co.uk/"),
    ("http://xn--mller-kva.de/x", "", "http://xn--mller-kva.de/x"),
    # rejects
    ("ftp://example.com/file", "", REJECT),
    ("mailto:a@b.com", "", REJECT),
    ("javascript:void(0)", "", REJECT),
    ("rel/only", "", REJECT),
    ("http:///nohost", "", REJECT),
    ("http://ho st.com/", "", REJECT),
    ("http://example.com/" + "x" * 3000, "", REJECT),
]

PLD_CASES = [
    ("www.example.com", "example.com"),
    ("example.com", "example.com"),
    ("a.b.c.example.com", "example.com"),
    ("www.example.co.uk", "example.co.uk"),
    ("example.co.uk", "example.co.uk"),
    ("deep.sub.example.com.au", "example.com.au"),
    ("localhost", "localhost"),
    ("192.168.0.1", "192.168.0.1"),
    ("EXAMPLE.ORG", "example.org"),
    ("trailing.dot.com.", "dot.com"),
    # --- full-PSL coverage (vendored publicsuffix.org list) ---
    # private-section suffix: github.io is itself a public suffix, so
    # every user site is its own PLD
    ("foo.github.io", "foo.github.io"),
    ("deep.foo.github.io", "foo.github.io"),
    ("github.io", "github.io"),
    # multi-label ICANN suffix with a same-name shorter rule (com.co AND co)
    ("example.com.co", "example.com.co"),
    ("x.example.com.co", "example.com.co"),
    # wildcard rule *.ck: every <label>.ck is a public suffix ...
    ("x.other.ck", "x.other.ck"),
    ("other.ck", "other.ck"),
    # ... except the !www.ck exception, which IS registrable
    ("www.ck", "www.ck"),
    ("sub.www.ck", "www.ck"),
    # wildcard with 2-label parent + exception: *.kawasaki.jp / !city.kawasaki.jp
    ("a.foo.kawasaki.jp", "a.foo.kawasaki.jp"),
    ("x.city.kawasaki.jp", "city.kawasaki.jp"),
    # 5-label exact rule (deepest in the list)
    ("vfs.cloud9.ca-central-1.amazonaws.com", "vfs.cloud9.ca-central-1.amazonaws.com"),
    ("x.vfs.cloud9.ca-central-1.amazonaws.com", "x.vfs.cloud9.ca-central-1.amazonaws.com"),
    # unicode rule stored in punycode form (рф -> xn--p1ai)
    ("xn--e1afmkfd.xn--p1ai", "xn--e1afmkfd.xn--p1ai"),
    ("sub.xn--e1afmkfd.xn--p1ai", "xn--e1afmkfd.xn--p1ai"),
]


def test_canonicalize_golden_table():
    raw = pd.Series([c[0] for c in CANON_CASES])
    base = pd.Series([c[1] for c in CANON_CASES])
    out = canonicalize_series(raw, base)
    for i, (r, b, exp) in enumerate(CANON_CASES):
        got = out.iloc[i]
        got = None if pd.isna(got) else got
        assert got == exp, f"canonicalize({r!r}, base={b!r}) = {got!r}, want {exp!r}"


def _arrow_canonicalize(urls: pd.Series, bases: pd.Series) -> list:
    return canonicalize_chunk(pa.array(urls), pa.array(bases)).to_pylist()


@pytest.mark.parametrize(
    "canonicalize",
    [canonicalize_series, _arrow_canonicalize],
    ids=["pandas", "arrow"],
)
def test_canonicalize_idempotent(canonicalize):
    """The canonical form is a fixpoint: its output is the DRUM key, so a
    second pass must not move it."""
    raw = pd.Series([c[2] for c in CANON_CASES if c[2] is not None])
    out = canonicalize(raw, pd.Series([""] * len(raw)))
    assert list(out) == list(raw)


def test_pld_golden_table():
    hosts = pd.Series([c[0] for c in PLD_CASES])
    out = pld_series(hosts)
    for i, (h, exp) in enumerate(PLD_CASES):
        assert out.iloc[i] == exp, f"pld({h!r}) = {out.iloc[i]!r}, want {exp!r}"


def test_host_extraction():
    urls = pd.Series(
        ["http://A.b.COM:8080/x?y#z", "https://plain.org/", "not a url"]
    )
    out = host_of_series(urls)
    assert out.iloc[0] == "a.b.com"
    assert out.iloc[1] == "plain.org"
    assert pd.isna(out.iloc[2])


def test_dedup_after_canonicalization():
    variants = pd.Series(
        [
            "http://example.com",
            "HTTP://example.com:80/",
            "http://EXAMPLE.com/#top",
            "http://example.com/a/../",
        ]
    )
    out = canonicalize_series(variants, pd.Series([""] * 4))
    assert out.nunique() == 1 and out.iloc[0] == "http://example.com/"


def test_spark_canonicalize_udf(spark):
    from pyspark.sql import functions as F

    from jirlbot_spark.functions.urls_arrow import (
        canonicalize_udf,
        host_udf,
        pld_udf,
    )

    df = spark.createDataFrame(
        [(c[0], c[1]) for c in CANON_CASES], ["url", "base"]
    )
    canon = canonicalize_udf(F.col("url"), F.col("base"))
    got = df.select(
        canon.alias("canon"), host_udf(canon).alias("host")
    ).collect()
    exp_host = host_of_series(pd.Series([c[2] for c in CANON_CASES]))
    for i, (row, (r, b, exp)) in enumerate(zip(got, CANON_CASES)):
        assert row.canon == exp, f"{r!r} -> {row.canon!r}, want {exp!r}"
        eh = exp_host.iloc[i]
        assert row.host == (None if pd.isna(eh) else eh), r

    df2 = spark.createDataFrame([(h,) for h, _ in PLD_CASES], ["host"])
    got2 = df2.select(pld_udf(F.col("host")).alias("pld")).collect()
    for row, (h, exp) in zip(got2, PLD_CASES):
        assert row.pld == exp


def test_fused_prepare_matches_composed(spark):
    """prepare_urls_fused ≡ composing canonicalize/host/pld/murmur."""
    from jirlbot_spark.functions.prepare import prepare_urls_fused

    raws = [c[0] for c in CANON_CASES] + [
        f"http://Site{i}.Example.COM:80/p/{i}#x" for i in range(50)
    ]
    df = spark.createDataFrame([(u, i) for i, u in enumerate(raws)], ["url", "tag"])
    got = {
        r.tag: r
        for r in prepare_urls_fused(df, "url", None, keep=("tag",)).collect()
    }
    exp_canon = canonicalize_series(pd.Series(raws), pd.Series([""] * len(raws)))
    for i, raw in enumerate(raws):
        c = exp_canon.iloc[i]
        if pd.isna(c) or CANON_CASES[i][1] != "" if i < len(CANON_CASES) else False:
            continue
        if pd.isna(c):
            assert i not in got
            continue
        if i < len(CANON_CASES) and CANON_CASES[i][1]:
            continue  # base-relative cases need the base column
        r = got.get(i)
        if r is None:
            continue
        assert r.url == c
        assert r.host == host_of_series(pd.Series([c])).iloc[0]
        assert r.pld == pld_series(pd.Series([r.host])).iloc[0]
        assert r.url_hash == int(murmur3_64_reference(pd.Series([c])).iloc[0])
