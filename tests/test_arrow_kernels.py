"""Equivalence: the shipped Arrow compute kernels (urls_arrow,
murmur3_64_from_arrow, prepare_urls_fused) vs the pandas oracle in
tests/urls_reference.py, whose contract the golden tables in test_urls.py
pin. Any divergence here is a correctness bug."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from jirlbot_spark.functions.hashing import murmur3_64_from_arrow
from jirlbot_spark.functions.urls_arrow import (
    canonicalize_chunk,
    canonicalize_with_host,
    host_of_chunk,
    pld_chunk,
)
from tests.test_urls import CANON_CASES, PLD_CASES
from tests.urls_reference import (
    canonicalize_series,
    host_of_series,
    murmur3_64_reference,
    pld_series,
    prepare_frame,
)

NOBASE_CASES = [c for c in CANON_CASES if c[1] == ""]


def _py(arr, i):
    v = arr[i].as_py()
    return v


def test_canonicalize_golden_nobase():
    raw = pd.Series([c[0] for c in NOBASE_CASES])
    canon, host = canonicalize_with_host(pa.array(raw))
    exp = canonicalize_series(raw)
    exp_host = host_of_series(exp)
    for i, (r, _, want) in enumerate(NOBASE_CASES):
        assert _py(canon, i) == want, (r, _py(canon, i), want)
        eh = exp_host.iloc[i]
        assert _py(host, i) == (None if pd.isna(eh) else eh)


def test_pld_golden():
    hosts = pd.Series([c[0] for c in PLD_CASES])
    got = pld_chunk(pa.array(hosts))
    for i, (h, want) in enumerate(PLD_CASES):
        assert _py(got, i) == want, (h, _py(got, i), want)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_canonicalize_fuzz_equivalence(seed):
    """Random concatenations of URL fragments: arrow ≡ pandas on every
    row (canonical string or identical rejection)."""
    rng = random.Random(seed)
    frag = [
        "http://", "HTTPS://", "", "ftp://", "a.b", "Site.COM", ":80",
        ":443", ":8080", ":", "/x/../y", "/./", "/..", "#f", "?q=1",
        "//", " ", "..", "例", "/////", "x" * 50, "_", "-", "%20", ".",
        "a..b", "/a/b/c/../../../../d", "?", "#", "http://h",
    ]
    urls = pd.Series(
        [
            "".join(rng.choice(frag) for _ in range(rng.randint(1, 8)))
            for _ in range(5000)
        ]
        + [None, "", "  "]
    )
    exp = canonicalize_series(urls)
    got, got_host = canonicalize_with_host(pa.array(urls))
    exp_host = host_of_series(exp)
    for i in range(len(urls)):
        e = exp.iloc[i]
        e = None if pd.isna(e) else e
        assert _py(got, i) == e, (urls.iloc[i], _py(got, i), e)
        eh = exp_host.iloc[i]
        eh = None if pd.isna(eh) else eh
        assert _py(got_host, i) == eh


def test_pld_fuzz_equivalence():
    rng = random.Random(17)
    lbl = ["www", "a", "b2", "example", "co", "uk", "com", "au", "x-y",
           "192", "168", "0", "1", ""]
    hosts = pd.Series(
        [
            ".".join(rng.choice(lbl) for _ in range(rng.randint(1, 5)))
            for _ in range(5000)
        ]
        + [None, "", "localhost", "192.168.0.1", "..", "a."]
    )
    exp = pld_series(hosts)
    got = pld_chunk(pa.array(hosts))
    for i in range(len(hosts)):
        e = exp.iloc[i]
        e = None if pd.isna(e) else e
        assert _py(got, i) == e, (hosts.iloc[i], _py(got, i), e)


def test_host_of_chunk_equivalence():
    urls = pd.Series(
        ["http://A.b.COM:8080/x?y#z", "https://plain.org/", "not a url",
         None, "http://h/p"]
    )
    exp = host_of_series(urls)
    got = host_of_chunk(pa.array(urls))
    for i in range(len(urls)):
        e = exp.iloc[i]
        e = None if pd.isna(e) else e
        assert _py(got, i) == e


def test_murmur3_arrow_equivalence():
    rng = random.Random(5)
    strs = [
        "", "a", "hello world", "x" * 15, "x" * 16, "x" * 17, "x" * 32,
        "y" * 33, "例例例", "http://example.com/a?q=1",
    ] + ["".join(rng.choice("abcxyz/:.?") for _ in range(rng.randint(0, 200)))
         for _ in range(2000)]
    s = pd.Series(strs)
    got = murmur3_64_from_arrow(pa.array(s))
    exp = murmur3_64_reference(s).astype("int64").to_numpy()
    assert np.array_equal(got, exp)


def test_murmur3_arrow_sliced_and_chunked():
    """Offsets handling: sliced arrays and chunked arrays hash correctly."""
    s = pd.Series([f"url-{i}-{'p' * (i % 37)}" for i in range(500)])
    full = pa.array(s)
    sliced = full.slice(100, 300)
    got = murmur3_64_from_arrow(sliced)
    exp = murmur3_64_reference(s.iloc[100:400]).astype("int64").to_numpy()
    assert np.array_equal(got, exp)
    chunked = pa.chunked_array([full.slice(0, 250), full.slice(250)])
    got2 = murmur3_64_from_arrow(chunked)
    exp2 = murmur3_64_reference(s).astype("int64").to_numpy()
    assert np.array_equal(got2, exp2)


def test_canonicalize_chunk_matches_with_host():
    raw = pa.array([c[0] for c in NOBASE_CASES])
    a = canonicalize_chunk(raw)
    b, _ = canonicalize_with_host(raw)
    assert a.equals(b)


def test_canonicalize_golden_with_bases():
    raw = pd.Series([c[0] for c in CANON_CASES])
    base = pd.Series([c[1] for c in CANON_CASES])
    got, _ = canonicalize_with_host(pa.array(raw), pa.array(base))
    for i, (r, b, want) in enumerate(CANON_CASES):
        assert _py(got, i) == want, (r, b, _py(got, i), want)


@pytest.mark.parametrize("seed", [11, 12])
def test_resolve_fuzz_equivalence(seed):
    from jirlbot_spark.functions.urls_arrow import resolve_chunk
    from tests.urls_reference import resolve_series

    rng = random.Random(seed)
    uf = ["", "/abs/x", "rel/y", "../up", "//oth.er/z", "?q=9", "#top",
          "http://abs.example/p", "a", "./.", "x?y#z", "  /sp  ",
          "mailto:x@y", "//", "?", "#"]
    bf = ["", "http://base.org/dir/page?q=1#f", "https://b.io:8080/a/b/c",
          "http://h", "notaurl", "ftp://x/y", "http://base.org",
          "http://base.org/", "https://x.y/p/"]
    urls = pd.Series([rng.choice(uf) for _ in range(8000)])
    bases = pd.Series([rng.choice(bf) for _ in range(8000)])
    exp_r = resolve_series(urls, bases)
    got_r = resolve_chunk(pa.array(urls), pa.array(bases))
    exp_c = canonicalize_series(urls, bases)
    got_c, _ = canonicalize_with_host(pa.array(urls), pa.array(bases))
    for i in range(len(urls)):
        assert _py(got_r, i) == exp_r.iloc[i], (urls.iloc[i], bases.iloc[i])
        e = exp_c.iloc[i]
        e = None if pd.isna(e) else e
        assert _py(got_c, i) == e, (urls.iloc[i], bases.iloc[i])


def test_prepare_arrow_base_path_spark(spark):
    """prepare_urls_fused with base_col (arrow resolve path) ≡ the pandas
    reference prepare_frame on relative links."""
    from jirlbot_spark.functions.prepare import prepare_urls_fused

    rows = []
    for i in range(300):
        rows.append(
            (
                ["rel/%d" % i, "/abs/%d" % i, "?q=%d" % i, "../u%d" % i,
                 "http://other%d.com/x" % (i % 9)][i % 5],
                "http://Base%d.Example.COM/dir/page" % (i % 17),
                i,
            )
        )
    pdf = pd.DataFrame(rows, columns=["url", "base", "tag"])
    a = (
        prepare_urls_fused(spark.createDataFrame(pdf), "url", "base", keep=("tag",))
        .toPandas().sort_values("tag").reset_index(drop=True)
    )
    b = (
        prepare_frame(pdf, "url", "base")
        .sort_values("tag").reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    for col in ["url", "url_hash", "host", "host_hash", "pld", "pld_hash", "tag"]:
        assert list(a[col]) == list(b[col]), col


def test_prepare_arrow_path_spark(spark):
    """prepare_urls_fused (arrow mapInArrow path, base_col=None) produces
    exactly the pandas kernel's rows for a messy frontier."""
    from jirlbot_spark.functions.prepare import prepare_urls_fused

    raws = [c[0] for c in NOBASE_CASES] + [
        f"HTTP://Sub{i % 7}.Example{i % 13}.COM:80/a/../p/{i}?x={i}#f"
        for i in range(500)
    ]
    pdf = pd.DataFrame({"url": raws, "tag": range(len(raws))})
    exp = prepare_frame(pdf.copy(), "url", None)
    df = spark.createDataFrame(pdf)
    got = (
        prepare_urls_fused(df, "url", None, keep=("tag",))
        .toPandas()
        .sort_values("tag")
        .reset_index(drop=True)
    )
    exp = exp.sort_values("tag").reset_index(drop=True)
    assert len(got) == len(exp)
    for col in ["url", "url_hash", "host", "host_hash", "pld", "pld_hash", "tag"]:
        assert list(got[col]) == list(exp[col]), col


# ---- hypothesis fuzz: arbitrary unicode text through both kernels ----

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False

if _HAVE_HYP:

    url_text = st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",),  # no lone surrogates
        ),
        max_size=80,
    )
    # dirty-heavy alphabet: forces the classes where the two regex engines
    # could diverge (control chars, %-escapes, unicode hosts, separators)
    dirty_text = st.lists(
        st.sampled_from(
            list("\t\n\r%2aAfF#?/.:~_-üÜßé日") + ["%2e", "%41", "%a", "\n#"]
        ),
        max_size=16,
    ).map("".join)
    urlish = st.one_of(
        url_text,
        st.builds(
            lambda scheme, host, rest: f"{scheme}://{host}{rest}",
            st.sampled_from(["http", "https", "HTTP", "ftp", "a+b-c."]),
            st.one_of(url_text, dirty_text),
            st.one_of(url_text, dirty_text),
        ),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(urlish, min_size=1, max_size=40))
    def test_hypothesis_canonicalize_equivalence(urls):
        s = pd.Series(urls, dtype="object")
        exp = canonicalize_series(s)
        got, got_host = canonicalize_with_host(pa.array(s, pa.string()))
        exp_host = host_of_series(exp)
        for i in range(len(s)):
            e = exp.iloc[i]
            e = None if pd.isna(e) else e
            assert got[i].as_py() == e, (urls[i], got[i].as_py(), e)
            eh = exp_host.iloc[i]
            eh = None if pd.isna(eh) else eh
            assert got_host[i].as_py() == eh

    @settings(max_examples=200, deadline=None)
    @given(st.lists(url_text, min_size=1, max_size=40))
    def test_hypothesis_murmur3_equivalence(strs):
        s = pd.Series(strs, dtype="object")
        got = murmur3_64_from_arrow(pa.array(s, pa.string()))
        exp = murmur3_64_reference(s).astype("int64").to_numpy()
        assert np.array_equal(got, exp)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(url_text, min_size=1, max_size=30))
    def test_hypothesis_pld_equivalence(hosts):
        s = pd.Series(hosts, dtype="object")
        exp = pld_series(s)
        got = pld_chunk(pa.array(s, pa.string()))
        for i in range(len(s)):
            e = exp.iloc[i]
            e = None if pd.isna(e) else e
            assert got[i].as_py() == e, (hosts[i], got[i].as_py(), e)
