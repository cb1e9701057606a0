"""Unit tests of the benchmark's arithmetic and references (no Spark)."""

import itertools
import json
import os
import random
import statistics
import subprocess
import sys
import time

import pytest
from conftest import BENCH, ROOT

from spans import Tracer, covered
from proctree import pss_kb, tree_pss_mb
from run import _prctl_subreaper, run_members, stop_run
from stats import Outcomes, quartiles, spread, summarize
from workloads import (
    BOILERPLATE,
    SyntheticWeb,
    curate_reference,
    gen_corpus,
    jaccard_groups,
)


def test_quartiles_match_statistics_quantiles():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    q1, med, q3 = quartiles(vals)
    assert (q1, med, q3) == tuple(statistics.quantiles(vals, n=4))
    assert med == statistics.median(vals)


def test_quartiles_single_and_empty():
    assert quartiles([2.5]) == (2.5, 2.5, 2.5)
    with pytest.raises(ValueError):
        quartiles([])


def test_spread_is_iqr_over_median():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert spread(vals) == pytest.approx((q3 - q1) / med)
    assert spread([3.0, 3.0, 3.0]) == 0.0


def test_summarize_counts_samples():
    s = summarize([3.0, 1.0, 2.0])
    assert s["n"] == 3 and s["median"] == 2.0


def test_pss_counts_shared_pages_once(tmp_path):
    """Forked children share the parent's pages: the tree's PSS grows by
    far less than one parent-sized copy per child, unlike summed RSS."""
    ballast = bytearray(64 * 2**20)
    ballast[::4096] = b"x" * len(ballast[::4096])  # touch every page
    me = os.getpid()
    alone = tree_pss_mb(me)
    r, w = os.pipe()
    kids = []
    for _ in range(3):
        pid = os.fork()
        if pid == 0:  # child: hold the shared pages until the pipe closes
            os.close(w)
            os.read(r, 1)
            os._exit(0)
        kids.append(pid)
    os.close(r)
    try:
        assert all(pss_kb(pid) > 0 for pid in kids)
        assert tree_pss_mb(me) < alone + 3 * 32
    finally:
        os.close(w)
        for pid in kids:
            os.waitpid(pid, 0)
    assert pss_kb(kids[0]) == 0  # ended
    del ballast


def test_stop_run_reaches_a_process_that_left_the_group():
    # as PySpark's worker daemon does: a grandchild moves to a process
    # group of its own, then its parent is killed and it is orphaned
    _prctl_subreaper()
    leaver = ("import os, time; os.setpgid(0, 0); print(os.getpid(), "
              "flush=True); time.sleep(60)")
    proc = subprocess.Popen(
        ["sh", "-c", f'{sys.executable} -c "{leaver}" & wait'],
        stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    grandchild = int(proc.stdout.readline())
    assert os.getpgid(grandchild) != proc.pid
    assert grandchild in run_members(proc.pid)
    t = time.monotonic()
    assert stop_run(proc.pid, term_grace=0.0) == []
    assert time.monotonic() - t < 5
    proc.wait()
    assert run_members(proc.pid) == []
    assert not os.path.exists(f"/proc/{grandchild}")  # reaped, not a zombie


def test_outcomes_error_rate():
    o = Outcomes()
    o.record([])
    o.record(["wrong count"])
    o.record([])
    o.record(["raised", "and wrong"])
    assert (o.attempted, o.failed) == (4, 2)
    assert o.error_rate == 0.5
    assert o.reasons == ["wrong count", "raised", "and wrong"]
    assert Outcomes().error_rate == 1.0  # nothing attempted is no success


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3)]) == 2.0
    assert covered([(0, 2), (1, 3), (1.5, 2.5)]) == 3.0
    assert covered([(0, 10), (2, 3)]) == 10.0


def _tracer_with(spans):
    tr = Tracer("t")
    for name, start, end, parent in spans:
        with tr.span(name, parent=parent) as s:
            pass
        s.start, s.end = start, end
    return tr


def test_self_time_subtracts_union_of_children():
    tr = _tracer_with([
        ("batch", 0.0, 10.0, None),
        ("commit", 4.0, 9.0, 0),
        ("commit.a", 4.0, 8.0, 1),  # concurrent table writes overlap
        ("commit.b", 5.0, 9.0, 1),
        ("other", 1.0, 2.0, 0),
    ])
    assert tr.self_time(0) == pytest.approx(10.0 - 5.0 - 1.0)
    assert tr.self_time(1) == pytest.approx(0.0)
    assert tr.self_time(2) == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    tr = _tracer_with([("p", 0.0, 2.0, None), ("c", 1.0, 5.0, 0)])
    assert tr.self_time(0) == pytest.approx(1.0)


def test_nested_spans_get_parents_and_dump(tmp_path):
    tr = Tracer("run-1", cpu_fn=lambda: 1.0)
    with tr.span("outer"):
        with tr.span("inner", rows=3) as inner:
            pass
    assert tr.spans[1].parent == 0 and tr.spans[0].parent is None
    assert inner.counts == {"rows": 3, "cpu_s": 0.0}
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    rows = json.loads(path.read_text())
    assert [r["name"] for r in rows] == ["outer", "inner"]
    assert all(r["run_id"] == "run-1" for r in rows)
    assert rows[0]["self_s"] <= rows[0]["end"] - rows[0]["start"]


def _jaccard(a, b):
    return len(a & b) / len(a | b)


def test_jaccard_groups_equals_quadratic_definition():
    rng = random.Random(3)
    vocab = ["w%d" % i for i in range(12)]
    texts = {}
    for d in range(40):
        if d % 4 == 3:  # near copy of the previous doc
            toks = texts[d - 1].split()
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randrange(3, 25))]
        texts[d] = " ".join(toks)
    shingles = {
        d: {tuple(t.split()[i:i + 3]) for i in range(len(t.split()) - 2)}
        for d, t in texts.items()
    }
    parent = {d: d for d in texts}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in itertools.combinations(sorted(texts), 2):
        if shingles[a] and shingles[b] and _jaccard(shingles[a], shingles[b]) >= 0.5:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    assert jaccard_groups(texts, t=0.5) == {d: find(d) for d in texts}


def test_corpus_near_duplicates_are_far_from_the_threshold():
    """The corpus is built so MinHash LSH cannot miss a true pair: every
    pair at or above 0.8 is at least 0.95 (recall 1 - 1e-6 per pair)."""
    docs = gen_corpus(seed=5, b=0, n=300)
    texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
    sh = {
        d: {tuple(t.split()[i:i + 3]) for i in range(len(t.split()) - 2)}
        for d, t in texts.items()
    }
    groups = jaccard_groups(texts)
    assert len(set(groups.values())) < len(texts)  # duplicates exist
    for d in range(1, 300):
        if d % 5 == 0 or (d >= 7 and d % 7 == 0):
            src = d - 3 if d % 7 == 0 else d - 1
            assert _jaccard(sh[d], sh[src]) >= 0.95
            assert groups[d] == groups[src]


def test_curate_reference_keeps_the_first_boilerplate_line():
    # line dedup keeps a repeated line in the lowest doc id that has it,
    # so there 45 words + the 5-word boilerplate pass a 50-word gate
    rng = random.Random(3)

    def doc(n_words):
        words = [f"w{rng.randrange(10**9)}" for _ in range(n_words)]
        return " ".join(words) + "\n" + BOILERPLATE

    texts = {10: doc(45), 11: doc(45), 12: doc(50)}
    ref = curate_reference(texts, min_words=50)
    assert ref["survivors"] == {10, 11, 12}
    assert ref["kept"] == {10, 12}


def test_synthetic_web_reference():
    web = SyntheticWeb(seed=1, n_sites=10, n_paths=5)
    web.blocked_sites = {3}
    seeds = web.seeds(2)
    assert len(seeds) == 30 and web.url(3, 1) in seeds
    exp = web.expected_batches(seeds + seeds[:4], 3)  # duplicates collapse
    assert exp[0] == {"rows_in": 30, "fetched": 0, "blocked": 0}
    assert exp[1] == {"rows_in": 30, "fetched": 29, "blocked": 1}
    # batch 3 fetches the unseen canonical targets of the fetched seeds
    fetched = [u for u in seeds if u != web.url(3, 1)]
    targets = {t for u in fetched for t in web.out[u]} - set(seeds)
    blocked = {t for t in targets if web.blocked(t)}
    assert exp[2] == {"rows_in": len(targets),
                      "fetched": len(targets - blocked),
                      "blocked": len(blocked)}


def test_synthetic_web_robots_prefix():
    web = SyntheticWeb(seed=1, n_sites=10, n_paths=5)
    web.blocked_sites = {3}
    assert web.blocked("http://site3.com/p1")
    assert web.blocked("http://site3.com/p12")
    assert not web.blocked("http://site3.com/p2")
    assert not web.blocked("http://site3.com/")
    assert not web.blocked("http://site4.com/p1")


def test_benchmark_json_matches_the_harness():
    from worker import END_TO_END, PER_LAYER
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["paths"] == [os.path.basename(BENCH)]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
