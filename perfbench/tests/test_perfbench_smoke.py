"""Smoke runs of every workload at tiny size, on a real local Spark.

Each workload runs one batch and passes its output check; then the same
check is shown to fail on a deliberately wrong result. The launcher is run
end to end once, and once where the package is missing.

Run from the repository root: python -m pytest perfbench/tests -q
"""

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import BENCH, ROOT

from run import program_env
from workloads import WORKLOADS


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench") / "run")
    os.makedirs(work)
    saved = dict(os.environ)
    os.environ.update(program_env(ROOT, work, len(os.sched_getaffinity(0))))
    from jirlbot_spark.session import get_spark

    s = get_spark(app_name="perfbench-smoke")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
    os.environ.clear()
    os.environ.update(saved)


def _batch(spark, name, tmp_path):
    wl = WORKLOADS[name](spark, seed=7, small=True)
    wl.generate(str(tmp_path / "gen"))
    wl.prebuild(str(tmp_path / "pre"))
    b = wl.batches()[0]
    res = wl.run(b, str(tmp_path / "batch"))
    assert wl.check(b, res) == []
    return wl, b, res


def _duplicate_one_file(table_dir):
    f = sorted(glob.glob(os.path.join(table_dir, "**", "*.parquet"),
                         recursive=True))[-1]
    shutil.copy(f, f.replace(".parquet", "-extra.parquet"))


def test_frontier_check_catches_extra_rows(spark, tmp_path):
    wl, b, res = _batch(spark, "frontier", tmp_path)
    _duplicate_one_file(os.path.join(res["out"], "fresh"))
    assert any("fresh" in e for e in wl.check(b, res))


def test_frontier_check_catches_wrong_admission(spark, tmp_path):
    wl, b, res = _batch(spark, "frontier", tmp_path)
    wl.expect[b] = dict(wl.expect[b], admitted=wl.expect[b]["admitted"] + 1)
    assert any("admitted" in e for e in wl.check(b, res))


def test_crawl_loop_check_catches_lost_pages(spark, tmp_path):
    wl, b, res = _batch(spark, "crawl_loop", tmp_path)
    stats = dict(res["stats"], fetched=res["stats"]["fetched"] - 1)
    errors = wl.check(b, dict(res, stats=stats))
    assert any("fetched" in e for e in errors)
    assert any("rows_in" in e for e in errors)  # conservation broken too


def test_curate_check_catches_a_lost_survivor(spark, tmp_path):
    wl, b, res = _batch(spark, "curate_text", tmp_path)
    path = os.path.join(res["out"], "groups")
    g = pq.read_table(path)
    shutil.rmtree(path)
    os.makedirs(path)
    keep = g.column("keep").to_pylist()
    keep[keep.index(True)] = False
    pq.write_table(g.set_column(g.schema.get_field_index("keep"), "keep",
                                pa.array(keep)),
                   os.path.join(path, "part-0.parquet"))
    assert any("exact-Jaccard" in e for e in wl.check(b, res))


def test_traced_batch_reports_layers(spark, tmp_path):
    from spans import StatusStore, Tracer

    wl = WORKLOADS["frontier"](spark, seed=7, small=True)
    wl.generate(str(tmp_path / "gen"))
    wl.prebuild(str(tmp_path / "pre"))
    tracer = Tracer("smoke", StatusStore(spark), cpu_fn=lambda: 0.0)
    r = wl.traced(0, str(tmp_path / "traced"), tracer)
    assert wl.check(0, r["result"]) == []
    m = r["metrics"]
    assert m["dedup.wall_s"] > 0 and m["dedup.shuffle_mb"] > 0
    assert m["prepare.valid_ratio"] == 1.0
    assert 0 < m["beast.admit_ratio"] < 1


def _run_py(cwd, *args):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def test_launcher_end_to_end():
    p = _run_py(ROOT, "--workload", "frontier", "--seed", "3",
                "--seconds", "1", "--trace", "0", "--small")
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {
        "items_per_s", "cpu_s", "batch_s_p50", "peak_mem_mb", "setup_s"
    }
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_launcher_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench")
    p = _run_py(tmp_path, "--workload", "frontier", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout == ""
