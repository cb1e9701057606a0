"""The JIRLBOT_SPARK_CONF deployment hook: env-injected session confs.

Parsing is a pure function (session.parse_env_conf) so the contract is
testable without a JVM; get_spark applies the parsed dict before
extra_conf, so programmatic callers always win over the environment.
The package shipping to executors is tested with a fake SparkContext.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import zipfile
from types import SimpleNamespace

import pytest

from jirlbot_spark import session
from jirlbot_spark.session import parse_env_conf


def test_parse_basic():
    assert parse_env_conf(
        "spark.sql.parquet.compression.codec=snappy;spark.foo=1"
    ) == {"spark.sql.parquet.compression.codec": "snappy", "spark.foo": "1"}


def test_parse_whitespace_and_stray_semicolons():
    assert parse_env_conf(" a = 1 ;; b=2 ; ") == {"a": "1", "b": "2"}


def test_parse_value_containing_equals():
    # only the FIRST '=' splits: java options etc. keep their '='
    assert parse_env_conf("spark.x=-Da=b,-Dc=d") == {
        "spark.x": "-Da=b,-Dc=d"
    }


def test_parse_drops_incomplete_entries():
    # truncated env vars must not half-apply
    assert parse_env_conf("a=1;broken;=2;c=;  ;d=4") == {"a": "1", "d": "4"}


def test_parse_empty():
    assert parse_env_conf("") == {}


class _RecordingContext:
    def __init__(self):
        self.py_files: list[str] = []

    def addPyFile(self, path):
        self.py_files.append(path)


def _fake_spark():
    return SimpleNamespace(sparkContext=_RecordingContext())


def test_ship_package_replaces_a_stale_zip(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_shipped_zip", None)
    stale = tmp_path / f"jirlbot_spark_pyfiles_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("jirlbot_spark/session.py", "# an older package\n")
    spark = _fake_spark()
    session._ship_package(spark)
    session._ship_package(spark)  # a later session ships the same zip
    assert spark.sparkContext.py_files == [str(stale)] * 2
    with zipfile.ZipFile(spark.sparkContext.py_files[0]) as z:
        shipped = z.read("jirlbot_spark/session.py")
    with open(session.__file__, "rb") as f:
        assert shipped == f.read()


def test_ship_package_build_error_propagates(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_shipped_zip", None)

    def broken_write(self, *a, **kw):
        raise OSError("disk full")

    monkeypatch.setattr(zipfile.ZipFile, "write", broken_write)
    spark = _fake_spark()
    with pytest.raises(OSError, match="disk full"):
        session._ship_package(spark)
    assert spark.sparkContext.py_files == []
    assert session._shipped_zip is None


def test_ship_package_zip_removed_at_exit(tmp_path):
    # a fresh interpreter ships the package to a fake context, reports
    # the zip it built and exits: the zip must not outlive it
    code = (
        "import os, sys\n"
        "from types import SimpleNamespace\n"
        "from jirlbot_spark import session\n"
        "shipped = []\n"
        "ctx = SimpleNamespace(addPyFile=shipped.append)\n"
        "session._ship_package(SimpleNamespace(sparkContext=ctx))\n"
        "assert shipped and os.path.isfile(shipped[0])\n"
        "print(shipped[0])\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    env["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(os.path.dirname(session.__file__))]
        + [p for p in [env.get("PYTHONPATH")] if p]
    )
    done = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert done.returncode == 0, done.stderr
    zpath = done.stdout.strip().splitlines()[-1]
    assert os.path.dirname(zpath) == str(tmp_path)
    assert not os.path.exists(zpath)
    assert not list(tmp_path.glob("jirlbot_spark_pyfiles_*.zip"))
