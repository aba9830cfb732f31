"""The driver's exact session conditions, pinned: a VANILLA SparkSession
(plain builder — Spark-4 ANSI default ON, repo NOT on PYTHONPATH, cwd
outside the repo) must run queries() correctly. shipping.
ensure_session_ready is what makes that true: it flips ANSI off at query
time (the JVM FNV fold multiplies with intentional mod-2^64 wraparound)
and addPyFile-ships the package zip so Arrow-UDF workers can import it
(exactly what spark-submit --py-files does on a cluster).

Runs in a SUBPROCESS: the pytest session's JVM already carries the
repo's confs and PYTHONPATH, so an in-process check would silently test
the wrong conditions."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import warnings

import pytest

from otlp_wire_spark import shipping
from otlp_wire_spark.session import CODEGEN_CACHE_CONF, CODEGEN_CACHE_ENTRIES

_SCRIPT = r"""
import sys
sys.path.insert(0, "/root/repo")  # the driver imports __spark_entry__ by path
import __spark_entry__ as m
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .appName("foreign-session-probe")
    .getOrCreate()
)
qs = m.queries()
# fingerprint_fnv exercises the JVM FNV fold — wrong under ANSI unless
# ensure_session_ready flipped it off; simhash runs an Arrow UDF on
# worker processes that can only import the package via the shipped zip
r1 = qs["fingerprint_fnv"](spark, "/root/testdata/sf0.001").collect()
r2 = qs["simhash"](spark, "/root/testdata/sf0.001").collect()
assert r1 and r2, (len(r1), len(r2))
print("FOREIGN_OK", len(r1), len(r2))
spark.stop()
"""


def test_vanilla_session_runs_queries(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "FOREIGN_OK" in proc.stdout


class _StubConf:
    def __init__(self, values):
        self.values = dict(values)

    def get(self, key):
        return self.values[key]

    def set(self, key, value):
        self.values[key] = value


class _StubContext:
    def addPyFile(self, path):
        pass


class _StubSession:
    def __init__(self, codegen_entries):
        self.conf = _StubConf({CODEGEN_CACHE_CONF: str(codegen_entries)})
        self.sparkContext = _StubContext()


@pytest.mark.parametrize(
    "entries,warns", [(100, True), (CODEGEN_CACHE_ENTRIES, False)]
)
def test_small_codegen_cache_warns_once(entries, warns, tmp_path, monkeypatch):
    """A foreign session's static codegen cache cannot be raised at query
    time; below get_spark's size it gets ONE warning naming the conf (the
    per-call recompile would otherwise be silent)."""
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    session = _StubSession(entries)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        shipping.ensure_session_ready(session)
        shipping.ensure_session_ready(session)
    msgs = [str(w.message) for w in caught]
    assert len(msgs) == (1 if warns else 0), msgs
    if warns:
        assert CODEGEN_CACHE_CONF in msgs[0]
    assert session.conf.values["spark.sql.ansi.enabled"] == "false"
