"""Session bootstrap robustness: the package zip shipped to executor
workers is removed when the interpreter exits, a failed shipment is
logged, not swallowed, and the session's size defaults come from the
host. None of these starts a JVM."""

from __future__ import annotations

import glob
import logging
import os
import subprocess
import sys
import textwrap
from types import SimpleNamespace

from flink_streaming_etl_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_zip_is_removed_at_exit(tmp_path):
    script = textwrap.dedent(
        """
        import os
        from types import SimpleNamespace
        from flink_streaming_etl_spark import session

        added = []
        sc = SimpleNamespace(addPyFile=added.append)
        session._ensure_workers_can_import(SimpleNamespace(sparkContext=sc))
        assert len(added) == 1 and os.path.exists(added[0]), added
        """
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=ROOT)
    subprocess.run([sys.executable, "-c", script], env=env, check=True, cwd=ROOT)
    assert glob.glob(str(tmp_path / "fses_pkg_*.zip")) == []


def test_failed_shipment_is_logged(caplog):
    def refuse(path):
        raise OSError("read-only")

    sc = SimpleNamespace(addPyFile=refuse)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session._ensure_workers_can_import(SimpleNamespace(sparkContext=sc))
    assert "could not ship" in caplog.text
    assert not getattr(sc, "_fses_pyfile_added", False)


def test_session_defaults_come_from_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session._cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setattr(session, "_host_memory_mb", lambda: 15_000)
    assert session._driver_memory() == "9000m"
    monkeypatch.setattr(session, "_host_memory_mb", lambda: 256_000)
    assert session._driver_memory() == "32768m"
    # the env overrides win; a malformed core count falls back to the host
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert session._cpus() == 3
    assert session._driver_memory() == "5g"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "many")
    assert session._cpus() == len(os.sched_getaffinity(0))


def test_host_memory_matches_meminfo():
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    assert abs(session._host_memory_mb() - total_kb // 1024) <= 1
