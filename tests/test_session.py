"""Session bootstrap robustness: the package zip shipped to executor
workers is removed when the interpreter exits, and a failed shipment is
logged, not swallowed. Both run against a stand-in SparkContext, no JVM."""

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
