"""Session plumbing: the worker daemon that skips re-reading unchanged
archives (plans/pydaemon.py), and that ``build_session`` runs it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from solarpos_spark.plans import pydaemon

_MOD = "pydaemon_probe_mod"


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{_MOD}.py", f"VALUE = {value}\n")


def test_archive_reread_only_when_changed(tmp_path, monkeypatch):
    """Two cache invalidations read an unchanged archive's directory at
    most once; a rewritten archive is read again and a fresh import sees
    its new content."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, "1")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, _MOD, raising=False)
    assert importlib.import_module(_MOD).VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    # undo restores CPython's method after install() replaces it
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    pydaemon.install()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) <= 1

    _write_zip(archive, "22")  # new content, new size
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    del sys.modules[_MOD]
    assert importlib.import_module(_MOD).VALUE == 22


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12+ re-reads archives lazily; no patch")
def test_session_workers_run_under_daemon(spark):
    """The session's Python workers are forked by pydaemon, so they carry
    its ``invalidate_caches`` (a conf that stops applying fails here)."""
    import pyarrow as pa

    def probe(batches):
        import zipimport

        for _ in batches:
            yield pa.RecordBatch.from_pylist(
                [{"m": zipimport.zipimporter.invalidate_caches.__module__}])

    (row,) = spark.range(1, numPartitions=1).mapInArrow(
        probe, "m string").collect()
    assert row.m == "solarpos_spark.plans.pydaemon"


def test_daemon_starts_outside_the_repo(tmp_path):
    """A driver run from another directory, with the package only on its
    own ``sys.path`` (as the repo's scripts set it), still gets Python
    workers: ``build_session`` puts the package root on their path."""
    root = Path(__file__).resolve().parents[1]
    code = (
        f"import sys; sys.path.insert(0, {str(root)!r})\n"
        "from solarpos_spark.plans.session import build_session\n"
        "s = build_session(cores=1)\n"
        "print(s.range(3).rdd.map(lambda r: r.id).sum())\n"
        "s.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "512m"
    res = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.split()[-1] == "3"
