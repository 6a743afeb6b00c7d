"""The zip re-read guard (opennre_spark/_worker.py): an unchanged
archive is not re-read by importlib.invalidate_caches(), a changed or
deleted one behaves as before, and a reused Python worker stops
re-reading its archives after its first task."""

import ast
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import opennre_spark  # noqa: F401  (installs the guard)

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))

pytestmark = pytest.mark.skipif(
    not (3, 10) <= sys.version_info[:2] <= (3, 11),
    reason="zipimport re-reads eagerly, and the guard exists, on 3.10/3.11 only",
)


def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    zpath = str(tmp_path / "guarded.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("guard_mod_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(zpath)
    assert importlib.import_module("guard_mod_a").X == 1

    reads = []
    inner = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return inner(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(zpath) == 0

        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("guard_mod_a.py", "X = 1\n")
            z.writestr("guard_mod_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(zpath) == 1
        assert importlib.import_module("guard_mod_b").Y == 2

        os.remove(zpath)
        importlib.invalidate_caches()
        assert zpath not in zipimport._zip_directory_cache
    finally:
        for m in ("guard_mod_a", "guard_mod_b"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(zpath, None)


_REUSED_WORKER = r"""
import os
from opennre_spark.session import get_spark

def probe(_):
    import zipimport
    from opennre_spark import _worker
    if not hasattr(zipimport, "_probe_reads"):
        zipimport._probe_reads = [0]
        inner = zipimport._read_directory
        def counting(archive):
            zipimport._probe_reads[0] += 1
            return inner(archive)
        zipimport._read_directory = counting
    yield os.getpid(), _worker.archive_reads, zipimport._probe_reads[0]

spark = get_spark("guard_probe", cores=1, shuffle_partitions=1)
sc = spark.sparkContext
rows = sc.parallelize(range(8), 8).mapPartitions(probe).collect()
spark.stop()
print(rows)
"""


def test_reused_worker_stops_rereading_archives():
    """local[1]: eight single-row tasks run in one reused worker. The
    guard's count of let-through re-reads is fixed from the first task
    on, and no later task reads any archive directory."""
    env = dict(os.environ, PYTHONPATH=REPO)
    p = subprocess.run(
        [sys.executable, "-c", _REUSED_WORKER],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    rows = ast.literal_eval(p.stdout.strip().splitlines()[-1])
    assert len(rows) == 8
    assert len({pid for pid, _, _ in rows}) == 1
    assert len({n for _, n, _ in rows}) == 1, rows
    assert [r for _, _, r in rows] == [0] * 8, rows
