"""The session's Python-worker contract.

- ``worker_daemon`` keeps zip importers from re-reading an unchanged
  archive on every task, and still sees an archive that changed.
- Python workers run ``worker_daemon`` and can import it whatever the
  driver's working directory and ``PYTHONPATH``.
- A JVM-only run (catalog warm-up, the example specs, TPC-H q9) starts
  no Python process at all.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from elevate_data_pipeline_spark import worker_daemon

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def patched_zipimport(monkeypatch):
    """``worker_daemon.install()`` in this process, undone afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    worker_daemon.install()


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_zip_archive_reread_only_when_changed(tmp_path, monkeypatch, patched_zipimport):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"edp_zip_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("edp_zip_a").X == 1
    importlib.invalidate_caches()  # the archive's new importer reads once

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport,
        "_read_directory",
        lambda p: (reads.append(p) if p == str(archive) else None) or real(p),
    )
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []

    # rewritten with a new member (new size and mtime): read again
    _write_zip(archive, {"edp_zip_a.py": "X = 1\n", "edp_zip_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("edp_zip_b").Y == 2
    for name in ("edp_zip_a", "edp_zip_b"):
        sys.modules.pop(name)


def test_workers_run_engine_daemon(spark):
    """The daemon runs as ``__main__``, so compare by qualified name."""

    def which(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__qualname__

    got = spark.sparkContext.parallelize([0], 1).map(which).collect()
    assert got == [worker_daemon.invalidate_if_changed.__qualname__]


_SUBPROCESS_RUN = r"""
import glob, json, os, sys, threading

repo, sf_dir = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from elevate_data_pipeline_spark.cli import main
from elevate_data_pipeline_spark.queries import QUERIES
from elevate_data_pipeline_spark.session import get_spark
from elevate_data_pipeline_spark.sources import Catalog

def python_procs():
    children = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    found, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm.startswith("python"):
            found.append(pid)
    return found

spark = get_spark("session-test")
Catalog(spark, sf_dir)
for t in threading.enumerate():
    if t.name == "edp-warmup":
        t.join(timeout=300)
        assert not t.is_alive()
out = os.getcwd()
for spec in sorted(glob.glob(os.path.join(repo, "examples", "*.json"))):
    dest = os.path.join(out, os.path.basename(spec)[:-5])
    assert main(["run", "--spec", spec, "--data", sf_dir, "--out", dest]) == 0
q9_rows = QUERIES["q9_product_profit"](spark, sf_dir).count()
jvm_only = len(python_procs())
squares = spark.sparkContext.parallelize(range(10), 2).map(lambda x: x * x).sum()
print(json.dumps({"jvm_only_python_procs": jvm_only, "q9_rows": q9_rows,
                  "squares": squares}))
"""


@pytest.fixture(scope="module")
def subprocess_run(tmp_path_factory):
    """One driver started from ``/tmp`` with ``PYTHONPATH`` unset."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    proc = subprocess.run(
        [sys.executable, "-c", _SUBPROCESS_RUN, REPO, SF_DIR],
        cwd=str(tmp_path_factory.mktemp("cwd")),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_jvm_only_run_starts_no_python_process(subprocess_run):
    assert subprocess_run["q9_rows"] > 0
    assert subprocess_run["jvm_only_python_procs"] == 0


def test_python_stage_runs_outside_the_repo(subprocess_run):
    assert subprocess_run["squares"] == sum(x * x for x in range(10))


def test_driver_memory_is_half_of_memtotal_capped_at_16g():
    from elevate_data_pipeline_spark.session import driver_memory

    box = "MemTotal:       15728640 kB\nMemFree:        14000000 kB\n"
    assert driver_memory(box) == "7680m"
    assert driver_memory("MemTotal: 268435456 kB\n") == "16384m"
    assert driver_memory("MemFree: 1024 kB\n") == "16g"
