"""The Python worker daemon keeps zipimport's directory cache until an
archive changes (hadoop_20_warehouse_spark/pydaemon.py)."""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import zipfile
import zipimport

import pytest

from hadoop_20_warehouse_spark import pydaemon

needs_eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ defers the re-read itself; the fix is a no-op there",
)


def _write_zip(path: str, value: int) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("zpkg_daemon_probe/__init__.py", "")
        zf.writestr("zpkg_daemon_probe/mod.py", f"VALUE = {value}\n")
    os.replace(tmp, path)


@needs_eager_reread
def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    for name in ("zpkg_daemon_probe", "zpkg_daemon_probe.mod"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zpkg_daemon_probe.mod").VALUE == 1

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    pydaemon.keep_zip_directories()
    pydaemon.keep_zip_directories()  # a second install changes nothing
    assert zipimport.zipimporter.invalidate_caches is pydaemon._invalidate_if_changed

    importlib.invalidate_caches()  # first sight of the archive: one read
    first = len(reads)
    assert first == 1
    importlib.invalidate_caches()  # unchanged archive: no read
    assert len(reads) == first

    _write_zip(archive, 2)
    importlib.invalidate_caches()
    assert len(reads) == first + 1
    del sys.modules["zpkg_daemon_probe.mod"]
    assert importlib.import_module("zpkg_daemon_probe.mod").VALUE == 2


@needs_eager_reread
def test_reused_worker_task_cpu_is_small(spark):
    """Each task reports its worker's CPU time at entry; the CPU spent
    between two consecutive tasks on one reused worker is one task's
    fixed cost.  Re-reading pyspark.zip's directory per zip importer
    made that 0.21-0.27 s on a 4-core host."""

    def probe(batches):
        import os
        import time
        import zipimport

        import pandas as pd

        cpu = time.process_time()
        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame(
            {"pid": [os.getpid()], "cpu": [cpu], "module": [fn.__module__]}
        )

    df = spark.range(0, 500 * 48, numPartitions=48)
    rows = (
        df.mapInPandas(probe, "pid long, cpu double, module string")
        .toPandas()
    )
    assert set(rows["module"]) == {"hadoop_20_warehouse_spark.pydaemon"}
    gaps = []
    for _pid, grp in rows.groupby("pid"):
        cpus = sorted(grp["cpu"])
        gaps += [b - a for a, b in zip(cpus, cpus[1:])]
    assert len(gaps) >= 10, rows
    assert statistics.median(gaps) < 0.1, sorted(gaps)
