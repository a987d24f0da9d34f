"""Python worker daemon that keeps zipimport's directory cache.

Every Python task (``mapInPandas`` decoders, the Avro codec, the GEMM
centroid assign, BPE, pipes) starts with
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``.  On CPython 3.11 and 3.12 that calls
``zipimport.zipimporter.invalidate_caches`` on every zip importer the
worker holds -- one per package directory imported from a zip, most of
them over the ~1,300-entry ``pyspark.zip`` -- and each call re-reads
its archive's whole central directory at once.  On a reused worker
that fixed cost dominated a small task: a no-op ``mapInPandas`` over
500 rows spent about 0.2 s of CPU per task in
``zipimport._read_directory``.

``keep_zip_directories`` swaps in an ``invalidate_caches`` that
re-reads an archive only when it changed on disk since its last read
(inode, mtime, size) or is missing from the shared directory cache;
otherwise the importer points at the cached directory.  CPython 3.13
already defers the re-read to the next lookup, so there it does
nothing.

Run as ``python -m hadoop_20_warehouse_spark.pydaemon pyspark.worker``
(``spark.python.daemon.module``, set by ``session.get_session`` for
local masters): the fix is installed, then ``pyspark.daemon.manager``
runs, and every forked worker inherits it.  The reference's Streaming
tasks paid their external-process start per task
(``streaming/PipeMapRed.java``); this keeps the per-task cost of the
Python analog down to a few ``stat`` calls.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ORIGINAL_INVALIDATE = zipimport.zipimporter.invalidate_caches
# archive path -> (st_ino, st_mtime_ns, st_size) at its last read
_READ_STAT: dict[str, tuple[int, int, int]] = {}


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _ORIGINAL_INVALIDATE(self)
        return
    stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _READ_STAT.get(self.archive) != stamp:
        _ORIGINAL_INVALIDATE(self)
        _READ_STAT[self.archive] = stamp
    else:
        self._files = files


def keep_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed on disk.  No-op on CPython 3.13+ and when already
    installed."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    import pyspark.daemon

    # Install through the package module, not this ``__main__`` copy, so
    # workers see one module and one original method.
    from hadoop_20_warehouse_spark.pydaemon import keep_zip_directories as _keep

    _keep()
    pyspark.daemon.manager()
