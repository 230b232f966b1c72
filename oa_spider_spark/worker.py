"""Per-process set-up for engine code that runs inside a PySpark Python worker.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
EVERY task (`worker_util.setup_spark_files`). On CPython < 3.13 each
`zipimporter` answers that by re-parsing its archive's central directory.
A local-mode worker holds 16 of them: 12 on the 3.5 MB `pyspark.zip`
(one per package directory), 2 on the spark-core jar and 2 on py4j's zip
— ~0.23 s of re-parsing per task on a 4-vCPU VM (12 × 11.5 ms +
2 × 47 ms). There a no-op 8-task `mapInArrow`
job over 2,400 rows took 0.60-0.95 s without the patch below and
0.31-0.45 s with it. CPython 3.13's `zipimport` only drops the cache
entry there, so the patch is a no-op on 3.13+.

`prepare_worker()` replaces `zipimporter.invalidate_caches` with a version
that re-reads an archive only when its `(st_mtime_ns, st_size)` changed
since the last read, and otherwise points the importer at the directory
already in `zipimport._zip_directory_cache`. It installs once per
process; the first task of a worker still pays, every later task of the
reused worker does not.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    # stamped BEFORE the read: a rewrite racing the read leaves a stale
    # stamp, which only costs one more re-read next time
    if stamp is not None:
        _stamps[self.archive] = stamp


def prepare_worker() -> None:
    """Call first in every engine function executed by a Python worker."""
    global _reread
    current = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or current is _invalidate_caches:
        return
    _reread = current
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
