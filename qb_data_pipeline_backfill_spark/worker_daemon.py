"""Python-worker daemon of ``get_spark`` sessions: ``pyspark.daemon``
without the per-task rescans of zip archives.

Spark calls ``importlib.invalidate_caches()`` before every Python task
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that
makes each ``zipimport.zipimporter`` re-read its archive's directory,
and a worker holds a dozen importers over ``pyspark.zip`` plus those
over the py4j zip and the spark-core jar: about 0.2 s per task. From
3.13 the importer only drops its cached directory. Here an archive is
re-read only when its ``(st_mtime_ns, st_size)`` changed since its last
read in this process, so a changed archive is still re-read. The daemon
stamps its archives before it forks, so its workers inherit the stamps.

Spark runs it as ``python -m qb_data_pipeline_backfill_spark.worker_daemon
<worker module>`` (``spark.python.daemon.module``).
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def stamped_invalidate_caches(stock):
    """A ``zipimporter.invalidate_caches`` that runs ``stock`` (the
    re-read) only for an archive whose stamp changed since its last
    re-read here. The other importers over that archive adopt the
    directory the re-read cached."""
    stamps: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None and stamps.get(self.archive, ()) == stamp:
            self._files = cached
        else:
            stamps[self.archive] = stamp
            stock(self)

    return invalidate_caches


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = stamped_invalidate_caches(
            zipimport.zipimporter.invalidate_caches
        )
        importlib.invalidate_caches()  # stamps every archive once
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
