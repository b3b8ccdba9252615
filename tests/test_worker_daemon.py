"""The Python-worker daemon of ``get_spark`` sessions
(``worker_daemon``): a zip archive's directory is re-read only when the
archive changed, and Spark's Python tasks run under that rule."""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

from pyspark.sql import functions as F

from qb_data_pipeline_backfill_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="from 3.13 the stock importer drops its directory without a re-read",
)
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"graft_zip_a": "A = 1\n"})
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    reads: list[str] = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    invalidate = worker_daemon.stamped_invalidate_caches(
        zipimport.zipimporter.invalidate_caches
    )
    first = zipimport.zipimporter(archive)
    invalidate(first)  # the daemon's start: stamps the archive
    assert len(reads) == 2  # the importer's own read, then the stamp's
    second = zipimport.zipimporter(archive)  # from the directory cache
    for _ in range(3):
        invalidate(first)
        invalidate(second)
    assert len(reads) == 2
    assert first.find_spec("graft_zip_a") is not None

    _write_zip(archive, {"graft_zip_a": "A = 1\n", "graft_zip_b": "B = 2\n"})
    invalidate(first)
    invalidate(second)  # adopts the directory the first re-read
    assert len(reads) == 3
    for importer in (first, second):
        spec = importer.find_spec("graft_zip_b")
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        assert module.B == 2


def test_python_tasks_run_under_the_daemon(spark):
    @F.udf("string")
    def invalidate_caches_in_use(_):
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return "|".join(
            [
                "%d.%d" % sys.version_info[:2],
                fn.__module__,
                fn.__qualname__,
                fn.__code__.co_filename,
            ]
        )

    row = spark.range(1).select(invalidate_caches_in_use("id")).first()[0]
    version, module, qualname, filename = row.split("|")
    if tuple(map(int, version.split("."))) < (3, 13):
        assert qualname == "stamped_invalidate_caches.<locals>.invalidate_caches"
        assert filename.endswith(
            os.path.join("qb_data_pipeline_backfill_spark", "worker_daemon.py")
        )
    else:
        assert (module, qualname) == ("zipimport", "zipimporter.invalidate_caches")
