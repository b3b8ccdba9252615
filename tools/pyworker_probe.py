"""Python-worker probe: what one trivial Python task costs in a
``get_spark`` session, and how many zip importers a worker holds.

Spark calls ``importlib.invalidate_caches()`` before every Python task.
Before CPython 3.13 each of the worker's ``zipimporter`` objects then
re-reads its archive's directory (``pyspark.zip``, the py4j zip, the
spark-core jar), unless the session's worker daemon
(``qb_data_pipeline_backfill_spark.worker_daemon``) skips the archives
that did not change. This probe is the counter for a change to the
Python-worker setup: run it on both sides of the change.

One local slot runs the tasks one after another on one reused worker,
so a pass's wall time over its task count is the per-task cost. The
first pass starts the daemon and is not timed.

Usage: python tools/pyworker_probe.py [n_tasks] [passes]
Prints one JSON line; human summary to stderr.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qb_data_pipeline_backfill_spark.session import get_spark


def _worker_facts(_):
    import sys
    import zipimport

    zips = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    ]
    fn = zipimport.zipimporter.invalidate_caches
    yield {
        "python": "%d.%d.%d" % sys.version_info[:3],
        "zip_importers": len(zips),
        "zip_archives": len({z.archive for z in zips}),
        "invalidate_caches": f"{fn.__module__}.{fn.__qualname__}",
    }


def main() -> int:
    n_tasks = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(
        "pyworker-probe",
        master="local[1]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    rdd = sc.parallelize(range(n_tasks), n_tasks).map(lambda x: x)
    rdd.count()  # starts the daemon and its worker
    walls = []
    for _ in range(passes):
        t0 = time.perf_counter()
        rdd.count()
        walls.append(time.perf_counter() - t0)
    facts = sc.parallelize([0], 1).mapPartitions(_worker_facts).first()
    wall = statistics.median(walls)
    out = {
        "n_tasks": n_tasks,
        "passes": passes,
        "pass_s": round(wall, 3),
        "task_s": round(wall / n_tasks, 4),
        **facts,
    }
    print(
        f"{n_tasks} tasks: {out['task_s'] * 1000:.1f} ms per task; a worker "
        f"holds {facts['zip_importers']} zip importers over "
        f"{facts['zip_archives']} archives; {facts['invalidate_caches']}",
        file=sys.stderr,
    )
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
