"""Backfill-window probe: the work one ``run_backfill`` window does on
the stub QBO server, counted per window.

Lands January into a new txn table (the first window), lands February
on the existing table, then replays February. Each window runs in its
own Spark job group, so the group's job ids are the window's Spark
jobs. The stub counts page and token requests. ``read_qbo_s`` is the
time ``read_qbo`` takes to build the scan (the token exchange and the
COUNT plan run there, on the driver). ``planners`` lists the
processes under this one that run one of Spark's Python planners
(``pyspark.sql.worker.*``), read under /proc after the window; the
REST scan should start none.

On the current code a window runs 2 Spark jobs (first window and
landing) or 3 (replay), makes 4 page requests and 1 token request at
40 records per page, and ``planners`` stays empty. Run it from a clone
of another commit to compare.

Usage: python tools/backfill_window_probe.py CUSTOMER_PARQUET [page_size]
(the stub serves the parquet's ``customer`` rows; the sf0.001 table
has 150). Prints one JSON line per window; the table path goes to
stderr.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from qb_data_pipeline_backfill_spark.operators import txn
from qb_data_pipeline_backfill_spark.pipeline import run_backfill
from qb_data_pipeline_backfill_spark.session import get_spark
from qb_data_pipeline_backfill_spark.sources import read_qbo
from qb_data_pipeline_backfill_spark.sources import stub_qbo as SQ

WINDOWS = [
    ("first", "2024-01-01", "2024-01-31"),
    ("landing", "2024-02-01", "2024-02-29"),
    ("replay", "2024-02-01", "2024-02-29"),
]


def planner_processes() -> dict[int, str]:
    """pid -> command line of each process under this one (the Spark
    JVM and its Python daemons and workers) that runs one of Spark's
    Python planners, ``pyspark.sql.worker.*``."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:  # the process ended meanwhile
            continue
        children.setdefault(ppid, []).append((int(name), cmd))
    found, todo = {}, [os.getpid()]
    while todo:
        for pid, cmd in children.get(todo.pop(), []):
            todo.append(pid)
            if "pyspark.sql.worker." in cmd:
                found[pid] = cmd.strip()
    return found


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    parquet = sys.argv[1]
    page_size = sys.argv[2] if len(sys.argv) > 2 else "40"
    spark = get_spark(
        "backfill-window-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracker = sc.statusTracker()
    srv = SQ.StubQboServer(parquet)
    target = tempfile.mkdtemp(prefix="backfill_window_probe_")
    shutil.rmtree(target)  # a new table
    print(f"table: {target}", file=sys.stderr)
    # ids below half the table fall in January, the rest in February
    half = len(srv.records) // 2
    try:
        for kind, start, end in WINDOWS:
            c0 = (srv.n_page_requests, srv.n_token_requests)
            group = f"{kind}-{start}"
            sc.setJobGroup(group, group)
            try:
                t0 = time.perf_counter()
                source = read_qbo(
                    spark,
                    base_url=srv.base_url,
                    client_id=SQ.STUB_CLIENT_ID,
                    client_secret=SQ.STUB_CLIENT_SECRET,
                    refresh_token=SQ.STUB_REFRESH_TOKEN,
                    page_pause_s="0",
                    page_size=page_size,
                )
                built = time.perf_counter() - t0
                got = run_backfill(
                    spark,
                    source,
                    target,
                    id_col="id",
                    date_col=F.when(
                        F.col("id").cast("int") < half, "2024-01-10"
                    ).otherwise("2024-02-10"),
                    window_start=start,
                    window_end=end,
                    entity_type="customers",
                    ingested_at=F.to_timestamp(F.lit("2025-01-01 00:00:00")),
                )
                took = time.perf_counter() - t0
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            print(json.dumps({
                "window": kind,
                "start": start,
                **got,
                "spark_jobs": len(tracker.getJobIdsForGroup(group)),
                "page_requests": srv.n_page_requests - c0[0],
                "token_requests": srv.n_token_requests - c0[1],
                "read_qbo_s": round(built, 4),
                "window_s": round(took, 3),
                "txn_version": txn.current_version(target),
                "planners": sorted(planner_processes().values()),
            }))
    finally:
        srv.close()
        shutil.rmtree(target, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
