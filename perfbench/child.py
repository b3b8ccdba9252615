"""One workload run in a fresh process (started by ``run.py``).

Starts the session, runs the workload, and writes the result object to
``--out``. ``setup_s`` runs from ``--t0`` (the launcher's wall clock
when it spawned this process) until the session has run a first job.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import uuid

from perfbench.common import Context, peak_rss_mb
from perfbench.trace import Tracer

MODULES = {
    "backfill_rest": "perfbench.wl_backfill",
    "lake_cdc": "perfbench.wl_lake",
    "verify_queries": "perfbench.wl_verify",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(args.root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workdir = os.getcwd()
    tracer = Tracer(f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}", bool(args.trace))

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        from qb_data_pipeline_backfill_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.local.dir": os.path.join(workdir, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # -Xms at the default 1g driver heap: the heap does not
                # resize mid-run, so peak RSS does not hinge on when G1
                # decides to grow it
                "spark.driver.extraJavaOptions": (
                    f"-Xms1g -Djava.io.tmpdir={os.path.join(workdir, 'tmp')} "
                    f"-Dderby.system.home={workdir}"
                ),
            },
        )
        spark.range(1000).selectExpr("sum(id)").collect()
    setup_s = time.time() - args.t0
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    ctx = Context(spark, args.seed, args.seconds, workdir, tracer)
    t1 = time.perf_counter()
    try:
        e2e, layer = importlib.import_module(MODULES[args.workload]).run(ctx)
        rss = peak_rss_mb()
    finally:
        spark.stop()
    print(
        f"{args.workload} seed {args.seed}: setup {setup_s:.1f} s, "
        f"workload {time.perf_counter() - t1:.1f} s",
        file=sys.stderr,
    )

    if args.trace:
        layer["session.start_s"] = session_start_s
        specs = bench["per_layer"]
        # a layer this workload bypasses did no work and spent no time
        values = {m["name"]: float(layer.get(m["name"], 0.0)) for m in specs}
        tracer.dump(os.path.join(workdir, "trace.json"))
    else:
        e2e.update(setup_s=setup_s, peak_rss_mb=rss)
        specs = bench["end_to_end"]
        values = {m["name"]: float(e2e[m["name"]]) for m in specs}
    ops = ctx.ops
    result = {
        "correct": ops.failed == 0 and ops.attempted > 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs
        },
    }
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
