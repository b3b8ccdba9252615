"""Benchmark of record for the backfill engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see BENCHMARK.json):

- ``backfill_rest``  REST extract -> validate/dedup -> idempotent load, per window
- ``lake_cdc``       keyed txn table under seeded change batches and point reads
- ``verify_queries`` the 23 round-1 verification plans, oracle-checked

Each run executes in a fresh Python process with ``PYTHONPATH`` set to
the repository root (Spark's Python workers import the program's
DataSource by module path) and ``SPARK_GRAFT_CPUS`` set to the number
of usable cores, so Spark runs at ``local[<cores>]`` with one client
thread. All scratch state lives under ``.perfbench_work/`` and is
removed after the run; traced runs keep their span file under
``.perfbench_work/traces/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json,
or with ``--trace 1`` its per-layer metrics). The exit code is 0 only
when the run completed.

Steadiness mode, ``--repeat N``, runs the workload N times with seeds
``seed .. seed+N-1`` and prints, per metric, the median and the
interquartile spread as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("backfill_rest", "lake_cdc", "verify_queries")
RUN_TIMEOUT_S = 160.0


def _session_members(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # fields: state, ppid, pgrp, session, ...; zombies are already gone
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _stop_session(sid: int, grace_s: float = 10.0) -> None:
    """Stop every process of the run's session (the child, its JVM and
    Spark's Python workers, which move to their own process group but
    stay in the session) and wait until none is left."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        pids = _session_members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    work_root = ROOT / ".perfbench_work"
    workdir = work_root / f"{workload}-s{seed}-t{trace}-p{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    (workdir / "tmp").mkdir(parents=True)
    out = workdir / "result.json"
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=str(workdir / "spark-local"),
        TMPDIR=str(workdir / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )
    cmd = [
        sys.executable, "-m", "perfbench.child",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--root", str(ROOT), "--out", str(out), "--t0", repr(time.time()),
    ]
    proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"{workload} seed {seed}: timed out after {RUN_TIMEOUT_S} s", file=sys.stderr)
        rc = None
    finally:
        _stop_session(proc.pid)
        proc.wait()
    result = json.loads(out.read_text()) if rc == 0 and out.exists() else None
    if trace and (workdir / "trace.json").exists():
        (work_root / "traces").mkdir(exist_ok=True)
        shutil.move(workdir / "trace.json", work_root / "traces" / f"{workload}-s{seed}.json")
    shutil.rmtree(workdir, ignore_errors=True)
    return result


def steadiness(args) -> int:
    """Repeat a workload over consecutive seeds; print each metric's
    median and interquartile spread (q3 - q1) / median."""
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    failed = 0
    for seed in range(args.seed, args.seed + args.repeat):
        res = run_once(args.workload, seed, args.seconds, args.trace)
        if res is None or not res["correct"]:
            failed += 1
            print(f"seed {seed}: run failed or incorrect: {res}", file=sys.stderr)
            continue
        print(f"seed {seed}: {json.dumps(res)}", file=sys.stderr)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    summary = {}
    for name, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], v[0], v[0])
        summary[name] = {
            "median": med,
            "spread": (q3 - q1) / med if med else 0.0,
            "unit": units[name],
            "n": len(v),
        }
        print(f"{name:44s} median {med:12.5f} {units[name]:6s} spread {summary[name]['spread']:.3f}",
              file=sys.stderr)
    print(json.dumps({"workload": args.workload, "runs_failed": failed, "metrics": summary}))
    return 1 if failed else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0, help="steadiness mode: number of seeds")
    args = ap.parse_args()
    if args.repeat:
        return steadiness(args)
    res = run_once(args.workload, args.seed, args.seconds, args.trace)
    if res is None:
        print(f"{args.workload}: run did not complete", file=sys.stderr)
        return 1
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
