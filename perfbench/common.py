"""Run context, operation accounting and small measurement helpers."""

from __future__ import annotations

import math
import os
import sys
import traceback
from dataclasses import dataclass, field

from perfbench.trace import Tracer


@dataclass
class Ops:
    """Operations attempted and failed (raised, or disagreed with the
    expected-result model)."""

    attempted: int = 0
    failed: int = 0

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"WRONG {what}: {detail}", file=sys.stderr)
        return ok

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"ERROR {what}:\n{traceback.format_exc()}", file=sys.stderr)


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    workdir: str
    tracer: Tracer
    ops: Ops = field(default_factory=Ops)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)


def rounds(seconds: float, round_s: float, multiple: int = 1) -> int:
    """How many rounds of work fill about ``seconds`` on a 4-core host,
    where one round takes about ``round_s``; at least one, and a
    multiple of ``multiple``. The work per run is fixed by the
    arguments, so two versions of the program do the same work and a
    faster one does not change the mix it is measured on."""
    n = max(1, round(seconds / (round_s * multiple)))
    return n * multiple


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, min(len(s) - 1, math.ceil(len(s) * q / 100) - 1))]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for n in files:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except FileNotFoundError:
                pass  # a file vacuumed while walking
    return total


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(name))
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this (driver) Python process plus the JVM
    it launched, from the kernel's high-water marks."""
    me = os.getpid()
    total_kb = _status_kb(me, "VmHWM")
    for pid in _children(me):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except FileNotFoundError:
            continue
        if comm == "java":
            total_kb += _status_kb(pid, "VmHWM")
    return total_kb / 1024.0
