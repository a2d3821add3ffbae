"""Shared helpers: run directories, /proc readers, rig-health probes,
latency summaries and the result line every workload prints."""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent  # the checkout: pot_spark/ and tools/ live here
WORK_DIR = ROOT / ".bench_work"  # per-run scratch, removed at exit
OUT_DIR = ROOT / ".bench_out"  # traces and rig logs, kept

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """A fresh directory per run, holding every file the run writes
    (store roots, TMPDIR, Spark local dirs, warehouse, derby). Removed on
    exit, after the caller has stopped every process that used it."""

    def __init__(self, workload: str) -> None:
        WORK_DIR.mkdir(exist_ok=True)
        self.path = Path(tempfile.mkdtemp(prefix=f"{workload}-", dir=WORK_DIR))
        self.tmp = self.path / "tmp"
        self.tmp.mkdir()

    def sub(self, name: str) -> Path:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return p

    def __enter__(self) -> "RunDir":
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def proc_cpu_s(pid: int) -> float:
    """utime + stime of a process and of its waited-for children."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[0] is state (field 3); utime..cstime are fields 14..17
    return sum(int(x) for x in fields[11:15]) * _TICK_S


def proc_peak_rss_mb(pid: int) -> float:
    """Peak resident set of a process; 0 for a zombie, which has none."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    """pid and every live descendant (via /proc/*/task/*/children)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue
    return out


def tree_cpu_s(pid: int) -> float:
    total = 0.0
    for p in descendants(pid):
        try:
            total += proc_cpu_s(p)
        except FileNotFoundError:
            pass
    return total


def tree_peak_rss_mb(pid: int) -> float:
    total = 0.0
    for p in descendants(pid):
        try:
            total += proc_peak_rss_mb(p)
        except FileNotFoundError:
            pass
    return total


def dir_bytes(root: Path) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for n in files:
            try:
                total += os.lstat(os.path.join(dirpath, n)).st_size
            except FileNotFoundError:
                pass
    return total


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8])  # cpu user nice system idle iowait irq softirq steal


def calibration_ms() -> float:
    """A fixed pure-Python CPU probe: its time moves with the host, not
    with the program, so it separates rig noise from program change."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


def percentile(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    if not sorted_vals:
        raise ValueError("no samples")
    k = max(0, min(len(sorted_vals) - 1, int(-(-q * len(sorted_vals) // 1)) - 1))
    return sorted_vals[k]


def interpolated(sorted_vals: list[float], q: float) -> float:
    """Percentile of an ascending list, linear between the two samples
    around rank q * (n - 1): with few samples the p90 is not simply the
    slowest one."""
    pos = q * (len(sorted_vals) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(sorted_vals) - 1)
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (pos - lo)


def p90_supported(n: int) -> bool:
    """p90 is reported only with at least ten samples beyond it."""
    return n - int(-(-0.9 * n // 1)) >= 10


def median(vals: list[float]) -> float:
    s = sorted(vals)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


@dataclass
class Result:
    """What one invocation prints: correctness, counts and metrics."""

    attempted: int = 0
    failed: int = 0
    checks_ok: bool = True
    metrics: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)  # metric -> sample count
    problems: list = field(default_factory=list)

    def metric(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}
        self.samples[name] = n

    def problem(self, msg: str) -> None:
        if len(self.problems) < 20:
            self.problems.append(msg)

    def latency(self, prefix: str, vals_ms: list[float]) -> None:
        """p50 and p90 of a short list, interpolated between neighbouring
        samples. Every workload must report both, so a p90 with fewer than
        ten samples beyond it is still reported, with its sample count on
        stderr and in the rig log."""
        s = sorted(vals_ms)
        self.metric(f"{prefix}_p50_ms", interpolated(s, 0.5), "ms", len(s))
        self.metric(f"{prefix}_p90_ms", interpolated(s, 0.9), "ms", len(s))
        if not p90_supported(len(s)):
            self.problem(f"{prefix}_p90_ms rests on {len(s)} samples, fewer than ten beyond it")

    def latency_blocks(self, prefix: str, blocks_ms: list[list[float]]) -> None:
        """Median over blocks of each block's p50 and p90. Every KV run
        promises a p90, so a block too small to support one fails the run."""
        n = sum(len(b) for b in blocks_ms)
        blocks = [sorted(b) for b in blocks_ms]
        self.metric(f"{prefix}_p50_ms", median([percentile(b, 0.5) for b in blocks]), "ms", n)
        if all(p90_supported(len(b)) for b in blocks):
            self.metric(f"{prefix}_p90_ms", median([percentile(b, 0.9) for b in blocks]), "ms", n)
        else:
            self.problem(f"{prefix}_p90_ms: a block has too few samples for p90")
            self.checks_ok = False

    def emit(self, workload: str, seed: int, rig: dict) -> None:
        for msg in self.problems:
            print(f"problem: {msg}", file=sys.stderr)
        for name in sorted(self.metrics):
            m = self.metrics[name]
            print(
                f"{workload} {name} = {m['value']:.6g} {m['unit']}"
                f" (n={self.samples[name]})",
                file=sys.stderr,
            )
        OUT_DIR.mkdir(exist_ok=True)
        log = {
            "workload": workload,
            "seed": seed,
            "rig": rig,
            "samples": self.samples,
            "problems": self.problems,
        }
        (OUT_DIR / f"{workload}-seed{seed}-rig.json").write_text(json.dumps(log))
        print(
            json.dumps(
                {
                    "correct": self.checks_ok and self.failed == 0,
                    "attempted": self.attempted,
                    "failed": self.failed,
                    "metrics": self.metrics,
                }
            )
        )
