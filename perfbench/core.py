"""Run context shared by the workloads: the timed-operation helper, result
books, and the few outside-the-engine measurements (disk bytes, RSS)."""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from spans import Tracer


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    run_dir: str
    data_dir: str
    reads: list = field(default_factory=list)   # (label, seconds)
    writes: list = field(default_factory=list)  # (label, seconds)
    attempted: int = 0
    failed: int = 0
    measured_s: float = 0.0
    read_rate: float = 0.0  # reads/s; workloads with several clients set it
    user_bytes: int = 0
    stored_bytes: int = 0
    layer: dict = field(default_factory=dict)   # per-layer metrics a workload measures itself
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def timed(self, kind: str, label: str, fn, *args, **kwargs):
        """Run one operation under the tracer, book its latency as a read or
        a write, and count it attempted (and failed if it raises). Returns
        (ok, result)."""
        t0 = time.perf_counter()
        try:
            with self.tracer.op(self.spark, kind, label):
                result = fn(*args, **kwargs)
            ok = True
        except Exception:  # noqa: BLE001 - a failed op is a measured outcome
            traceback.print_exc(file=sys.stderr)
            result, ok = None, False
        dt = time.perf_counter() - t0
        with self._lock:
            self.attempted += 1
            if ok:
                (self.reads if kind == "read" else self.writes).append((label, dt))
            else:
                self.failed += 1
        return ok, result

    def fail(self, why: str) -> None:
        """A wrong answer found by a correctness gate."""
        print(f"perfbench: incorrect: {why}", file=sys.stderr)
        self.tracer.count("verify.mismatches")
        with self._lock:
            self.failed += 1


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss() -> None:
    """Lower this process's resident high-water mark to its current resident
    set (Linux 4.0+), so memory used before this point is not counted."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError as e:
        print(f"perfbench: cannot reset the rss high-water mark: {e}", file=sys.stderr)


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water resident set of this Python driver plus the JVM."""
    py, jvm = _hwm_kb(os.getpid()), (_hwm_kb(jvm_pid) if jvm_pid else 0)
    print(f"perfbench: peak rss python {py / 1024:.0f} MB, jvm {jvm / 1024:.0f} MB",
          file=sys.stderr)
    return (py + jvm) / 1024.0
