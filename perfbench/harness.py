"""Closed-loop operation recorder shared by the workloads.

One client issues one operation at a time and waits for its reply. Each
operation is timed around the program call only; its output is checked
after the timer stops. An operation that raises or returns a wrong
answer counts as failed and its latency is left out of the percentiles.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

SETUP_REPS = 2  # set-ups per run; setup_s takes their median (mean of the two)


@dataclass
class Sample:
    kind: str
    latency_s: float
    ok: bool


@dataclass
class Recorder:
    tracer: object | None = None
    layer: str = "engine"
    samples: list[Sample] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)

    def run(self, kind: str, call: Callable[[], object],
            check: Callable[[object], bool]) -> object:
        """Time ``call()``, then check its result with ``check``."""
        op_id = len(self.samples)
        out, ok = None, True
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.op(op_id, f"{self.layer}.{kind}", self.layer):
                    out = call()
            else:
                out = call()
        except Exception:
            ok = False
            self.errors.append(f"{kind}: {traceback.format_exc()}")
        latency = time.perf_counter() - t0
        if ok:
            try:
                ok = bool(check(out))
            except Exception:
                ok = False
                self.errors.append(f"{kind} check: {traceback.format_exc()}")
            else:
                if not ok:
                    self.errors.append(f"{kind}: wrong result")
        self.samples.append(Sample(kind, latency, ok))
        return out

    @property
    def attempted(self) -> int:
        return len(self.samples)

    @property
    def failed(self) -> int:
        return sum(not s.ok for s in self.samples)

    def latencies_ms(self, kinds: set[str] | None = None,
                     failed_too: bool = False) -> list[float]:
        return [
            s.latency_s * 1e3
            for s in self.samples
            if (s.ok or failed_too) and (kinds is None or s.kind in kinds)
        ]

    def report_errors(self, limit: int = 5) -> None:
        for e in self.errors[:limit]:
            print(f"error: {e}", file=sys.stderr)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            p = os.path.join(dirpath, name)
            out[p] = os.path.getsize(p)
    return out


def run_cycles(seconds: float, cycle: Callable[[int], None]) -> float:
    """Call ``cycle(i)`` for i = 0, 1, ... while the time left exceeds
    half of the last cycle, so a run measures whole cycles of the
    operation mix for about ``seconds`` (at least one). Returns the wall
    time."""
    t0 = time.perf_counter()
    i, last = 0, 0.0
    while i == 0 or time.perf_counter() - t0 + last / 2 < seconds:
        c0 = time.perf_counter()
        cycle(i)
        last = time.perf_counter() - c0
        i += 1
    return time.perf_counter() - t0
