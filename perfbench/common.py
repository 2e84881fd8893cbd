"""Shared pieces of the benchmark: the span tracer, the run result,
quantiles and memory readings."""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager

#: layers of the program that spans are recorded around inside the
#: measured window, by module; a span's name starts with its layer.
#: ``session`` is timed once per run (``session.build_s``), ``sources``
#: is read from ``StreamingQuery.recentProgress`` and ``spark_exec`` from
#: Spark's event log.
LAYERS = ("streaming", "firehose_sink", "operators", "storage")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile ``q`` in [0, 1] of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields.

    A span has a name (``<layer>.<what>``), a start and end on the
    monotonic clock, the id of the span open around it, the run id and
    whether it was opened inside the measured window (``measuring``).
    """

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.measuring = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "measured": self.measuring,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        """Seconds of every closed span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: each measured span's duration minus the
        part its direct children cover, summed over the layer's spans."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            if layer in out and s["measured"] and s["end"] is not None:
                out[layer] += max(0.0, s["end"] - s["start"] - child_cover.get(s["id"], 0.0))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class Result:
    """What one run reports: correctness, operation counts and metrics."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        #: metric values by name; units live in perfbench/metrics.py
        self.metrics: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        #: raw per-pass figures, printed on the context line
        self.detail: dict[str, list[float]] = {}

    def op(self, ok: bool, what: str = "") -> None:
        """Count one attempted operation; a failed one is kept with its reason."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def check(self, ok: bool, what: str) -> None:
        """A correctness check on a workload's output: failing it fails
        the run (counted as a failed operation)."""
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def put(self, name: str, value: float, samples: int | None = None) -> None:
        self.metrics[name] = float(value)
        if samples is not None:
            self.samples[name] = samples

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.attempted > 0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total
