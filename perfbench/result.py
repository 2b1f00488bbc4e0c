"""What one measured (or warm-up) phase of a workload produced."""

from __future__ import annotations

import sys

from tracing import geomean, median


class Result:
    def __init__(self):
        self.ops: list[float] = []  # wall seconds per operation
        # kind of operation -> (start, wall seconds) of each
        self.kinds: dict[str, list[tuple[float, float]]] = {}
        self.passes: list[float] = []  # seconds per full pass
        # (start, wall seconds) of each harness.calibrate
        self.calib: list[tuple[float, float]] = []
        self.checks = 0
        self.failures: list[str] = []
        self.layers: dict[str, list[float]] = {}
        self.named: dict[str, list[float]] = {}

    def op(self, kind: str, watch) -> None:
        """One operation of ``kind``, timed by a ``harness.Stopwatch``."""
        self.ops.append(watch.wall)
        self.kinds.setdefault(kind, []).append((watch.t0, watch.wall))

    def calibration(self, watch) -> None:
        self.calib.append((watch.t0, watch.wall))

    def kind_gmean(self, relative: bool = False) -> float:
        """Geometric mean over the kinds of operation of each kind's
        median time: each kind weighs the same however many of it ran,
        and the mean does not jump when two kinds trade places in the
        middle of the order, as the median of a mixed list does. With
        ``relative``, each op's time is first divided by the mean of the
        calibrations just before and just after it."""
        def time_of(t0, wall):
            if not relative:
                return wall
            before = [w for t, w in self.calib if t < t0][-1:]
            after = [w for t, w in self.calib if t > t0][:1]
            ref = before + after
            return wall / (sum(ref) / len(ref))

        return geomean(
            median(time_of(t0, wall) for t0, wall in v) for v in self.kinds.values()
        )

    def pass_done(self, seconds: float) -> None:
        self.passes.append(seconds)

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.checks += 1
        if not ok:
            self.failures.append(f"{what}: {detail}")
            print(f"CHECK FAILED {what}: {detail}", file=sys.stderr, flush=True)

    def fail(self, what: str, exc: BaseException) -> None:
        self.check(what, False, f"{type(exc).__name__}: {exc}")

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))

    def name(self, name: str, value: float) -> None:
        """A sample of one of the workload's named end-to-end figures
        (reported in the detail line)."""
        self.named.setdefault(name, []).append(float(value))

    def named_medians(self) -> dict[str, float]:
        return {k: median(v) for k, v in self.named.items()}

    def layer_medians(self) -> dict[str, float]:
        return {k: median(v) for k, v in self.layers.items()}

    def merge(self, other: "Result") -> None:
        self.ops += other.ops
        for k, v in other.kinds.items():
            self.kinds.setdefault(k, []).extend(v)
        self.passes += other.passes
        self.calib += other.calib
        self.checks += other.checks
        self.failures += other.failures
        for mine, theirs in ((self.layers, other.layers), (self.named, other.named)):
            for k, v in theirs.items():
                mine.setdefault(k, []).extend(v)
