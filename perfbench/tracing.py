"""In-memory span tracer and the trace math the benchmark reports.

The tracer wraps the public functions and methods of the library's
layer modules from outside (the library itself is not modified): every
call records a span with its name, layer, start, end, parent span and
the id of the benchmark operation (pipeline run, HTTP request, query or
stream drain) it belongs to. Spans stay in memory until ``write``.

Pure helpers below (``percentile_rule``, ``self_times``,
``check_metric_name``) are exercised by ``selftest.py`` on a recorded
trace.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import math
import re
import sys
import threading
import time
from typing import Any, Callable, Iterable

PACKAGE = "automated_data_pipeline_spark"

# layer name -> modules whose public functions/classes belong to it
LAYER_MODULES = {
    "sources": ["sources.files"],
    "stages": ["operators.stages"],
    "runner": ["runner"],
    "upsert": ["operators.upsert"],
    "control": ["control"],
    "api": ["api"],
    "http_api": ["http_api"],
    "llm_operators": [
        "operators.dedup", "operators.retrieval", "operators.similarity",
        "operators.bpe", "operators.spans", "operators.sampling",
        "operators.quality", "operators.sketches", "operators.index_lifecycle",
    ],
    "streaming": [
        "streaming.incremental_dedup", "streaming.incremental_lsh",
        "streaming.incremental_segments", "streaming.decontamination",
        "streaming.ann_ingest", "streaming.stateful", "streaming.kn_stream",
    ],
    "suite": ["suite.llm", "suite.curation", "suite.extra", "suite.round5",
              "suite.round5b", "suite.round6", "suite.round7", "suite.round8",
              "suite.round9", "suite.round10", "suite.round11",
              "suite.round12", "suite.round13"],
}
# classes that live in one module but belong to another layer: the
# target tables are the upsert seam even though runner.py defines them
CLASS_LAYER = {"TargetTable": "upsert", "DeltaTargetTable": "upsert"}
LAYERS = list(LAYER_MODULES)

_NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def check_metric_name(name: str) -> str:
    """Metric names are ``[A-Za-z0-9_.-]+``, start with a letter or a
    digit and are at most 64 characters; anything else raises."""
    if (
        not isinstance(name, str)
        or not _NAME_RE.fullmatch(name)
        or not name[0].isalnum()
        or len(name) > 64
    ):
        raise ValueError(f"bad metric name {name!r}")
    return name


PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def nearest_rank(sorted_values: list[float], p: float) -> tuple[int, float]:
    """1-based nearest-rank index and value of percentile ``p``."""
    n = len(sorted_values)
    k = max(1, math.ceil(p / 100.0 * n))
    return k, sorted_values[k - 1]


def percentile_rule(values: Iterable[float], min_beyond: int = 10):
    """The highest percentile of ``PERCENTILE_LADDER`` that has at least
    ``min_beyond`` samples beyond it (nearest-rank). Returns
    ``(p, value, n)``, or ``(None, None, n)`` when even the median has
    fewer than ``min_beyond`` samples above it."""
    xs = sorted(values)
    n = len(xs)
    best = (None, None, n)
    for p in PERCENTILE_LADDER:
        if n == 0:
            break
        k, v = nearest_rank(xs, p)
        if n - k >= min_beyond:
            best = (p, v, n)
    return best


def median(values: Iterable[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def geomean(values: Iterable[float]) -> float:
    """Geometric mean: unlike the median of a mixed list of operations,
    it does not jump when two different operations trade places in the
    middle of the order."""
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def span_p50_ms(spans: list[dict[str, Any]], name: str) -> float:
    """Median duration (ms) of the spans called ``name``; 0 if none."""
    d = [s["end"] - s["start"] for s in spans if s["name"] == name]
    return median(d) * 1000 if d else 0.0


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``
    (overlapping intervals are counted once)."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict[str, Any]]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its
    interval covered by its children. Children may overlap each other
    (concurrent jobs, callback threads); the union is subtracted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def layer_self_times(spans: list[dict[str, Any]]) -> dict[str, float]:
    """Summed self time (seconds) per layer."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


class Tracer:
    """Span recorder. ``install()`` wraps the layer modules; ``op()``
    opens the root span of one benchmark operation."""

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[dict[str, Any]] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._global_root: tuple[int, str] | None = None
        self._patches: list[tuple[Any, str, Any]] = []
        self.span_cost_s = 0.0

    # -- span recording ---------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _context(self) -> tuple[int | None, str | None]:
        """(parent span id, op id) for a span opened on this thread:
        the innermost open span of this thread, else this thread's op
        root, else the process-wide current op (foreachBatch callbacks
        run on a py4j thread that has no stack of its own)."""
        st = self._stack()
        root = getattr(self._local, "root", None) or self._global_root
        op_id = root[1] if root else None
        if st:
            return st[-1], op_id
        return (root[0] if root else None), op_id

    def _record(self, name, layer, start, end, parent, op_id, sid) -> None:
        with self._lock:
            self.spans.append({
                "id": sid, "name": name, "layer": layer, "start": start,
                "end": end, "parent": parent, "op": op_id,
                "thread": threading.get_ident(),
            })

    def call(self, name: str, layer: str, fn: Callable, *args, **kwargs):
        parent, op_id = self._context()
        sid = next(self._ids)
        st = self._stack()
        st.append(sid)
        start = self.clock()
        try:
            return fn(*args, **kwargs)
        finally:
            end = self.clock()
            st.pop()
            self._record(name, layer, start, end, parent, op_id, sid)

    class _Op:
        def __init__(self, tracer: "Tracer", op_id: str, name: str, thread_local: bool):
            self.t, self.op_id, self.name, self.local = tracer, op_id, name, thread_local

        def __enter__(self):
            t = self.t
            self.sid = next(t._ids)
            self.start = t.clock()
            if self.local:
                t._local.root = (self.sid, self.op_id)
            else:
                t._global_root = (self.sid, self.op_id)
            t._stack().append(self.sid)
            return self

        def __exit__(self, *exc):
            t = self.t
            end = t.clock()
            t._stack().pop()
            if self.local:
                t._local.root = None
            else:
                t._global_root = None
            t._record(self.name, "benchmark", self.start, end, None, self.op_id, self.sid)
            return False

    def op(self, op_id: str, name: str, thread_local: bool = False) -> "_Op":
        """Root span of one benchmark operation. ``thread_local`` ops
        (a background writer thread) do not adopt spans from other
        threads."""
        return Tracer._Op(self, op_id, name, thread_local)

    def measure_span_cost(self, calls: int = 20_000, reps: int = 5) -> float:
        """Seconds one span adds to a call: a wrapped no-op minus the bare
        no-op, median of ``reps`` batches of ``calls``. Uses a scratch
        tracer, so no spans are added here. Stored in ``span_cost_s``."""
        probe = Tracer(self.clock)

        def noop():
            return None

        wrapped = probe._wrap(noop, "probe", "probe")
        costs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for _ in range(calls):
                noop()
            t1 = time.perf_counter()
            for _ in range(calls):
                wrapped()
            t2 = time.perf_counter()
            costs.append(((t2 - t1) - (t1 - t0)) / calls)
            probe.spans.clear()
        self.span_cost_s = max(0.0, median(costs))
        return self.span_cost_s

    # -- wrapping ---------------------------------------------------------
    def _wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(name, layer, fn, *args, **kwargs)

        return traced

    def install(self, layer_modules: dict[str, list[str]] = LAYER_MODULES) -> int:
        """Wrap every public function and public method defined in the
        layer modules, and rebind every reference to them held by the
        package's loaded modules (``from x import f`` copies). Returns
        the number of wrapped callables."""
        import importlib

        replaced: dict[int, Callable] = {}
        for layer, mods in layer_modules.items():
            for short in mods:
                mod = importlib.import_module(f"{PACKAGE}.{short}")
                for attr, val in list(vars(mod).items()):
                    if attr.startswith("_"):
                        continue
                    if inspect.isfunction(val) and val.__module__ == mod.__name__:
                        w = self._wrap(val, f"{short}.{attr}", layer)
                        self._patch(mod, attr, w)
                        replaced[id(val)] = (val, w)
                    elif inspect.isclass(val) and val.__module__ == mod.__name__:
                        cls_layer = CLASS_LAYER.get(attr, layer)
                        for m, fn in list(vars(val).items()):
                            if m.startswith("_") or not inspect.isfunction(fn):
                                continue
                            w = self._wrap(fn, f"{short}.{attr}.{m}", cls_layer)
                            self._patch(val, m, w)
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(PACKAGE) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = replaced.get(id(val))
                if hit is not None and hit[0] is val:
                    self._patch(mod, attr, hit[1])
        return len(self._patches)

    def _patch(self, owner: Any, attr: str, new: Any) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)

    def write(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            json.dump({"spans": spans}, f)
