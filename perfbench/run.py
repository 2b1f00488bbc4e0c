"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the library in this checkout and prints, as
the last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of BENCHMARK.json, measured untraced. With
``--trace 1`` the measurement runs with the tracer installed instead;
the metrics are the per-layer metrics (a workload reports 0 for a layer
it does not run) plus the tracing overhead, taken from the measured
cost of one span. Both metric lists,
with their units, are read from BENCHMARK.json. The line before the
result is a ``{"detail": ...}`` object with the workload's named
metrics, sample counts and any failed checks. Spans are written to
``.perfbench/trace-<workload>-<seed>.json``.

Everything the run creates lives under ``.perfbench/`` in the checkout
and is removed at exit, except the trace file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import tracing  # noqa: E402
from result import Result  # noqa: E402

SETUP_REPS = 5
WORKLOADS = {
    "warehouse": ("warehouse", "Warehouse"),
    "llm_curation": ("llm_curation", "LlmCuration"),
}


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``
    metrics, in file order."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def library_importable() -> bool:
    if harness.ROOT not in sys.path:
        sys.path.insert(1, harness.ROOT)
    try:
        import automated_data_pipeline_spark as lib
        import automated_data_pipeline_spark.runner  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the library from {harness.ROOT}: {exc}",
              file=sys.stderr)
        return False
    if not os.path.abspath(lib.__file__).startswith(harness.ROOT + os.sep):
        print(f"perfbench: imported the library from {lib.__file__}, not from "
              f"this checkout ({harness.ROOT})", file=sys.stderr)
        return False
    return True


def run(args) -> int:
    import importlib

    mod_name, cls_name = WORKLOADS[args.workload]
    work = os.path.join(harness.OUT_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    leftovers = [os.path.join(harness.ROOT, p) for p in ("spark-warehouse", "derby.log", "metastore_db")]
    preexisting = {p for p in leftovers if os.path.exists(p)}
    harness.prepare_env(work)
    spark = None
    phases = {}
    clock = time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = round(now - clock, 3)
        clock = now

    try:
        wl = getattr(importlib.import_module(mod_name), cls_name)(work, args.seed)
        wl.setup_warm()
        setups = [wl.setup(i) for i in range(1, SETUP_REPS + 1)]
        phase("setup_total_s")
        wl.before_spark()
        spark = harness.start_spark(work)
        wl.bind(spark)
        phase("spark_start_s")
        wl.prepare()
        phase("prepare_s")
        warm = wl.warm()
        phase("warm_s")
        tracer = None
        if args.trace:
            tracer = tracing.Tracer()
            wrapped = tracer.install()
            tracer.measure_span_cost()
        try:
            res = wl.measure(args.seconds, tracer)
        finally:
            if tracer:
                tracer.uninstall()
        phase("traced_measure_s" if tracer else "measure_s")
        checks = Result()
        checks.merge(warm)
        checks.merge(res)
        detail = {
            "workload": args.workload, "seed": args.seed,
            "setup_wall_s": [w.wall for w in setups], "setup_cpu_s": [w.cpu for w in setups],
            "ops": len(res.ops), "passes": len(res.passes),
            "op_p50_ms": tracing.median(res.ops) * 1000,
            "op_ms": res.kind_gmean() * 1000,
            "calib_ms": tracing.median(w for _, w in res.calib) * 1000,
            "kinds": {k: {"n": len(v), "p50_ms": tracing.median(w for _, w in v) * 1000}
                      for k, v in res.kinds.items()},
        }
        detail.update(wl.named_metrics(res))
        p, v, n = tracing.percentile_rule(res.ops)
        detail["op_tail"] = {"percentile": p, "ms": None if v is None else v * 1000, "samples": n}
        rss = harness.peak_rss_mb(spark)
        if tracer:
            os.makedirs(harness.OUT_DIR, exist_ok=True)
            trace_path = os.path.join(harness.OUT_DIR, f"trace-{args.workload}-{args.seed}.json")
            tracer.write(trace_path)
            metrics = layer_metrics(wl, res, tracer)
            detail["wrapped_callables"] = wrapped
            detail["trace_file"] = os.path.relpath(trace_path, harness.ROOT)
            detail["span_cost_us"] = tracer.span_cost_s * 1e6
        else:
            metrics = select("end_to_end", {
                "setup_s": tracing.median(w.cpu for w in setups),
                "op_rel": res.kind_gmean(relative=True),
                "peak_rss_mb": rss,
            })
        detail["peak_rss_mb"] = rss
        detail["phases"] = phases
        detail["checks"] = checks.checks
        detail["failed_checks"] = checks.failures
        attempted = max(1, checks.checks)
        detail["failed_op_share"] = len(checks.failures) / attempted
        print(json.dumps({"detail": detail}, default=float), flush=True)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove(work)
        for p in leftovers:
            if p not in preexisting:
                harness.remove(p)
    harness.emit(not checks.failures, attempted, len(checks.failures), metrics)
    return 0


def select(kind: str, vals: dict[str, float]) -> dict[str, tuple[float, str]]:
    """``vals`` as (value, unit) for every ``kind`` metric of
    BENCHMARK.json; a value not in that list is an error."""
    units = metric_units(kind)
    unknown = set(vals) - set(units)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json {kind}: {sorted(unknown)}")
    return {name: (vals[name], units[name]) for name in units}


def layer_metrics(wl, traced: Result, tracer: tracing.Tracer):
    """Per-layer metrics of the traced measurement; a layer the workload
    does not run reads 0. ``trace.overhead_share`` is the measured cost
    of one span times the spans per op, over the mean op time without
    that cost."""
    vals = dict.fromkeys(metric_units("per_layer"), 0.0)
    vals.update(traced.layer_medians())
    vals.update(wl.span_metrics(tracer.spans))
    n_ops = max(1, len(traced.ops))
    spans = [s for s in tracer.spans if s["layer"] != "benchmark"]
    per_layer = tracing.layer_self_times(spans)
    for layer in tracing.LAYERS:
        vals[f"self.{layer}_ms_per_op"] = per_layer.get(layer, 0.0) * 1000 / n_ops
    vals["trace.spans_per_op"] = len(spans) / n_ops
    cost_per_op = tracer.span_cost_s * len(spans) / n_ops
    mean_op = sum(traced.ops) / len(traced.ops)
    vals["trace.overhead_share"] = cost_per_op / (mean_op - cost_per_op)
    return select("per_layer", vals)


def main(argv=None) -> int:
    args = parse(argv if argv is not None else sys.argv[1:])
    if not library_importable():
        return 2
    t0 = time.time()
    code = run(args)
    print(f"perfbench: {args.workload} seed {args.seed} done in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main())
