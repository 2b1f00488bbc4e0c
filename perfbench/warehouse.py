"""Workload ``warehouse``: the reference dataflow and the monitoring GUI
over one seeded run history, in one process.

A pass is the ``orders_etl`` repetition (bulk load + delta runs through
``runner.PipelineRunner.run`` into a fresh copy of the warehouse) followed
by ``MIN_CYCLES`` request cycles of ``monitor_api`` (the GUI's reads over
HTTP, with the open-loop control writer beside them). Both read the same
set-up: a control store holding the seeded history of finished runs.
Its operations are the bulk load, the delta runs and the HTTP
requests of the cycles.
"""

from __future__ import annotations

import time

import tracing
from harness import Workload, calibrate
from monitor_api import MIN_CYCLES, MonitorApi
from orders_etl import OrdersEtl
from result import Result


class Warehouse(Workload):
    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.etl = OrdersEtl(work, seed)
        self.api = MonitorApi(work, seed)
        self.api_ops: list[float] = []

    def setup(self, i: int):
        took = self.api.setup(i)
        self.etl.history_dir = self.api.history_dir
        return took

    def setup_warm(self) -> None:
        self.api.setup_warm()

    def bind(self, spark) -> None:
        super().bind(spark)
        self.etl.bind(spark)
        self.api.bind(spark)

    def prepare(self) -> None:
        self.etl.prepare()

    def warm(self) -> Result:
        res = self.etl.warm()
        calibrate(self.spark)  # untimed: its codegen and Python worker
        res.merge(self.api.warm())
        return res

    def measure(self, seconds: float, tracer=None) -> Result:
        res = Result()
        self.api_ops = []
        self.etl.calibrating = self.api.calibrating = True
        t0 = time.perf_counter()
        while not res.passes or time.perf_counter() - t0 < seconds:
            etl, api = Result(), Result()
            self.etl.repetition(etl, tracer, self.etl.deltas, self.etl.expected_rows)
            self.api.repetition(api, 0.0, tracer, cycles=MIN_CYCLES)
            # the API's store is the one whose event files its reads scan
            etl.layers.pop("control.event_files", None)
            self.api_ops += api.ops
            took = sum(etl.passes) + sum(api.passes)
            for part in (etl, api):
                part.passes = []
                res.merge(part)
            res.pass_done(took)
        # the calibration after the last op
        res.calibration(calibrate(self.spark))
        self.etl.calibrating = self.api.calibrating = False
        return res

    def named_metrics(self, res: Result) -> dict:
        p, v, _ = tracing.percentile_rule(self.api_ops)
        out = res.named_medians()
        out["api_req_p50_ms"] = tracing.median(self.api_ops) * 1000
        out["api_req_tail"] = {"percentile": p, "ms": None if v is None else v * 1000}
        return out

    def span_metrics(self, spans: list[dict]) -> dict:
        out = self.api.span_metrics(spans)
        out.update(self.etl.span_metrics(spans))
        return out
