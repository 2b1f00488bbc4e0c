"""The ``orders_etl`` half of the ``warehouse`` workload: the reference
dataflow through ``runner.PipelineRunner.run``.

A repetition copies the seeded warehouse (a control store holding a
history of finished runs) to a fresh directory, bulk-loads the orders
CSV, then runs delta CSVs of which about half the keys update existing
orders. The bulk load's work sits in ``sources.files`` +
``operators.stages`` + the stage writes; the deltas' in
``operators.upsert``/``runner.TargetTable`` (whole-target rewrite) and
the control store.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

import history
import inputs
import tracing
from harness import Stopwatch, Workload, dir_bytes
from result import Result

N_BULK = 30_000
N_DELTA = 5_000
N_DELTAS = 2

class OrdersEtl(Workload):
    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.history_dir = None
        self.n_rep = 0
        self.rng = inputs.rng_for(seed, "run-ids")
        self.delta_ids: set[str] = set()

    def prepare(self) -> None:
        """Input CSVs: the bulk file and the delta files at seeded key
        offsets (untimed)."""
        inp = os.path.join(self.work, "inputs")
        self.bulk_csv = os.path.join(inp, "bulk")
        self.bulk_bytes = inputs.write_orders_csv(N_BULK, self.bulk_csv)
        offsets, self.expected_rows = inputs.delta_offsets(self.seed, N_BULK, N_DELTA, N_DELTAS)
        self.deltas = []
        for k, off in enumerate(offsets):
            path = os.path.join(inp, f"delta{k}")
            self.deltas.append((path, inputs.write_orders_csv(N_DELTA, path, off)))
        self.warm_expected = inputs.delta_offsets(self.seed, N_BULK, N_DELTA, 1)[1]

    def warm(self) -> Result:
        """Untimed bulk load + the first delta: codegen and JIT warm-up,
        checked like a measured repetition."""
        res = Result()
        self.repetition(res, None, self.deltas[:1], self.warm_expected)
        return res

    def _run(self, runner, csv: str, tracer, rid: str) -> Stopwatch:
        ctx = tracer.op(rid, "pipeline_run") if tracer else nullcontext()
        with ctx, Stopwatch() as watch:
            runner.run(source_path=csv, pipeline_name="OrdersPipeline", run_id=rid)
        return watch

    def repetition(self, res: Result, tracer, deltas, expected_rows: int) -> None:
        from automated_data_pipeline_spark.runner import PipelineRunner

        self.n_rep += 1
        wh = os.path.join(self.work, f"warehouse{self.n_rep}")
        shutil.copytree(self.history_dir, wh)
        try:
            runner = PipelineRunner(self.spark, wh)
            inputs_rows = {}
            walls = {}
            rid = inputs.seeded_uuid(self.rng)
            self.before_op(res)
            watch = self._run(runner, self.bulk_csv, tracer, rid)
            walls[rid] = bulk_t = watch.wall
            res.op("bulk", watch)
            inputs_rows[rid] = N_BULK
            bulk_id = rid
            res.name("etl_bulk_rows_per_s", N_BULK / bulk_t)
            total = bulk_t
            delta_ids = []
            for path, nbytes in deltas:
                rid = inputs.seeded_uuid(self.rng)
                self.before_op(res)
                watch = self._run(runner, path, tracer, rid)
                walls[rid] = t = watch.wall
                inputs_rows[rid] = N_DELTA
                delta_ids.append(rid)
                self.delta_ids.add(rid)
                res.op("delta", watch)
                total += t
                if tracer:
                    res.layer("target.bytes_written_per_input_byte",
                              _version_bytes(runner) / nbytes)
            res.pass_done(total)
            res.name("etl_delta_run_p50_s", tracing.median([walls[r] for r in delta_ids]))
            self._check(res, runner, inputs_rows, expected_rows)
            if tracer:
                self._layers(res, runner, wh, bulk_id, delta_ids, walls)
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def _steps(self, runner, run_ids) -> dict[str, list]:
        from pyspark.sql import functions as F

        rows = (
            runner.control.steps(self.spark)
            .filter(F.col("run_id").isin(list(run_ids)))
            .select("run_id", "step_number", "status", "rows_affected",
                    "started_at", "finished_at")
            .collect()
        )
        out: dict[str, list] = {r: [] for r in run_ids}
        for r in rows:
            out[r["run_id"]].append(r)
        return out

    def _check(self, res: Result, runner, inputs_rows: dict[str, int], expected_rows: int) -> None:
        n = runner.target.read(self.spark).count()
        res.check("target rows", n == expected_rows, f"{n} rows, expected {expected_rows}")
        self._step_rows = self._steps(runner, inputs_rows)
        for rid, steps in self._step_rows.items():
            ok = len(steps) == 4 and all(
                s["status"] == "Success" and s["rows_affected"] == inputs_rows[rid]
                for s in steps
            )
            res.check(f"run {rid} steps", ok,
                      f"{[(s['step_number'], s['status'], s['rows_affected']) for s in steps]}")

    def _layers(self, res: Result, runner, wh: str, bulk_id, delta_ids, walls) -> None:
        names = ("pull", "extract", "transform", "migrate")

        def step_s(rid):
            out = {}
            for s in self._step_rows[rid]:
                out[names[s["step_number"] - 1]] = (s["finished_at"] - s["started_at"]).total_seconds()
            return out

        for k, v in step_s(bulk_id).items():
            res.layer(f"runner.bulk.{k}_s", v)
        res.layer("runner.bulk.jobs", len(self.jobs.group(bulk_id)))
        for rid in delta_ids:
            steps = step_s(rid)
            for k, v in steps.items():
                res.layer(f"runner.delta.{k}_s", v)
            res.layer("runner.delta.outside_steps_s", walls[rid] - sum(steps.values()))
            jobs = self.jobs.group(rid)
            res.layer("runner.delta.jobs", len(jobs))
            res.layer("runner.delta.tasks", self.jobs.tasks(jobs))
        latest = _version_bytes(runner)
        res.layer("target.bytes_per_live_byte", dir_bytes(runner.target.path) / latest)
        res.layer("control.event_files", history.control_event_files(wh))

    def span_metrics(self, spans: list[dict]) -> dict:
        out = history.control_span_metrics(spans)
        deltas = [s for s in spans if s["op"] in self.delta_ids]
        out["upsert.merge_upsert_s"] = (
            tracing.span_p50_ms(deltas, "runner.TargetTable.merge_upsert") / 1000
        )
        return out


def _version_bytes(runner) -> int | None:
    v = runner.target.latest_version()
    if v is None:
        return None
    return dir_bytes(os.path.join(runner.target.path, f"v={v}"))
