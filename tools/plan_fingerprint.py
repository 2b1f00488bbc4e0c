"""Record the optimized plans a suite query runs, so a refactor can be
checked to leave them unchanged.

For each named query the tool calls the query function with the
DataFrame actions ``first``, ``collect``, ``count``, ``localCheckpoint``
and ``toPandas`` wrapped: every outermost call records its action name
and the normalized optimized plan of the frame it ran on (the eager
jobs inside the query function). Then it records the returned frame's
normalized plan and a digest of its rows. Expression, plan and RDD ids,
lambda variable numbers and the Spark application id (it names the
per-application store roots the ``*_recovered`` queries scan) are
normalized away, and so is the random UUID naming an unnamed
``Observation``'s ``CollectMetrics`` node, so two runs of an unchanged
query match, in one process or in two.

Usage:
  python tools/plan_fingerprint.py sf_dir name [name ...] > out.json
  python tools/plan_fingerprint.py --diff A.json B.json   # exit 1 on any difference
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ACTIONS = ("first", "collect", "count", "localCheckpoint", "toPandas")
_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\*\(\d+\)"), "*()"),
    # PySpark numbers lambda variables per process (x_1, x_2, ...)
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_"),
    # an unnamed Observation names its CollectMetrics node by a random UUID
    (re.compile(r"CollectMetrics [0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"),
     "CollectMetrics <uuid>"),
]


def normalize(plan: str) -> str:
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan


def _plan(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    app = df.sparkSession.sparkContext.applicationId
    return normalize(plan.replace(app, "<app>"))


@contextlib.contextmanager
def _recording(calls: list):
    """Wrap the actions so each outermost call appends (action, plan);
    actions an action runs internally (``first`` collects a limit) are
    not recorded twice."""
    from pyspark.sql.classic.dataframe import DataFrame

    originals = {name: getattr(DataFrame, name) for name in ACTIONS}
    depth = [0]

    def wrap(name, fn):
        @functools.wraps(fn)
        def recorded(self, *args, **kwargs):
            if depth[0] == 0:
                calls.append([name, _plan(self)])
            depth[0] += 1
            try:
                return fn(self, *args, **kwargs)
            finally:
                depth[0] -= 1

        return recorded

    for name, fn in originals.items():
        setattr(DataFrame, name, wrap(name, fn))
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(DataFrame, name, fn)


def _rows_digest(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def fingerprint(spark, sf_dir: str, names) -> dict:
    """{name: {"actions": [[action, plan], ...], "result": plan,
    "rows": sha256 of the sorted result rows}} for the named queries."""
    from automated_data_pipeline_spark.suite import all_specs

    specs = {s.name: s for s in all_specs()}
    missing = [n for n in names if n not in specs]
    if missing:
        raise KeyError(f"unknown suite queries: {missing}")
    out = {}
    for name in names:
        calls: list = []
        with _recording(calls):
            result = specs[name].fn(spark, sf_dir)
        out[name] = {
            "actions": calls,
            "result": _plan(result),
            "rows": _rows_digest(result),
        }
    return out


def diff(a: dict, b: dict) -> list[str]:
    """Human-readable differences between two fingerprints."""
    problems = []
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            problems.append(f"{name}: present in only one fingerprint")
            continue
        fa, fb = a[name], b[name]
        acts_a = [act for act, _ in fa["actions"]]
        acts_b = [act for act, _ in fb["actions"]]
        if acts_a != acts_b:
            problems.append(f"{name}: actions {acts_a} != {acts_b}")
        else:
            for i, ((act, pa), (_, pb)) in enumerate(
                zip(fa["actions"], fb["actions"])
            ):
                if pa != pb:
                    problems.append(f"{name}: action {i} ({act}) plan differs")
        if fa["result"] != fb["result"]:
            problems.append(f"{name}: result plan differs")
        if fa["rows"] != fb["rows"]:
            problems.append(f"{name}: result rows differ")
    return problems


def main(argv: list[str]) -> int:
    if argv[:1] == ["--diff"]:
        if len(argv) != 3:
            print(__doc__, file=sys.stderr)
            return 2
        with open(argv[1]) as fa, open(argv[2]) as fb:
            problems = diff(json.load(fa), json.load(fb))
        for p in problems:
            print(p)
        return 1 if problems else 0
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir, names = argv[0], argv[1:]
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from automated_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-fingerprint", shuffle_partitions=8)
    print(json.dumps(fingerprint(spark, sf_dir, names), sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
