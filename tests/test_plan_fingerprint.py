"""tools/plan_fingerprint.py: two runs of an unchanged suite query
record the same actions, normalized plans and rows; two different
queries do not, and ``--diff`` exits 1 on the difference."""

from __future__ import annotations

import importlib.util
import json
import os

from conftest import SF_SMOKE

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "plan_fingerprint.py",
)


def _tool():
    spec = importlib.util.spec_from_file_location("plan_fingerprint", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unchanged_query_fingerprints_match(spark):
    pf = _tool()
    first = pf.fingerprint(spark, SF_SMOKE, ["text_stats"])
    second = pf.fingerprint(spark, SF_SMOKE, ["text_stats"])
    assert pf.diff(first, second) == []


def test_different_queries_fingerprint_differently(spark, tmp_path):
    pf = _tool()
    fp = pf.fingerprint(spark, SF_SMOKE, ["text_stats", "lang_vocab_overlap"])
    # text_stats runs no eager action; the vocabulary screen pins its
    # top-100 frame before the self-join
    assert fp["text_stats"]["actions"] == []
    assert [a for a, _ in fp["lang_vocab_overlap"]["actions"]] == [
        "localCheckpoint"
    ]
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps({"q": fp["text_stats"]}))
    b.write_text(json.dumps({"q": fp["lang_vocab_overlap"]}))
    assert pf.diff(json.loads(a.read_text()), json.loads(b.read_text()))
    assert pf.main(["--diff", str(a), str(b)]) == 1
    assert pf.main(["--diff", str(a), str(a)]) == 0


def test_store_root_application_id_is_normalized(spark):
    """kn_fluency_recovered pins a plan that scans its store root, which
    is named after the Spark application; the recorded plan must not
    carry the id, or two processes never match."""
    pf = _tool()
    fp = pf.fingerprint(spark, SF_SMOKE, ["kn_fluency_recovered"])
    (action,) = fp["kn_fluency_recovered"]["actions"]
    assert "adps_kn_store_<app>" in action[1]
    assert spark.sparkContext.applicationId not in action[1]
