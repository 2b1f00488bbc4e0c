"""The vector frame contract stays declared once: no function in the
vector-family files takes a column-name, self-exclusion or rounding
parameter again, apart from the listed survivors. Reads the sources
with ``ast`` (tools/param_census.py) — no Spark."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TOOL = os.path.join(_ROOT, "tools", "param_census.py")

VECTOR_FILES = (
    "operators/similarity.py",
    "operators/retrieval.py",
    "operators/bitext.py",
    "operators/index_lifecycle.py",
    "streaming/ann_ingest.py",
    "functions/vectors.py",
)
RETIRED = {
    "id_col", "vec_col", "query_id_col", "query_vec_col", "label_col",
    "query_label_col", "codes_col", "cluster_col", "out_col",
    "probe_id_col", "probe_vec_col", "exclude_self", "digits",
}
SURVIVORS = {
    # the IVF-PQ build trains and encodes the ``_resid`` column
    ("operators/similarity.py", "_training_sample", "vec_col"),
    ("operators/similarity.py", "pq_train", "vec_col"),
    ("operators/similarity.py", "pq_encode_pandas", "vec_col"),
    # the generic ranker also ranks per lang, tgt_id and src_id
    ("operators/similarity.py", "per_query_topk", "query_id_col"),
    # a required column argument
    ("operators/similarity.py", "rhp_bucket", "vec_col"),
    # text retrieval and rank fusion: not part of the vector contract
    ("operators/retrieval.py", "bm25_top_docs", "id_col"),
    ("operators/retrieval.py", "bm25_top_docs_deferred", "id_col"),
    ("operators/retrieval.py", "rrf_fuse", "id_col"),
}


def _tool():
    spec = importlib.util.spec_from_file_location("param_census", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_vector_family_declares_no_retired_parameter():
    census = _tool()
    declared = {
        (rel, qualname, name)
        for rel in VECTOR_FILES
        for qualname, names, _ in census.signatures(
            os.path.join(_ROOT, census.PACKAGE, rel)
        )
        for name in names
        if name in RETIRED
    }
    assert declared == SURVIVORS


def test_census_prints_one_json_line_per_module():
    out = subprocess.run(
        [sys.executable, _TOOL], capture_output=True, text=True, check=True
    ).stdout
    assert out.count("\n") == 1
    counts = json.loads(out)
    sim = counts["automated_data_pipeline_spark.operators.similarity"]
    assert sim["functions"] > 0 and sim["defaults"] <= sim["params"]
    assert counts["total"]["params"] == sum(
        m["params"] for name, m in counts.items() if name != "total"
    )
