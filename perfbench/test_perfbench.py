"""The benchmark's own tests: seeded inputs and metric names.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import inputs  # noqa: E402

SMALL = {
    "mixed_corpus": dict(n_docs=30, heavy_share=0.1, html_share=0.3),
    "heavy_checkpointed": dict(n_docs=10, heavy_share=0.2, html_share=0.3),
    "pdf_files": dict(n_pairs=3, n_truncated=1),
    "curate_dedup": dict(n_docs=60, twin_share=0.1, n_queries=3),
}
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_seed_fixes_the_input(tmp_path, workload):
    size = SMALL[workload]
    _, a, _, _ = inputs.get_input(str(tmp_path / "a"), workload, 7, size)
    _, b, _, cached = inputs.get_input(str(tmp_path / "b"), workload, 7, size)
    _, c, _, _ = inputs.get_input(str(tmp_path / "a"), workload, 8, size)
    assert not cached
    assert a["input_digest"] == b["input_digest"]
    assert a["input_digest"] != c["input_digest"]


def test_cached_input_is_reused(tmp_path):
    size = SMALL["curate_dedup"]
    _, a, _, _ = inputs.get_input(str(tmp_path), "curate_dedup", 3, size)
    _, b, _, cached = inputs.get_input(str(tmp_path), "curate_dedup", 3, size)
    assert cached and a == b


def test_stratified_docs_have_exact_class_counts():
    docs = inputs.stratified_docs(5, 100, heavy_share=0.2, html_share=0.3)
    classes = [inputs._doc_class(d) for d in docs]
    assert classes.count("html") == 30
    assert sum(1 for c in classes if c not in ("html", 1, 2, 3, 4)) == 20
    assert [classes.count(p) for p in (1, 2, 3, 4)] == [13, 13, 12, 12]


def test_metric_names():
    import trace_run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(declared) == len(set(declared))
    for name in declared + [w["name"] for w in bench["workloads"]]:
        assert NAME.match(name), name
    assert [m["name"] for m in bench["per_layer"]] == list(trace_run.METRICS)
    assert {m["name"] for m in bench["end_to_end"]} == {
        "setup_s", "docs_per_s", "ok_ratio", "peak_rss_mb"}
