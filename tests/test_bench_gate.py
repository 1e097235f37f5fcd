"""bench.py's job-count gate (no Spark session needed).

A query's job count is deterministic for a fixed plan and fixture, so the
gate compares it exactly against the committed baseline and must never
pass a query silently: changed, new and unusable-baseline cases are all
reported.
"""

import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    if "bench" not in sys.modules:
        spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
        mod = importlib.util.module_from_spec(spec)
        sys.modules["bench"] = mod
        spec.loader.exec_module(mod)
    return sys.modules["bench"]


def _run(**jobs):
    return {q: {"build_s": 0.1, "exec_s": 0.2, "jobs": n, "jobs_per_pass": [n] * 3}
            for q, n in jobs.items()}


def _baseline(tmp_path, **jobs):
    path = tmp_path / "BENCH_LOCAL.json"
    path.write_text(json.dumps({"sf": 0.1, "queries": _run(**jobs)}))
    return str(path)


def test_gate_flags_planted_job_count_regression(tmp_path):
    path = _baseline(tmp_path, q_graph_bfs=90, q_topk=2)
    g = _bench().gate(_run(q_graph_bfs=100, q_topk=2), path)
    assert g["error"] is None and g["new"] == []
    assert g["changed"] == [{"query": "q_graph_bfs", "was": 90, "now": [100] * 3}]


def test_gate_passes_identical_counts(tmp_path):
    path = _baseline(tmp_path, q_graph_bfs=100, q_topk=2)
    g = _bench().gate(_run(q_graph_bfs=100, q_topk=2), path)
    assert (g["error"], g["changed"], g["new"]) == (None, [], [])
    assert g["wall_ratio"] == {"q_graph_bfs": 1.0, "q_topk": 1.0}


def test_gate_flags_counts_that_vary_across_passes(tmp_path):
    path = _baseline(tmp_path, q_topk=2)
    run = _run(q_topk=2, q_graph_bfs=100)
    for q in run:
        run[q]["jobs_per_pass"] = [2, 3, 2]
    g = _bench().gate(run, path)
    assert [(c["query"], c["was"]) for c in g["changed"]] == [("q_topk", 2), ("q_graph_bfs", None)]
    assert g["new"] == ["q_graph_bfs"]


def test_gate_reports_query_missing_from_baseline_as_new(tmp_path):
    path = _baseline(tmp_path, q_topk=2)
    g = _bench().gate(_run(q_topk=2, q_graph_bfs=100), path)
    assert g["new"] == ["q_graph_bfs"] and g["changed"] == [] and g["error"] is None


def test_gate_reports_missing_or_unparseable_baseline(tmp_path):
    b = _bench()
    bad = tmp_path / "bad.json"
    for content in ("{not json", json.dumps({"queries": {"q_topk": 1.5}}), None):
        if content is None:
            bad.unlink()
        else:
            bad.write_text(content)
        g = b.gate(_run(q_topk=2), str(bad))
        assert g["error"].startswith("unusable baseline")
        assert g["new"] == ["q_topk"] and g["changed"] == []
