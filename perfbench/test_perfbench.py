"""Tiny-scale tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The output-check tests need no Spark.  The run tests start the benchmark
as a subprocess with a 1 s window, which still pays Spark start-up and a
cold build, so they take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import host  # noqa: E402
import workloads  # noqa: E402


def _contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_compare_topk_catches_one_ulp():
    ids = np.array([7, 3, 11], dtype=np.int64)
    scores = np.array([2.5, 1.25, 1.0], dtype=np.float32)
    assert checks.compare_topk(ids, scores, ids.copy(), scores.copy()) is None
    bumped = scores.copy()
    bumped[1] = np.nextafter(bumped[1], np.float32(np.inf))
    assert checks.compare_topk(ids, bumped, ids, scores) is not None
    assert checks.compare_topk(ids[[1, 0, 2]], scores, ids, scores) is not None


def test_oracle_check_fails_on_corrupted_result():
    """One score of a real oracle top-k moved by one ulp fails the check."""
    from lucene_solr_8_7_0_spark.functions.oracle import build_oracle_index
    from lucene_solr_8_7_0_spark.plans import queries as Q
    from lucene_solr_8_7_0_spark.sources.corpus import generate_corpus_pdf

    docs = generate_corpus_pdf(np.arange(60), 60, seed=3)
    docs["doc_id"] = np.arange(60)
    oi = build_oracle_index(docs[["doc_id", "content"]])
    ids, scores = checks.oracle_topk(oi, Q.term_or(["public", "return"], 1), 10)
    assert len(ids) == 10
    assert checks.compare_topk(ids, scores, ids, scores) is None
    assert checks.check_topk(ids, scores, 10, 60) is None
    corrupt = scores.copy()
    corrupt[4] = np.nextafter(corrupt[4], np.float32(-np.inf))
    assert checks.compare_topk(ids, corrupt, ids, scores) is not None
    # masking a deleted doc drops it from the hit list, nothing else
    live_ids, _ = checks.oracle_topk(oi, Q.term_or(["public", "return"], 1),
                                     10, deleted=ids[:1])
    assert ids[0] not in live_ids and live_ids[0] == ids[1]


def test_ref_factor_is_the_median_probe():
    host._probes[:] = [2 * host.PROBE_REF_MS, host.PROBE_REF_MS, 100.0]
    # the median probe is twice the reference: the host runs at half speed
    assert host.ref_factor() == 0.5
    host._probes.clear()
    assert 0.0 < host.probe_ms() < 1000.0 and len(host._probes) == 1
    host._probes.clear()


def test_check_topk_invariants():
    ok = np.array([3.0, 2.0, 2.0], dtype=np.float32)
    assert checks.check_topk([1, 2, 3], ok, 10, 5) is None
    assert checks.check_topk([1, 2, 3], ok[::-1].copy() + [0, 0, 1], 10, 5)
    assert checks.check_topk([1, 1, 3], ok, 10, 5)
    assert checks.check_topk([1, 2, 5], ok, 10, 5)
    assert checks.check_topk([1, 2, 3], ok, 2, 5)


# every runnable workload: the contract's, and build_batch besides it
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_prints_every_metric(workload):
    proc = _run(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _contract()["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    report = json.loads(lines[-2])["perfbench"]
    for name, m in report["metrics"].items():
        assert set(m) == {"value", "unit", "n"} and m["n"] >= 1, name
    assert report["checks"]["faults"] == []
    if workload != "build_batch":  # its check counts terms, not top-k
        assert report["checks"]["oracle"]["compared"] >= 1
        assert report["checks"]["oracle"]["mismatches"] == 0


def test_traced_run_prints_every_layer_metric():
    proc = _run("query_stream", 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    want = {m["name"]: m["unit"] for m in _contract()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["spark.jobs_per_op"]["value"] >= 1
    assert result["metrics"]["trace.overhead_ratio"]["value"] > 0
    report = json.loads(lines[-2])["perfbench"]
    assert report["checks"]["span_coverage"] > 0.95


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in _contract()["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("query_stream", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
