"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

- a tiny-size traced run of every workload prints every metric of
  BENCHMARK.json with its unit and passes the gates;
- a corrupted assignment frame fails the gate (failed_frac > 0);
- the event-log parser counts the tasks of a job whose task count is
  known;
- a layer function gone from the package is reported as missing;
- a checkout without the package exits non-zero without a result.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gate, inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
BENCH_E2E_NONZERO = {m["name"] for m in BENCH["end_to_end"]}


def _run(*args: str) -> tuple[int, list[dict]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = [json.loads(line) for line in proc.stdout.splitlines() if line.startswith("{")]
    return proc.returncode, lines


@pytest.mark.parametrize("workload", ["web_full", "short_full", "increment_chain"])
def test_tiny_traced_run_reports_every_metric_and_passes_gates(workload):
    rc, lines = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", "1", "--tiny")
    info, result = lines[-2], lines[-1]
    assert rc == 0, info
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    e2e.update({"false_merges": "count", "failed_frac": "ratio"})
    assert {k: v["unit"] for k, v in info["metrics"].items()} == e2e
    m = info["metrics"]
    assert m["recall"]["value"] >= gate.RECALL_GATE
    assert m["false_merges"]["value"] == 0 and m["failed_frac"]["value"] == 0
    assert all(v["value"] > 0 for k, v in m.items() if k in BENCH_E2E_NONZERO)
    # the layer drive reproduces the pipeline's answer
    if "layers_recall" in info:
        assert info["layers_recall"] >= gate.RECALL_GATE
        assert info["layers_false_merges"] == 0
    assert info["missing_layers"] == []


def test_empty_checkout_fails_without_a_result(tmp_path):
    """Without the package the command exits non-zero and prints no
    result line."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "web_full", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _score(assign: pd.DataFrame, truth: np.ndarray, pairs: pd.DataFrame,
           tally: gate.Tally) -> None:
    """What a workload does after each clock stop."""
    try:
        c = gate.cluster_vector(assign, len(truth))
    except ValueError as e:
        tally.record(None, error=str(e))
        return
    tally.record(gate.pair_recall(c, pairs), gate.false_merges(c, truth))


def test_corrupted_assignments_fail_the_gate(tmp_path):
    meta = inputs.short_corpus(str(tmp_path), 400, seed=5)
    truth, pairs = gate.read_truth(meta["dir"])
    ids = np.arange(len(truth))
    assert len(pairs) > 10

    exact = gate.Tally()
    path = tmp_path / "assignments"
    pd.DataFrame({"doc_id": ids, "cluster_id": truth}).to_parquet(path)
    _score(gate.read_assignments(str(path)), truth, pairs, exact)
    assert exact.failed_frac == 0 and exact.correct

    split = gate.Tally()  # every planted duplicate left in its own cluster
    _score(pd.DataFrame({"doc_id": ids, "cluster_id": ids}), truth, pairs, split)
    assert split.failed_frac > 0 and not split.correct

    dropped = gate.Tally()  # a doc missing from the output
    _score(pd.DataFrame({"doc_id": ids[1:], "cluster_id": truth[1:]}), truth, pairs, dropped)
    assert dropped.failed_frac > 0 and dropped.errors

    merged = gate.Tally()  # two truth clusters fused into one output cluster
    fused = truth.copy()
    fused[fused == fused.max()] = 0
    _score(pd.DataFrame({"doc_id": ids, "cluster_id": fused}), truth, pairs, merged)
    assert merged.false_merges == 1 and not merged.correct


def test_eventlog_parser_counts_known_tasks(tmp_path):
    from perfbench import eventlog, harness

    harness.prepare_env()
    session = harness.Session(str(tmp_path))
    spark = session.start(event_log=True)
    try:
        t0 = harness.now_ms()
        with session.tagged("t:five"):
            assert spark.sparkContext.parallelize(range(100), 5).count() == 100
        with session.tagged("t:shuffle"):
            spark.range(0, 1000, 1, 4).repartition(3).write.format("noop") \
                .mode("overwrite").save()
        t1 = harness.now_ms()
        session.stop()
        ev = eventlog.read_events(eventlog.find_log(session.event_dir))
    finally:
        session.shutdown()
    tags = eventlog.by_description(ev)
    assert tags["t:five"]["jobs"] == 1 and tags["t:five"]["tasks"] == 5
    assert tags["t:five"]["shuffle_write_mb"] == 0
    assert tags["t:shuffle"]["tasks"] >= 4 and tags["t:shuffle"]["shuffle_write_mb"] > 0
    whole = eventlog.window(ev, t0, t1)
    assert whole["jobs"] >= 2 and whole["tasks"] >= 9
    assert 0 <= whole["driver_gap_s"] <= (t1 - t0) / 1e3


def test_missing_layer_function_is_reported_not_raised():
    from contextlib import nullcontext

    from perfbench import layers

    class FakeSession:
        def tagged(self, tag):
            return nullcontext()

    d = layers.Driver(FakeSession())
    gone = d.step("substring.candidates", lambda: (layers.api("operators.nope", "f"), None))
    after = d.step("substring.verify", lambda: (1, lambda: {}), ("substring.candidates",))
    assert gone is None and after is None
    assert d.missing == {"substring.candidates", "substring.verify"}
    assert layers.candidate_accounting(object()) == {"dropped_pairs": 0.0, "capped_buckets": 0.0}
