"""Tests of the request-path benchmark itself.

    python -m pytest httpbench/tests -q

The smoke tests start real daemons at scale 0.001 (a few minutes in all).
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402


def _bytes(workload, seed):
    plan = workloads.plan(workload, seed, 30, 0.1)
    return json.dumps(plan, sort_keys=True, separators=(",", ":")).encode()


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_same_seed_same_bytes(workload):
    assert _bytes(workload, 7) == _bytes(workload, 7)
    assert _bytes(workload, 7) != _bytes(workload, 8)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_seed_changes_inputs_not_shapes(workload):
    def shapes(seed):
        p = workloads.plan(workload, seed, 30, 0.1)
        return {k: [r["id"].split("/")[0] for r in v] for k, v in p.items()}

    assert shapes(1) == shapes(2)


def test_ingest_cycle_ends_on_checkpoint():
    p = workloads.plan("ingest_mix", 3, 60, 0.1)
    seq = [r["cls"] for r in p["warmup"] + p["timed"]]
    puts = [i for i, c in enumerate(seq) if c == "put"]
    assert len(puts) == 2 * workloads.CHECKPOINT_EVERY
    # reads after the last put of each cycle see the compacted lineage
    assert seq[puts[workloads.CHECKPOINT_EVERY - 1] + 1] == "query"


def test_golden_covers_pool():
    for scale in (0.1, 0.001):
        assert set(verify.load_golden(scale)) == set(workloads.pool(scale))


def test_tail_highest_percentile_with_ten_beyond():
    assert run.tail(list(range(1, 21))) == {"pct": 50.0, "value": 10, "samples": 20}
    assert run.tail([float(x) for x in range(100, 0, -1)]) == {
        "pct": 90.0, "value": 90.0, "samples": 100}
    assert run.tail(list(range(11)))["value"] == 0
    assert run.tail(list(range(10))) == {"pct": None, "value": None, "samples": 10}


def test_digest_tolerates_sum_order_only():
    a = [{"metric": "m", "tags": {}, "aggregateTags": [], "dps": {"1": 0.1 + 0.2 + 0.3}}]
    b = [{"metric": "m", "tags": {}, "aggregateTags": [], "dps": {"1": 0.3 + 0.2 + 0.1}}]
    c = [{"metric": "m", "tags": {}, "aggregateTags": [], "dps": {"1": 0.6001}}]
    assert verify.digest(a) == verify.digest(b) != verify.digest(c)


def test_check_rejects_wrong_answers():
    req = workloads.pool(0.1)["raw_or/0"]
    body = [{"metric": "signup", "tags": {}, "aggregateTags": [], "dps": {"1": 1.0}}]
    golden = {"raw_or/0": verify.digest(body)}
    assert verify.check(req, 200, json.dumps(body).encode(), golden) is None
    body[0]["dps"]["1"] = 2.0
    assert "digest" in verify.check(req, 200, json.dumps(body).encode(), golden)
    assert "HTTP 500" in verify.check(req, 500, b"{}", golden)
    assert verify.check(req, 200, b'{"a": 1}', golden) == "body is not a list"
    gen = workloads.plan("ingest_mix", 1, 30, 0.1)["warmup"]
    put, readback = gen[0], gen[1]
    assert verify.check(put, 200, b'{"success": 50, "failed": 0}', {}) is None
    assert verify.check(put, 200, b'{"success": 49, "failed": 1}', {}) is not None
    series = copy.deepcopy(readback["expect"]["series"])
    assert verify.check(readback, 200, json.dumps(series).encode(), {}) is None
    series[0]["dps"].popitem()
    assert verify.check(readback, 200, json.dumps(series).encode(), {}) is not None


def _bench_names(section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[section]}


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_smoke_run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    detail, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert result["attempted"] == len(detail["requests"])
    assert set(result["metrics"]) == _bench_names("per_layer" if trace else "end_to_end")
    if trace:
        for cls in ("query", "put"):
            assert abs(detail["layer_sums"][cls]["layer_sum_ratio"] - 1.0) < 0.1
