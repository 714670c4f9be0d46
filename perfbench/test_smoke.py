"""Smoke test of the benchmark itself (not part of the engine's test suite).

Runs each workload small (sf 0.001 tables; a 10 s stream at 5,000 rows/s),
then checks that every metric is printed with its unit, that traced spans
nest, and that output verification catches a wrong expected digest.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

SMALL = {
    "batch_headline": ["--sf", "0.001", "--seconds", "1"],
    "stream_detect": ["--offer", "5000", "--seconds", "10"],
}


def _contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SMALL))
def test_run_prints_every_metric(workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7"]
    cmd += ["--trace", str(trace), *SMALL[workload]]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, lines[-30:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _contract()[kind]}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == want
    printed = {ln.split(" = ")[0]: ln.rsplit(" ", 1)[1] for ln in lines[:-1] if " = " in ln}
    for name, unit in want.items():
        if name in printed:  # contract names the workload reports directly
            assert printed[name] == unit, name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
        return
    stem = f"{workload}-seed7-trace1"
    with open(os.path.join(ROOT, ".perfbench_work", "spans", stem + ".json")) as f:
        spans = {s["id"]: s for s in json.load(f)}
    assert spans
    for s in spans.values():
        assert s["end"] >= s["start"], s
        assert s["self_s"] >= -1e-9, s
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] - 0.005 <= s["start"] and s["end"] <= p["end"] + 0.005, (s, p)
            assert s["request_id"] == p["request_id"]
    names = {s["name"] for s in spans.values()}
    if workload == "stream_detect":
        assert {"trigger", "addBatch", "sink", "iforest.fit", "iforest.score"} <= names
    else:
        assert {"query", "spark_fn", "write", "iforest.fit", "iforest.score"} <= names


@pytest.fixture(scope="module")
def small_outputs(tmp_path_factory):
    """sf 0.001 tables plus the fetched rows of one oracle-backed and one
    rows-only query."""
    import fixtures
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    sf_dir = fixtures.write_tables(str(tmp_path_factory.mktemp("sf0.001")), 0.001, 42)
    spark = get_spark(app_name="perfbench-smoke", extra_conf={"spark.ui.showConsoleProgress": "false"})
    outputs = {}
    for name in ("q_topk", "q_minhash_neardup"):
        df = REGISTRY[name].spark_fn(spark, sf_dir)
        outputs[name] = (df.columns, df.collect())
    yield sf_dir, outputs
    spark.stop()


def test_verification_accepts_recorded_outputs(small_outputs):
    import batch

    sf_dir, outputs = small_outputs
    assert batch.verify(outputs, sf_dir, batch.load_expected(0.001)) == {}


def test_verification_rejects_wrong_digest(small_outputs):
    import batch

    sf_dir, outputs = small_outputs
    expected = json.loads(json.dumps(batch.load_expected(0.001)))
    expected["q_minhash_neardup"]["sha256"] = "0" * 64
    assert set(batch.verify(outputs, sf_dir, expected)) == {"q_minhash_neardup"}


def test_verification_rejects_wrong_rows(small_outputs):
    import batch

    sf_dir, outputs = small_outputs
    cols, rows = outputs["q_topk"]
    tampered = {"q_topk": (cols, rows[:-1])}
    assert set(batch.verify(tampered, sf_dir, batch.load_expected(0.001))) == {"q_topk"}
