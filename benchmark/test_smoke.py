"""Tiny-scale smoke test of the engine benchmark: both workloads, traced
and untraced, print every named metric with its unit; the gate fails a
wrong result; the fingerprint check fails a pass whose result changed;
and a directory without the engine makes the command fail without a
result line.

    python3 -m pytest benchmark/test_smoke.py -q

Each run starts and ends its own measured process and Spark JVM, as a
real run does, on much smaller inputs and with fewer warm passes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH_DIR))
sys.path.insert(0, str(BENCH_DIR.parent))

import datagen  # noqa: E402
import run as bench  # noqa: E402

TINY = {"sf": 0.001, "n_docs": 40, "n_vecs": 40}


@pytest.fixture
def tiny(monkeypatch):
    for wl in bench.WORKLOADS.values():
        monkeypatch.setitem(wl, "scale", TINY)
    monkeypatch.setattr(bench, "GATE_SCALE", TINY)
    monkeypatch.setattr(bench, "WARM_PASSES", 2)


def _run(capsys, workload: str, trace: int) -> tuple[int, list[dict]]:
    args = bench.parse_args(
        ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    )
    rc = bench.run(args)
    return rc, [json.loads(line) for line in capsys.readouterr().out.splitlines()]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(bench.WORKLOADS))
def test_every_metric_with_unit(tiny, capsys, workload, trace):
    rc, out = _run(capsys, workload, trace)
    result = out[-1]
    assert rc == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    expected = bench.PER_LAYER if trace else bench.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    printed = {o["metric"]: o["unit"] for o in out if "metric" in o}
    assert printed == bench.END_TO_END
    if trace:
        assert {o["layer"]: o["unit"] for o in out if "layer" in o} == bench.PER_LAYER
    wl = bench.WORKLOADS[workload]
    names = wl["queries"] + ([wl["write"]] if wl["write"] else [])
    gated = [o["gate"] for o in out if "gate" in o and o["trace"] == 0]
    assert set(gated) >= set(names) | {f"{n}:fingerprint" for n in names}
    assert all(o["ok"] for o in out if "gate" in o)
    assert any(o.get("context") == "noise" for o in out)


def test_gate_fails_wrong_result(tmp_path):
    from pyspark import SparkContext

    from dbkit_spark.catalog import QuerySpec, load_all
    from dbkit_spark.session import build_session

    datagen.generate(str(tmp_path), 5, **TINY)
    catalog = dict(load_all())
    spec = catalog["q43_cosine_topk"]
    catalog["q43_cosine_topk"] = QuerySpec(fn=lambda s, d: spec.fn(s, d).limit(3), oracle=spec.oracle)
    spark = build_session(app_name="bench-gate-test")
    try:
        names = ["q43_cosine_topk", "q01_pricing_summary"]
        assert bench.gate(spark, catalog, names, str(tmp_path)) == ["q43_cosine_topk"]
    finally:
        proc = SparkContext._gateway.proc
        bench.stop_jvm()
        proc.wait(timeout=60)


def test_fingerprint_change_fails():
    def one(fp, written_fp):
        return {"queries": {"q": {"fp": fp}}, "written": {"name": "w", "fp": written_fp}}

    cold = one([3, 10], [2, 7])
    assert bench.unsteady(cold, [one([3, 10], [2, 7])] * 2) == []
    assert bench.unsteady(cold, [one([3, 10], [2, 7]), one([3, 11], [2, 7])]) == ["q:fingerprint"]
    assert bench.unsteady(cold, [one([3, 10], [1, 7])]) == ["w:fingerprint"]


def test_incomplete_checkout_fails(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "benchmark", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", "olap", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
