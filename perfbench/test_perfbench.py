"""The benchmark's own tests: every workload in smoke mode, untraced and
traced, emits every metric BENCHMARK.json names, with its unit, and
fails no check. Run: python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted(workload, trace):
    out = _run(workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert res["failed"] == 0 and res["correct"] is True, lines[-2]
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == \
        {k: v["unit"] for k, v in res["metrics"].items()}
    for name, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
        if not trace:
            assert v["value"] > 0, name
    detail = json.loads(lines[-2])["detail"]
    assert detail["fail_frac"] == 0
    assert "loadavg" in detail["host_start"]
    assert not os.path.exists(os.path.join(HERE, ".runs"))


def test_footer_cache_overflows_only_on_kv_http():
    ratios = {}
    for w in ("kv_oltp", "kv_http"):
        out = _run(w, 1)
        assert out.returncode == 0, out.stderr[-3000:]
        m = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
        ratios[w] = m["footer_cache.hit_ratio"]["value"]
    assert ratios["kv_http"] < 0.5 < ratios["kv_oltp"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".runs", "__pycache__"))
    out = _run("kv_oltp", 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_results_match_within_last_rounded_digit(monkeypatch):
    monkeypatch.syspath_prepend(os.path.join(ROOT, "tools"))
    from perfbench.analytics import _normalised, _same_result

    cols = ["score", "doc_id"]
    spark = _normalised(cols, [(2.8536, 63), (2.9698, 293)])
    assert _same_result(spark, _normalised(cols, [(2.9698, 293),
                                                  (2.8535, 63)]))
    assert not _same_result(spark, _normalised(cols, [(2.8525, 63),
                                                      (2.9698, 293)]))
    assert not _same_result(spark, _normalised(cols, [(2.8536, 64),
                                                      (2.9698, 293)]))
    assert not _same_result(spark, _normalised(cols, [(2.8536, 63)]))


def test_self_time_subtracts_children(tmp_path):
    from perfbench import summarize

    p = tmp_path / "spans.jsonl"
    p.write_text(json.dumps({"counts": {}}) + "\n"
                 + json.dumps(["a", 0.0, 10.0, 1, None, None, None]) + "\n"
                 + json.dumps(["b", 2.0, 5.0, 2, 1, None, None]) + "\n"
                 + json.dumps(["b", 4.0, 6.0, 3, 1, None, None]) + "\n")
    st = summarize.self_times([summarize._Proc(str(p))])
    assert st == {"a": 6.0, "b": 5.0}
