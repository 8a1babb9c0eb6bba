#!/usr/bin/env python3
"""The benchmark's own tests, at sf0.001 (about six minutes on 4 cores).

    python3 perfbench/smoke.py

Runs every workload untraced and traced, each in a fresh process, and
asserts that every metric BENCHMARK.json names is emitted with its unit,
that the detail line gives each one a sample count, and that the outputs
check out. Then it runs each kind of output check with a deliberately
corrupted result and asserts that the run reports the failure in
``failed`` and ``error_rate``.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
# Detail-only metrics: not gated, but printed with their sample counts.
DETAIL_ONLY = ("op_p50_s", "op_tail_s", "error_rate")
CHURN_DETAIL_ONLY = ("predict_single_p50_s", "predict_batch_p50_s", "predict_single_tail_s")


def run(workload: str, trace: int, corrupt: bool = False) -> tuple[dict, dict]:
    cmd = [sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def check_metrics(result: dict, detail_metrics: dict, spec: list[dict], where: str) -> None:
    for m in spec:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{where}: {m['name']} missing"
        assert got["unit"] == m["unit"], f"{where}: {m['name']} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{where}: {m['name']} value {got['value']}"
        assert detail_metrics[m["name"]]["n"] >= 1, f"{where}: {m['name']} has no samples"
    extra = set(result["metrics"]) - {m["name"] for m in spec}
    assert not extra, f"{where}: metrics not in BENCHMARK.json: {sorted(extra)}"


def main() -> int:
    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            detail, result = run(w, trace)
            where = f"{w} trace={trace}"
            assert result["correct"] and result["failed"] == 0, f"{where}: {detail['failures']}"
            assert result["attempted"] >= 1, where
            metrics = detail["per_layer"] if trace else detail["metrics"]
            check_metrics(result, metrics, bench[key], where)
            if not trace:
                for name in DETAIL_ONLY + (CHURN_DETAIL_ONLY if w == "churn_ml" else ()):
                    m = detail["metrics"][name]
                    assert m["unit"] and m["n"] >= 1, f"{where}: {name} {m}"
            print(f"ok  {where}", flush=True)
    for w in (w["name"] for w in bench["workloads"]):
        detail, result = run(w, 0, corrupt=True)
        assert not result["correct"] and result["failed"] >= 1, f"{w} corrupt: {result}"
        if w == "churn_ml":
            # Both the unfitted model and the altered predict must be caught.
            assert len(detail["failures"]) >= 2, f"{w} corrupt: {detail['failures']}"
        assert detail["metrics"]["error_rate"]["value"] > 0, f"{w} corrupt: {detail}"
        print(f"ok  {w} corrupted result raises error_rate: {detail['failures']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
