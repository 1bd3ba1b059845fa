"""Self-test of the benchmark itself: run from the repository root with

    python3 perfbench/selftest.py

It runs every workload in tiny mode (one warm-up op, a few timed ops,
short probes) through the real command line and checks that

- the last output line has exactly the keys correct/attempted/failed/
  metrics, and every metric BENCHMARK.json declares for the mode is
  present with its declared unit and a finite value;
- a normal run answers correctly, and a run with a planted wrong
  expected answer reports failed >= 1, correct false and a non-zero
  error rate;
- in a directory holding only BENCHMARK.json and perfbench/, the
  command exits non-zero without printing a result.

It takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, "perfbench/run.py"]


def declared(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = RUN + ["--workload", workload, "--seed", "7", "--seconds", "1",
                 "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, p.stdout.strip().splitlines()


def check_result(workload: str, trace: int, lines: list[str]) -> tuple[dict, dict]:
    info, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    want = declared(trace)
    got = result["metrics"]
    assert set(got) == set(want), (workload, trace, set(got) ^ set(want))
    for name, unit in want.items():
        assert got[name]["unit"] == unit, (name, got[name]["unit"], unit)
        assert isinstance(got[name]["value"], float) and math.isfinite(got[name]["value"]), name
    return info, result


def main() -> int:
    workloads = ("crack_request", "request_stream", "dedup_batch")
    for workload in workloads:
        for trace in (0, 1):
            code, lines = run(workload, trace)
            assert code == 0, f"{workload} --trace {trace} exited {code}"
            info, result = check_result(workload, trace, lines)
            assert result["correct"] and result["failed"] == 0, (workload, trace, result)
            assert info["error_rate"] == 0.0
            print(f"ok   {workload} --trace {trace}: {result['attempted']} ops")
        code, lines = run(workload, 0, "--plant-wrong")
        assert code == 0, f"{workload} --plant-wrong exited {code}"
        info, result = check_result(workload, 0, lines)
        assert result["failed"] >= 1 and not result["correct"], result
        assert info["error_rate"] > 0, info["error_rate"]
        print(f"ok   {workload} planted wrong answer: error_rate {info['error_rate']:.3f}")

    bare = os.path.join(ROOT, ".perfbench_run", f"selftest-bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run("crack_request", 0, cwd=bare)
        assert code != 0 and not lines, (code, lines)
        print(f"ok   bare directory: exit {code}, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
