"""Smoke test of the benchmark itself, at tiny scale.

    python3 perfbench/smoke.py

For every workload it runs the benchmark untraced and traced and checks
that the result line parses, that every metric listed in BENCHMARK.json
is present with its unit, and that every answer was right. It then runs
one workload with a deliberately falsified expected answer and checks
that the failure is counted and the exit code is non-zero. Takes a few
minutes; exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["catalog_query", "kg_analytics", "etl_populate"]


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    return proc.returncode, result, proc.stdout


def expect(cond: bool, what: str, out: str = "") -> None:
    if not cond:
        sys.exit(f"smoke: FAILED: {what}\n{out}")
    print(f"smoke: ok: {what}")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, out = run(w, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
            expect(code == 0 and res.get("correct") is True and res["failed"] == 0,
                   f"{w} trace={trace}: every answer right", out)
            expect(got == want, f"{w} trace={trace}: metric names and units", out)
            expect(all(f"# metric {name} = " in out for name in want),
                   f"{w} trace={trace}: report prints every metric", out)
            if trace:
                line = next(x for x in out.splitlines()
                            if x.startswith("# self time over timed ops"))
                total, wall = map(float, re.search(
                    r"sum=([\d.]+)s of wall ([\d.]+)s", line).groups())
                expect(abs(total - wall) < 0.002,
                       f"{w}: layer self times + uncovered add up to op wall", line)
    code, res, out = run("kg_analytics", 0, "--corrupt-expected")
    expect(code != 0 and res.get("correct") is False and res.get("failed", 0) >= 1,
           "a falsified expected answer is counted as a failure", out)
    expect(not os.path.exists(os.path.join(ROOT, ".perfbench_work")),
           "no scratch files left behind")


if __name__ == "__main__":
    main()
