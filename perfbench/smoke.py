"""Smoke test of the benchmark itself, at its tiny input size.

    python3 perfbench/smoke.py

Run it from the repository root; it takes a few minutes, almost all of it
Spark start-up and per-job overhead. It checks that:

* every workload, untraced and traced, prints every metric named in
  BENCHMARK.json with its unit, and fails no operation;
* a run whose first build output is damaged (``--corrupt``) reports that
  build as failed and the run as not correct;
* in a directory holding only BENCHMARK.json and the benchmark, the
  benchmark exits with an error and prints no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(*args, cwd=None) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--seconds", "1",
           "--size", "tiny", *args]
    out = subprocess.run(cmd, cwd=cwd or os.getcwd(), capture_output=True,
                         text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    try:
        return out.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        return out.returncode, None


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run("--workload", w, "--seed", "7", "--trace",
                            str(trace))
            tag = f"{w} --trace {trace}"
            if code != 0 or res is None:
                problems.append(f"{tag}: exit {code}, result {res}")
                continue
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: failed operations: {res}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} [{m['unit']}]"
                                    f" missing or mis-united: {got}")
            extra = set(res["metrics"]) - {m["name"] for m in spec[key]}
            if extra:
                problems.append(f"{tag}: metrics not in BENCHMARK.json: "
                                f"{sorted(extra)}")
    code, res = run("--workload", spec["workloads"][0]["name"], "--seed", "7",
                    "--corrupt")
    if code != 0 or res is None or res["correct"] or res["failed"] < 1:
        problems.append(f"corrupted output not counted as failed: {res}")
    bare = os.path.join(os.getcwd(), ".perfbench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
         "--trace", "0"], cwd=bare, capture_output=True, text=True,
        timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if out.returncode == 0 or '"metrics"' in out.stdout:
        problems.append(f"bare directory run: exit {out.returncode}, "
                        f"stdout {out.stdout[-200:]!r}")
    for p in problems:
        print("FAIL", p)
    print("smoke:", "ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
