"""Smoke check of the benchmark itself.

  env SPARK_DRIVER_MEM=2g python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json at minimal size (``run.py --smoke``)
in both trace modes and asserts that:
* each run exits 0, passes its output checks and emits exactly the metrics
  of its mode with the units BENCHMARK.json gives;
* every end-to-end metric is computed and non-zero on every workload;
* every per-layer metric is computed by at least one workload;
* in a directory holding only BENCHMARK.json and perfbench/, run.py exits
  non-zero without printing a result.
"""

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def run(cwd: str, run_py: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, run_py, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    computed_layers = set()
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(ROOT, RUN, "--workload", w["name"], "--seed", "1",
                    "--seconds", "1", "--trace", str(trace), "--smoke")
            tag = f"{w['name']} trace={trace}"
            if p.returncode:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            computed = set(json.loads(next(
                ln for ln in lines if ln.startswith("computed: "))[10:]))
            want = {d["name"]: d["unit"] for d in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metric names/units differ from "
                                f"BENCHMARK.json")
            if not res["correct"]:
                problems.append(f"{tag}: output checks failed")
            if trace:
                computed_layers |= computed & set(want)
            else:
                missing = [n for n in want if n not in computed
                           or not res["metrics"][n]["value"]]
                if missing:
                    problems.append(f"{tag}: not computed or zero: {missing}")
            print(tag, "ran", flush=True)
    never = [d["name"] for d in spec["per_layer"]
             if d["name"] not in computed_layers]
    if never:
        problems.append(f"per-layer metrics no workload computes: {never}")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    w0 = spec["workloads"][0]["name"]
    p = run(bare, os.path.join(bare, "perfbench", "run.py"), "--workload", w0,
            "--seed", "1", "--seconds", "1", "--trace", "0")
    shutil.rmtree(bare)
    if p.returncode == 0 or '"metrics"' in p.stdout:
        problems.append("run.py without the program sources did not fail")

    for p in problems:
        print("SMOKE FAILED:", p)
    print("smoke ok" if not problems else f"{len(problems)} smoke failures")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
