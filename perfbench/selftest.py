#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

For each BENCHMARK.json workload it checks that:
  * an untraced run passes its output checks and prints every end-to-end
    metric of BENCHMARK.json, with its unit, in the result object and in
    the report lines;
  * two runs of one seed print the same output digest;
  * a traced run prints every per-layer metric with its unit, and two
    traced runs of one seed report the same job, task, iteration and
    divergence-evaluation counts (span attribution is exact);
that every per-layer metric is computed by at least one workload (not
read as 0 for a layer the workload never enters), and that run.py, in a
directory holding only BENCHMARK.json and the benchmark, exits non-zero
without printing a result.
Exit code 0 when every check passes.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEED = 7
failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(workload, trace, cwd=ROOT, runner=HERE / "run.py"):
    r = subprocess.run(
        [sys.executable, str(runner), "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=cwd)
    lines = r.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return r.returncode, lines, result, r.stderr


def digests(lines):
    return [l.split(":", 1)[1].strip() for l in lines
            if l.startswith("check digest") or l.startswith("check same_output_every_run")]


def counts(result):
    keys = ("jobs", "tasks", "iterations", "div_evals")
    return {k: v["value"] for k, v in result["metrics"].items() if k.split(".")[-1] in keys}


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    computed = set()

    for w in (w["name"] for w in bench["workloads"]):
        code, lines, res, err = run(w, 0)
        check(code == 0 and res is not None and res["correct"], f"{w}: untraced run passes its checks")
        if res is None:
            print(err[-3000:])
            continue
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        check(got == e2e, f"{w}: result carries every end-to-end metric with its unit")
        printed = {l.split()[1]: l.split()[3] for l in lines if l.startswith("metric ")}
        check(all(printed.get(k) == u for k, u in e2e.items()),
              f"{w}: report lines print every end-to-end metric with its unit")
        check(all(isinstance(v["value"], (int, float)) and v["value"] > 0
                  for v in res["metrics"].values()), f"{w}: end-to-end values are positive")
        code2, lines2, res2, _ = run(w, 0)
        check(code2 == 0 and digests(lines) and digests(lines) == digests(lines2),
              f"{w}: same output digest on two runs of seed {SEED}: {digests(lines)}")

        code, lines, res, err = run(w, 1)
        check(code == 0 and res is not None and res["correct"], f"{w}: traced run passes its checks")
        if res is None:
            print(err[-3000:])
            continue
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        check(got == layer, f"{w}: traced result carries every per-layer metric with its unit")
        computed |= {l.split()[1] for l in lines
                     if l.startswith("layer ") and not l.endswith("(layer not entered)")}
        code2, lines2, res2, _ = run(w, 1)
        same = res2 is not None and counts(res) == counts(res2)
        check(same, f"{w}: job, task, iteration and evaluation counts repeat across traced runs")
        if not same and res2 is not None:
            c1, c2 = counts(res), counts(res2)
            print("     differing:", {k: (c1[k], c2.get(k)) for k in c1 if c1[k] != c2.get(k)})

    missing = sorted(set(layer) - computed)
    check(not missing, f"every per-layer metric is computed by some workload; not: {missing}")

    # a directory with only BENCHMARK.json and the benchmark: no program to build
    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    code, lines, res, _ = run(bench["workloads"][0]["name"], 0, cwd=bare,
                              runner=bare / HERE.name / "run.py")
    check(code != 0 and res is None, "bare directory: run.py exits non-zero without a result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)" if failures else "all self-test checks passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
