#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (IQR / median,
quartiles as statistics.quantiles(values, n=4) gives them).

    python3 perfbench/steady.py --workloads fit_se,curate,ingest \
        --seeds 1-10 [--out results.jsonl]

Flags a metric whose spread exceeds a third of its BENCHMARK.json bound
(setup_s is reported but held only to its median). Exit code 1 when a run
fails or a spread is over its bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += list(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    bad = False
    for w in a.workloads.split(","):
        values = {}
        for seed in seeds_of(a.seeds):
            t0 = time.time()
            r = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT)
            wall = time.time() - t0
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            try:
                res = json.loads(last)
            except json.JSONDecodeError:
                res = None
            if r.returncode != 0 or not res or not res["correct"]:
                print(f"{w} seed {seed}: FAILED (exit {r.returncode})", flush=True)
                bad = True
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {wall:.1f} s wall, " + ", ".join(
                f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()), flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall,
                                        "result": res}) + "\n")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            bound = bounds.get(k)
            flag = ""
            if bound is not None and k != "setup_s" and spread > bound / 3:
                flag = f"  <-- over a third of bound {bound}"
                bad = bad or spread > bound
            print(f"{w} {k}: n={len(vs)} median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
                  f"spread={spread:.4f}{flag}", flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
