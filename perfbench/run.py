#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {fit_se,fit_kl,curate,ingest} \
        --seed N --seconds S --trace {0,1}

Builds the program (src/main/scala) and the benchmark (perfbench/src) from
source with the Scala compiler that ships in Spark's jars, caches the build
under .bench_build/perfbench, then runs one workload in a fresh JVM on
local[4]. Everything it writes stays under .bench_build/ in the checkout.
The metric names and units come from BENCHMARK.json: the workload prints
their values, and this script adds the units. The last line of stdout is
the result object.

--size tiny, for the self-test, runs tiny inputs and exactly 2 timed ops
(2 of each kind when traced) instead of --seconds.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("fit_se", "fit_kl", "curate", "ingest")
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, or the jars next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or ".") / "jars"
    if not home or not jars.is_dir():
        fail("no Spark jars found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def compile_step(name, files, classpath, jars):
    """Compile `files` into BUILD/classes/name unless the cached build matches."""
    out = BUILD / "classes" / name
    key = stamp(files, ":".join(str(c) for c in classpath))
    stamp_file = out / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == key:
        return out
    tmp = BUILD / "classes" / f"{name}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    compiler_cp = [str(p) for p in sorted(jars.glob("scala-*.jar"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler_cp),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", os.pathsep.join(str(c) for c in classpath), f"@{argfile}"]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compiling {name} failed", 3)
    (tmp / ".stamp").write_text(key)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    print(f"perfbench: built {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def build():
    program_src = ROOT / "src" / "main" / "scala"
    program = sources(program_src) if program_src.is_dir() else []
    if not program:
        fail(f"no program sources under {program_src.relative_to(ROOT)}")
    bench = sources(HERE / "src")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    jars = spark_jars()
    jar_cp = sorted(jars.glob("*.jar"))
    prog_out = compile_step("program", program, jar_cp, jars)
    bench_out = compile_step("bench", bench, [prog_out] + jar_cp, jars)
    return [bench_out, prog_out, jars / "*"]


def run_jvm(classpath, args, work):
    # a fixed heap: growing it during the first timed ops slowed them
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss4m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(str(c) for c in classpath),
            "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=str(work),
                            start_new_session=True)
    lines = []
    deadline = time.time() + RUN_TIMEOUT_S

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    import threading
    timer = threading.Timer(RUN_TIMEOUT_S, kill)
    timer.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            lines.append(line)
            if not line.startswith("{"):
                print(line, flush=True)
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            kill()
            proc.wait()
    timed_out = time.time() >= deadline
    return proc.returncode, lines, timed_out


def result_of(out, bench, trace):
    """The contract's result object from the workload's final line, with
    the metrics BENCHMARK.json lists and their units; prints the report
    lines. A per-layer metric the workload does not compute (a layer it
    never enters) reads 0; a value BENCHMARK.json does not list is an
    error.
    """
    listed = bench["per_layer" if trace else "end_to_end"]
    values = out["values"]
    unknown = sorted(set(values) - {m["name"] for m in listed})
    if unknown:
        fail(f"the workload reports metrics BENCHMARK.json does not list: {unknown}", 6)
    metrics = {}
    for m in listed:
        name = m["name"]
        if name in values:
            metrics[name] = {"value": values[name], "unit": m["unit"]}
        elif trace:
            metrics[name] = {"value": 0, "unit": m["unit"]}
        elif values:
            fail(f"the workload does not report {name}", 6)
    for name, v in metrics.items():
        note = "" if name in values else " (layer not entered)"
        print(f"{'layer' if trace else 'metric'} {name} {v['value']} {v['unit']}{note}"
              + ("" if trace else f" (n={out['n_ops']} ops)"), flush=True)
    for alias, name in out["aliases"].items():
        if name in metrics:
            print(f"metric {alias} {metrics[name]['value']} {metrics[name]['unit']} (= {name})", flush=True)
    return {"correct": out["correct"], "attempted": out["attempted"], "failed": out["failed"],
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    a = ap.parse_args()

    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        fail("no BENCHMARK.json at the root of the checkout")
    bench = json.loads(bench_file.read_text())
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        print(f"info {a.workload} is not a BENCHMARK.json workload; see perfbench/README.md", flush=True)
    classpath = build()
    work = BUILD / "work" / f"run-{os.getpid()}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    trace_file = BUILD / "traces" / f"{a.workload}-seed{a.seed}-{time.strftime('%Y%m%dT%H%M%S')}.jsonl"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--size", a.size,
            "--work-dir", str(work / "w"),
            "--trace-file", str(trace_file)]
    try:
        code, lines, timed_out = run_jvm(classpath, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if timed_out:
        fail(f"{a.workload} run exceeded {RUN_TIMEOUT_S} s and was stopped", 4)
    out = None
    if lines and lines[-1].startswith("{"):
        try:
            out = json.loads(lines[-1])
        except json.JSONDecodeError:
            out = None
    if not isinstance(out, dict) or not {"correct", "attempted", "failed", "values"} <= set(out):
        fail(f"{a.workload} run ended (exit {code}) without a result", 5)
    result = result_of(out, bench, a.trace == 1)
    print(json.dumps(result), flush=True)
    if code != 0 or not result["correct"]:
        sys.exit(code or 1)


if __name__ == "__main__":
    main()
