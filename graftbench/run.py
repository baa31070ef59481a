"""graft's benchmark. Builds the program from source, runs one workload
in one JVM and prints its metrics; the last stdout line is the result:

    python3 graftbench/run.py --workload reproject --seed 1 --seconds 15 --trace 0

Other modes:

    python3 graftbench/run.py --selftest
        the benchmark's own tests (seed determinism of generators and checksums)
    python3 graftbench/run.py --workload dedup --repeat 10 [--seconds 15] [--trace 0]
        runs the benchmark once per seed 1..N and prints each metric's
        spread (quartile distance over median) against its bound in
        BENCHMARK.json; fails unless every spread is within a third of
        its bound (setup_s: within its bound)

Build outputs, staged inputs and traces go under $CARGO_TARGET_DIR/graftbench
when that is set, else under graftbench/out.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading

import build

WORKLOADS = ("reproject", "dedup")
HEAP = "4g"


def timeout_s(seconds):
    """How long a run may take before its JVM is killed: session start,
    set-up, warm-up (capped at 30 s in Main), checks and probes, plus
    twice the measured time."""
    return 100 + 2 * seconds

# Spark on JDK 17 needs these outside spark-submit; the same list as
# org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions().
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def work_root():
    base = os.environ.get("CARGO_TARGET_DIR") or os.path.join(build.HERE, "out")
    return os.path.join(os.path.abspath(base), "graftbench")


def jvm(main, args, timeout_s):
    """Runs a benchmark main class, relaying its stdout. Returns (exit
    code, last stdout line). The JVM is killed if it outlives timeout_s."""
    root = work_root()
    classes = build.build(os.path.join(root, "build"))
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: GC re-sizing otherwise adds CPU time that varies from
    # run to run. It is not pre-touched: that took 2-4 s of session start
    # on a busy host, and the warm-up iterations touch the young generation
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1536m", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=root)
    timer = threading.Timer(timeout_s, proc.kill)
    timer.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            if line.strip():
                last = line.strip()
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return rc, last


def run_once(workload, seed, seconds, trace):
    root = work_root()
    rc, last = jvm("graftbench.Main",
                   ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                    "--trace", str(trace), "--work-dir", root], timeout_s(seconds))
    if rc != 0:
        print(f"graftbench: JVM exited with {rc}", file=sys.stderr)
        return rc
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print("graftbench: no result line", file=sys.stderr)
        return 1
    return 0


def repeat(workload, runs, seconds, trace):
    """Runs seeds 1..runs in fresh processes and prints each metric's
    quartile spread over its median against its bound. Passes if every
    spread is within a third of its bound, except setup_s (one session
    start per process, so it spreads more), which must be within its
    bound."""
    values = {}
    for seed in range(1, runs + 1):
        out = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", workload,
                              "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                             stdout=subprocess.PIPE, text=True, check=True).stdout
        lines = out.strip().splitlines()
        result = json.loads(lines[-1])
        for line in lines:
            if line.startswith(("graftbench: iterations", "graftbench: jit")):
                print(f"seed {seed}: {line[len('graftbench: '):]}")
        if not result["correct"]:
            print(f"seed {seed}: incorrect ({result['failed']}/{result['attempted']} failed)")
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
    bounds = {}
    spec = os.path.join(build.ROOT, "BENCHMARK.json")
    if os.path.exists(spec):
        with open(spec) as f:
            bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    ok = True
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        verdict = ""
        if b is not None:
            limit = b if k == "setup_s" else b / 3
            ok = ok and spread <= limit
            verdict = ("ok" if spread <= limit else "WIDE") + f" (limit {limit:.3f}, bound {b})"
        print(f"{workload} {k}: median {med:.4g} spread {spread:.3f} {verdict}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--repeat", type=int, metavar="N")
    a = ap.parse_args()
    if not build.program_present():
        print("graftbench: graft's sources (src/main/scala, build.sbt) are not next to the benchmark",
              file=sys.stderr)
        return 2
    if a.selftest:
        rc, _ = jvm("graftbench.SelfTest", ["--work-dir", work_root()], 600)
        return rc
    if a.workload is None:
        ap.error("--workload is required")
    if a.repeat:
        return repeat(a.workload, a.repeat, a.seconds, a.trace)
    return run_once(a.workload, a.seed, a.seconds, a.trace)


if __name__ == "__main__":
    sys.exit(main())
