"""Runs one benchmark run of sociallinkspark and prints its result.

    python3 slbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0
    python3 slbench/run.py --selftest

Builds the program and the benchmark from source (slbench/build.py), runs
one JVM with a committed heap, and prints as the last stdout line
{"correct", "attempted", "failed", "metrics"} with every end-to-end
metric of BENCHMARK.json (--trace 0) or every per-layer metric (--trace 1),
each with its unit. Exits non-zero, printing no result, if the build or
the run fails. All files go under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HEAP = "2g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classes, work, main, args, limit):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")],
           # one committed, pre-faulted heap: the JVM never grows or shrinks
           # it mid-run, so page faults stay out of the timed reps
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-cp", build.classpath(classes), main, *args]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, cwd=build.ROOT)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"run exceeded {limit:.0f} s")
    finally:
        # never leave the JVM behind, whatever ended the wait
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"JVM exited with code {proc.returncode}")
    return out


def main():
    t0 = time.monotonic()
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    root = build.ROOT
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not a.selftest and a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {a.workload}")

    had_build = os.path.isdir(os.path.join(build.OUT, "classes"))
    classes = build.build()
    limit = (RUN_LIMIT_S if had_build else BUILD_LIMIT_S) - (time.monotonic() - t0)
    work = os.path.join(build.OUT, "work", f"{a.workload or 'selftest'}-{os.getpid()}")
    spans = os.path.join(build.OUT, "spans", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            sys.stdout.write(jvm(classes, work, "slbench.SelfTest", ["--work", work], limit))
            return
        out = jvm(classes, work, "slbench.Main",
                  ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--work", work, "--spans", spans], limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    raw = json.loads(out.strip().splitlines()[-1])
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    names = {m["name"] for m in declared}
    if set(raw["values"]) != names:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: missing {sorted(names - set(raw['values']))}, "
                           f"undeclared {sorted(set(raw['values']) - names)}")
    print("host " + json.dumps(raw["host"]))
    print(json.dumps({
        "correct": raw["correct"], "attempted": raw["attempted"], "failed": raw["failed"],
        "metrics": {m["name"]: {"value": raw["values"][m["name"]], "unit": m["unit"]} for m in declared},
    }))


if __name__ == "__main__":
    try:
        main()
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        print(f"[slbench] error: {e}", file=sys.stderr)
        sys.exit(2)
