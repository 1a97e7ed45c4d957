#!/usr/bin/env python3
"""A/B pairs of untraced slbench runs: a parent revision against the working tree.

    tools/ab_pairs.py <parent-rev> <workload> <pairs> <first-seed> <scratch-dir>

Extracts <parent-rev> with `git archive` into <scratch-dir>/parent and
copies the working tree's files (tracked and untracked, minus what
.gitignore lists) into <scratch-dir>/change, so both sides build and run
from the same directory tree. Pair i runs `slbench/run.py --trace 0` on
seed <first-seed>+i on both sides, the parent first on even pairs and the
change first on odd ones. Then prints, per end-to-end metric of
BENCHMARK.json: the parent and change medians, the parent's IQR, the
relative change, the bound and how many pairs the change won; and whether
written_mb, stored_mb and recall were equal on every seed.

Writes nothing in the repository and leaves no process running. Exits 1
as soon as a run fails or reports an incorrect or failed rep.
"""
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EQUAL = ("written_mb", "stored_mb", "recall")


def prepare(rev, scratch):
    parent, change = os.path.join(scratch, "parent"), os.path.join(scratch, "change")
    for d in (parent, change):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    archive = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", parent], input=archive, check=True)
    files = subprocess.run(["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
                           cwd=ROOT, check=True, capture_output=True).stdout.decode().split("\0")
    for f in filter(None, files):
        src = os.path.join(ROOT, f)
        if os.path.isfile(src):  # a deleted but still tracked file is skipped
            os.makedirs(os.path.dirname(os.path.join(change, f)), exist_ok=True)
            shutil.copy2(src, os.path.join(change, f))
    return {"parent": parent, "change": change}


def run(side, cwd, workload, seed, seconds):
    cmd = [sys.executable, "slbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate()
    finally:
        if proc.poll() is None:  # interrupted: take the JVM down with run.py
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = out.strip().splitlines()
    res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    if res is None or res["correct"] is not True or res["failed"]:
        sys.stderr.write(err[-4000:])
        verdict = res and {k: res[k] for k in ("correct", "attempted", "failed")}
        raise SystemExit(f"{side} seed {seed}: exit {proc.returncode}, {verdict}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    if len(sys.argv) != 6:
        raise SystemExit(__doc__.strip().splitlines()[2].strip())
    rev, workload, pairs, first, scratch = sys.argv[1:]
    pairs, first, scratch = int(pairs), int(first), os.path.abspath(scratch)
    if os.path.commonpath([scratch, ROOT]) == ROOT:
        raise SystemExit("the scratch dir must lie outside the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    dirs = prepare(rev, scratch)
    got = {"parent": [], "change": []}
    for i in range(pairs):
        seed = first + i
        for side in ("parent", "change") if i % 2 == 0 else ("change", "parent"):
            got[side].append(run(side, dirs[side], workload, seed, spec["run_seconds"]))
            print(f"pair {i + 1}/{pairs} seed {seed} {side}: "
                  + json.dumps(got[side][-1], sort_keys=True), file=sys.stderr, flush=True)

    print(f"{workload}, {pairs} pairs, seeds {first}-{first + pairs - 1}, parent {rev}")
    print(f"{'metric':<12} {'parent':>10} {'change':>10} {'IQR':>9} {'delta':>8} {'bound':>6}  won")
    for m in spec["end_to_end"]:
        name = m["name"]
        p = [r[name] for r in got["parent"]]
        c = [r[name] for r in got["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        q = statistics.quantiles(p, n=4, method="inclusive") if len(p) > 1 else [p[0]] * 3
        sign = 1 if m["better"] == "higher" else -1
        won = sum(sign * (y - x) > 0 for x, y in zip(p, c))
        delta = (cm - pm) / pm if pm else 0.0
        print(f"{name:<12} {pm:>10.4g} {cm:>10.4g} {q[2] - q[0]:>9.3g} {delta:>+8.1%} "
              f"{m['bound']:>6.2f}  {won}/{pairs}")
    for name in EQUAL:
        same = all(x[name] == y[name] for x, y in zip(got["parent"], got["change"]))
        print(f"{name} equal on every seed: {'yes' if same else 'NO'}")


if __name__ == "__main__":
    main()
