#!/usr/bin/env python3
"""Benchmark of the shipped `watch` CDC plane.

Usage (from the repository root):

    python3 cdcbench/run.py --workload trickle --seed 101 --seconds 10 --trace 0

Builds the harness together with the engine's main sources (cached by a hash
of the sources), runs one JVM that drives `graft.Main watch` over `mem://`
streams, and prints the result as the last line of standard output:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
Workloads, their configs and the seed list live in cdcbench/workloads.json.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD_DIR = os.path.join(BENCH, "target")
STAMP = os.path.join(BUILD_DIR, "cdcbench.classpath")
RUN_LIMIT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[cdcbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness and the engine's main sources; returns the classpath."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            saved = fh.read().split("\n", 1)
        if len(saved) == 2 and saved[0] == digest:
            return saved[1].strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += (f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
                 " -Dsbt.offline=true")
    env["SBT_OPTS"] = (opts + " -Xmx2g").strip()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    out = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, timeout=840)
    cp = [l for l in out.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if out.returncode != 0 or not cp:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed", 3)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala")):
        fail("engine sources (src/main/scala) not found next to cdcbench/")
    with open(os.path.join(BENCH, "workloads.json")) as fh:
        spec = json.load(fh)
    wl = spec["workloads"].get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload}; have {sorted(spec['workloads'])}")

    classpath = build()
    started = time.monotonic()
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spans = os.path.join(BENCH, ".work", "traces", f"{args.workload}-s{args.seed}.spans.jsonl")
    # Fixed heap and young generation, so the peak RSS does not follow
    # G1's adaptive sizing from run to run.
    heap = ["-Xms3g", "-Xmx3g", "-Xmn768m"] if args.trace else ["-Xms2g", "-Xmx2g", "-Xmn512m"]
    cmd = (["java"] + heap + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.bench.WatchBench",
              "--workload", args.workload, "--config", os.path.join(BENCH, wl["config"]),
              "--mode", wl["mode"], "--rate", str(wl["rate"]), "--keys", wl["keys"],
              "--zipf-keys", str(wl["zipf_keys"]), "--zipf-s", str(wl["zipf_s"]),
              "--warmup", str(wl["warmup"]), "--backlog", str(wl["backlog"]),
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace),
              "--work", work, "--spans", spans])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(BENCH, ".work", f"{args.workload}-s{args.seed}-t{args.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run timed out; log in {os.path.relpath(log_path, ROOT)}", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {proc.returncode}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1][:200]}", 6)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
