#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload build_dict --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source with sbt on first use (and
again whenever a source or build file changes), then runs the workload in one
JVM. The last line of standard output is the result object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Exits non-zero, without a result, if the build, the run or a check of the
result's shape fails.
"""
import argparse
import fcntl
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
LAUNCH = HERE / "target" / "launch.txt"
STAMP = HERE / "target" / "build.stamp"
WORKLOADS = ("build_dict", "kg_ops")
HEAP = "3g"
RUN_TIMEOUT_S = 175


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, engine and benchmark."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file() and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = (opts + " -Dsbt.offline=true -Xmx2g").strip()
    return env


def build():
    want = stamp()
    if LAUNCH.is_file() and STAMP.is_file() and STAMP.read_text() == want:
        return
    log("building engine and benchmark with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchSpec"],
                       cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=600)
    if r.returncode != 0 or not LAUNCH.is_file():
        sys.exit(f"sbt build failed ({r.returncode})")
    STAMP.write_text(want)
    log(f"built in {time.time() - t0:.0f}s")


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated run still stops its JVM (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit(f"engine sources not found under {ROOT}: run from a full checkout")
    WORK.mkdir(exist_ok=True)
    with open(WORK / "lock", "w") as lock:
        # one run at a time per checkout: runs share the scratch directory
        fcntl.flock(lock, fcntl.LOCK_EX)
        run(a)


def run(a):
    build()
    lines = LAUNCH.read_text().splitlines()
    cp, flags = lines[0], [f for f in lines[1:] if f]
    out = WORK / "result.json"
    out.unlink(missing_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={WORK}"] + flags +
           ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(WORK / "run"), "--out", str(out),
            "--spec", str(ROOT / "BENCHMARK.json")])
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL)
    try:
        rc = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if rc != 0 or not out.is_file():
        sys.exit(f"benchmark JVM failed ({rc})")
    result = json.loads(out.read_text())
    want = expected_metrics(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        sys.exit(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
