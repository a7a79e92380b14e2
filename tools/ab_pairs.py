#!/usr/bin/env python3
"""Alternating A/B pairs of one benchmark workload in two checkouts.

    python3 tools/ab_pairs.py --parent ../parent --change . --workload kg_ops \\
        --pairs 10 --seed0 21 [--trace 0] [--out pairs.jsonl]

Pair i runs `python3 perfbench/run.py --workload W --seed s0+i --seconds S
--trace T` once in each checkout, S being the change's BENCHMARK.json
`run_seconds`, the parent first in even pairs and the change first in odd
ones, so neither side always runs on the warmer machine.
Each checkout builds its own benchmark on its first run (perfbench/run.py
does that), so build both before timing-sensitive work if that matters.

Prints, per metric: both sides' medians, the change against the parent in
per cent, the parent's quartiles and their distance (IQR), and in how many
pairs the change read better, in the direction BENCHMARK.json gives the
metric (ties count for neither side), and the claim rule's verdict: a
gain may be claimed only when the change wins at least nine tenths of the
pairs and its median is better than the parent's by more than the parent's
IQR; `win≥9/10` and `gap>IQR` say whether each half holds, `claim` whether
both do over at least ten pairs. For a metric with a `bound` it also prints
the change's IQR and `steady`: whether each side's IQR is within the bound
times the parent's median, the spread the benchmark's check allows before
it cannot tell the two sides apart. For a workload whose runs print
perfbench's per-operation line (`[perfbench] ops=... ms wall/cpu: ...` on
standard error, as kg_ops does), it also prints, per side, each operation
type's Java-thread CPU: the median over runs of the run's median, which
shows where a change to the end-to-end figure lands. Exits non-zero if a run
fails or a result is not `correct`. With --out, every run's result object
is appended to that file as one JSON line; with --log, every run's standard
error to that file.
"""
import argparse
import json
import math
import re
import statistics
import subprocess
import sys
from pathlib import Path


OPS_LINE = re.compile(r"\[perfbench\] ops=\d+ ms wall/cpu: (.*)")


def op_cpu(stderr):
    """Each operation type's median CPU ms in one run, from its per-op line
    (`kind wall/cpu,wall/cpu,...; kind ...`); empty if there is none."""
    for line in stderr.splitlines():
        m = OPS_LINE.search(line)
        if not m:
            continue
        out = {}
        for part in m.group(1).split("; "):
            kind, samples = part.split(" ", 1)
            cpu = [float(x.split("/")[1]) for x in samples.split(",")]
            cpu = [x for x in cpu if not math.isnan(x)]
            if cpu:
                out[kind] = statistics.median(cpu)
        return out
    return {}


def run_once(checkout, workload, seed, seconds, trace, log):
    """The run's result object and `op_cpu` of its standard error."""
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       stdin=subprocess.DEVNULL, text=True)
    if log:
        log.write(r.stderr)
        log.flush()
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"{checkout}: run.py seed {seed} exited {r.returncode} without a result\n"
                 + r.stderr[-2000:])
    return json.loads(lines[-1]), op_cpu(r.stderr)


def benchmark(checkout, trace):
    """BENCHMARK.json's run length and, per metric, which way is better and
    its bound (None for a metric without one)."""
    spec = json.loads((Path(checkout) / "BENCHMARK.json").read_text())
    metrics = spec["per_layer" if trace else "end_to_end"]
    return (spec["run_seconds"], {m["name"]: m["better"] for m in metrics},
            {m["name"]: m.get("bound") for m in metrics})


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out", help="append each run's result as a JSON line")
    ap.add_argument("--log", help="file for the runs' standard error (default: discarded)")
    a = ap.parse_args()

    seconds, better, bound = benchmark(a.change, a.trace)
    sides = {"parent": a.parent, "change": a.change}
    results = {"parent": [], "change": []}
    ops = {"parent": [], "change": []}
    bad = []
    log = open(a.log, "a") if a.log else None
    out = open(a.out, "a") if a.out else None
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res, cpu = run_once(sides[side], a.workload, seed, seconds, a.trace, log)
            results[side].append(res)
            ops[side].append(cpu)
            if not res.get("correct") or res.get("failed", 0):
                bad.append(f"{side} seed {seed}: correct={res.get('correct')} failed={res.get('failed')}")
            if out:
                out.write(json.dumps({"side": side, "seed": seed, "pair": i, "result": res}) + "\n")
                out.flush()
        vals = {s: {k: v["value"] for k, v in results[s][-1]["metrics"].items()} for s in sides}
        print(f"pair {i} seed {seed} ({order[0]} first): " + ", ".join(
            f"{k} {vals['parent'].get(k, float('nan')):.4g}/{vals['change'].get(k, float('nan')):.4g}"
            for k in sorted(better)), flush=True)

    print(f"\n{a.workload}, {a.pairs} pairs, seeds {a.seed0}-{a.seed0 + a.pairs - 1}, "
          f"{seconds}s runs, trace {a.trace}; values are parent/change")
    print(f"{'metric':<36} {'parent':>10} {'change':>10} {'delta':>8}  "
          f"{'parent q1-q3 (IQR)':>28}  {'wins':>5}  win≥9/10  gap>IQR  claim  "
          f"{'change IQR':>10}  steady")
    for name in sorted(better):
        p = [r["metrics"][name]["value"] for r in results["parent"] if name in r["metrics"]]
        c = [r["metrics"][name]["value"] for r in results["change"] if name in r["metrics"]]
        if len(p) != a.pairs or len(c) != a.pairs:
            print(f"{name:<36} missing from some runs")
            continue
        pm, cm = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        sign = 1 if better[name] == "higher" else -1
        wins = sum(1 for x, y in zip(p, c) if sign * (y - x) > 0)
        delta = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "n/a"
        won, gap = 10 * wins >= 9 * a.pairs, sign * (cm - pm) > q3 - q1
        yes = {True: "yes", False: "no"}
        c1, c3 = quartiles(c)
        steady = "n/a" if bound[name] is None else \
            yes[max(q3 - q1, c3 - c1) <= bound[name] * abs(pm)]
        print(f"{name:<36} {pm:>10.4g} {cm:>10.4g} {delta:>8}  "
              f"{q1:>9.4g}-{q3:<9.4g} ({q3 - q1:.3g})  {f'{wins}/{a.pairs}':>5}  "
              f"{yes[won]:<8}  {yes[gap]:<7}  {'gain' if won and gap and a.pairs >= 10 else 'none':<5}  "
              f"{c3 - c1:>10.3g}  {steady}")
    kinds = sorted({k for side in ops.values() for run in side for k in run})
    if kinds:
        print("\nJava-thread CPU per operation, ms: the median over runs of each run's median")
        print(f"{'operation':<36} {'parent':>10} {'change':>10} {'delta':>8}")
        for kind in kinds:
            p, c = ([run[kind] for run in ops[s] if kind in run] for s in ("parent", "change"))
            if not p or not c:
                print(f"{kind:<36} missing from one side")
                continue
            pm, cm = statistics.median(p), statistics.median(c)
            delta = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "n/a"
            print(f"{kind:<36} {pm:>10.4g} {cm:>10.4g} {delta:>8}")
    if bad:
        print("\nnot correct:\n  " + "\n  ".join(bad))
        sys.exit(1)


if __name__ == "__main__":
    main()
