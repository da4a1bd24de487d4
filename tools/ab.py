#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 tools/ab.py <parentDir> <changeDir> --workload W --pairs N
        [--seconds S] [--first-seed K]

Pair i runs `python3 perfbench/run.py --workload W --seed K+i --seconds S
--trace 0` in both checkouts, one after the other; the parent runs first in
even pairs and the change in odd ones, so drift of the host over the session
falls on both sides alike. For every end-to-end metric that BENCHMARK.json
(read from the change checkout) lists, it prints both medians, the parent's
interquartile range, the pairs the change won, and the verdict:

  worse       the change's median is worse than the parent's by more than
              the metric's bound (a fraction of the parent's median)
  unresolved  the parent's IQR exceeds the bound, so the runs cannot
              resolve it
  ok          neither

A run that exits non-zero or prints no result line counts as failed and its
pair is left out. The tool writes nothing; each checkout's runs build and
clean up as perfbench/run.py does.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        tail = p.stderr.strip().splitlines()[-3:]
        return None, f"exit {p.returncode}: {' | '.join(tail)}"
    try:
        return json.loads(lines[-1]), None
    except json.JSONDecodeError:
        return None, f"no result line: {lines[-1][:200]}"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.loads((a.change / "BENCHMARK.json").read_text())
    seconds = a.seconds if a.seconds is not None else spec.get("run_seconds", 10)
    metrics = spec["end_to_end"]
    sides = {"parent": a.parent, "change": a.change}

    pairs = []
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            rec, err = run(sides[side], a.workload, seed, seconds)
            if err:
                print(f"[ab] pair {i + 1} seed {seed} {side} failed: {err}", flush=True)
            elif not rec["correct"] or rec["failed"]:
                print(f"[ab] pair {i + 1} seed {seed} {side}: checks failed on "
                      f"{rec['failed']} of {rec['attempted']} ops", flush=True)
            got[side] = rec
        shown = "  ".join(
            f"{m['name']} " + " / ".join(
                "fail" if got[s] is None else f"{got[s]['metrics'][m['name']]['value']:.3f}"
                for s in ("parent", "change"))
            for m in metrics)
        print(f"[ab] pair {i + 1} seed {seed} ({order[0]} first) parent / change: {shown}",
              flush=True)
        if got["parent"] is not None and got["change"] is not None:
            pairs.append(got)

    print(f"\n{a.workload}: {len(pairs)} of {a.pairs} pairs complete")
    if not pairs:
        sys.exit(1)
    print(f"{'metric':<14}{'parent med':>12}{'parent IQR':>12}{'change med':>12}"
          f"{'delta':>9}{'won':>8}  verdict (bound)")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["parent"]["metrics"][name]["value"] for r in pairs]
        c = [r["change"]["metrics"][name]["value"] for r in pairs]
        pm, cm = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        won = sum((x < y) if lower else (x > y) for x, y in zip(c, p))
        delta = (cm - pm) / pm if pm else 0.0
        worse = (delta if lower else -delta) > m["bound"]
        spread = (q3 - q1) / pm if pm else 0.0
        verdict = "worse" if worse else "unresolved" if spread > m["bound"] else "ok"
        print(f"{name:<14}{pm:>12.3f}{q3 - q1:>12.3f}{cm:>12.3f}{delta:>+9.1%}"
              f"{f'{won}/{len(pairs)}':>8}  {verdict} ({m['bound']})")


if __name__ == "__main__":
    main()
