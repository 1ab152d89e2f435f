#!/usr/bin/env python3
"""Paired A/B of two checkouts on the repository's benchmark.

    python3 tools/perf_ab.py --parent <dir> --head <dir> \
        [--workload uniform --workload skewed] [--pairs 10] \
        [--seed 811] [--seed-step 1] [--out ab.jsonl]

Each of `--parent` and `--head` is a checkout (a `git clone` or `git
archive` of the commit) holding its own BENCHMARK.json and perfbench/.
For every workload the tool runs N pairs. A pair is one untraced
`perfbench/run.py` run on each side with the same seed, and the side
that runs first alternates from pair to pair. Pair i uses seed
`seed + i * seed_step`; `--seed-step 0` repeats one seed (a held-out
seed, say).

For every end-to-end metric of the head's BENCHMARK.json and every
workload it prints each side's median and quartiles, the head's win
fraction over the pairs (ties count for neither side), and a verdict:

  gain       the head wins at least 9/10 of the pairs and its median is
             better than the parent's by more than the parent's IQR;
  regressed  the head's median is worse than the parent's by more than
             the metric's bound;
  within     otherwise.

The raw run reports go to `--out`, one JSON line per run. The tool only
calls run.py; it changes nothing in either checkout except the build and
run directories run.py itself keeps there.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(tree, spec, workload, seed):
    cmd = list(spec["command"]) + ["--workload", workload, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"perf_ab: run failed in {tree} ({workload}, seed {seed})")
    rep = json.loads(lines[-1])
    rep["wall_s"] = time.time() - t0
    return rep


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(metric, parent, head):
    lower = metric["better"] == "lower"
    wins = sum(1 for p, h in zip(parent, head) if (h < p if lower else h > p))
    p1, pm, p3 = quartiles(parent)
    _, hm, _ = quartiles(head)
    gap = (pm - hm) if lower else (hm - pm)
    worse = (hm - pm) / pm if lower else (pm - hm) / pm
    if wins >= 0.9 * len(parent) and gap > (p3 - p1):
        v = "gain"
    elif worse > metric["bound"]:
        v = "regressed"
    else:
        v = "within"
    return wins, v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--head", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=811)
    ap.add_argument("--seed-step", type=int, default=1)
    ap.add_argument("--out")
    a = ap.parse_args()

    spec = json.load(open(os.path.join(a.head, "BENCHMARK.json")))
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    out = open(a.out, "a") if a.out else None
    sides = {"parent": a.parent, "head": a.head}
    results = {}
    for w in workloads:
        reps = {"parent": [], "head": []}
        for i in range(a.pairs):
            seed = a.seed + i * a.seed_step
            order = ["parent", "head"] if i % 2 == 0 else ["head", "parent"]
            for side in order:
                rep = run_once(sides[side], spec, w, seed)
                reps[side].append(rep)
                if not rep.get("correct", False):
                    print(f"# {w} pair {i} {side}: INCORRECT run ({rep.get('failed')} failed)")
                if out:
                    out.write(json.dumps({"workload": w, "pair": i, "seed": seed,
                                          "side": side, "report": rep}) + "\n")
                    out.flush()
            print(f"# {w} pair {i + 1}/{a.pairs} (seed {seed}, {order[0]} first) done",
                  flush=True)
        results[w] = reps

    print(f"{'workload':9} {'metric':24} {'parent q1/med/q3':>28} {'head q1/med/q3':>28} "
          f"{'change':>8} {'wins':>6}  verdict")
    for w, reps in results.items():
        for m in spec["end_to_end"]:
            n = m["name"]
            par = [r["metrics"][n]["value"] for r in reps["parent"]]
            hed = [r["metrics"][n]["value"] for r in reps["head"]]
            wins, v = verdict(m, par, hed)
            pq, hq = quartiles(par), quartiles(hed)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:9} {n:24} {fmt(pq):>28} {fmt(hq):>28} "
                  f"{(hq[1] - pq[1]) / pq[1]:>+8.3f} {wins:>3}/{len(par):<2}  {v}")
        bad = sum(1 for side in reps for r in reps[side] if not r.get("correct", False))
        if bad:
            print(f"{w:9} {bad} incorrect run(s)")


if __name__ == "__main__":
    main()
