#!/usr/bin/env python3
"""Layered baseline report: for each workload, one untraced and one traced
run on the same seed (their ratio is the tracing overhead), plus a
single-core (`--cores 1`) pass of the cdc_stream and lake_writes phases as
the serial baseline. Writes `perfbench/baseline/report.json` (every metric
of every run) and `perfbench/baseline/summary.md`. Run from the repository
root:

    python3 perfbench/report.py [--seed 7001]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args):
    cmd = [sys.executable, os.path.join(HERE, "run.py")] + args
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    lines = out.strip().splitlines()
    table = {}
    for line in lines:
        parts = line[2:].split() if line.startswith("# ") else []
        if len(parts) == 3:
            try:
                table[parts[0]] = {"value": float(parts[1]), "unit": parts[2]}
            except ValueError:
                pass
    notes = [line[2:] for line in lines if line.startswith("# ") and ": " in line]
    return {"result": json.loads(lines[-1]), "all_metrics": table, "notes": notes}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", default="7001")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    seconds = str(spec["run_seconds"])
    report = {"seed": int(a.seed), "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in [x["name"] for x in spec["workloads"]]:
        base = ["--workload", w, "--seed", a.seed, "--seconds", seconds]
        plain = run(base + ["--trace", "0"])
        traced = run(base + ["--trace", "1"])
        # one core makes every trigger slower: twice the open loop's cap
        serial = run(["--workload", w, "--seed", a.seed, "--seconds", str(2 * spec["run_seconds"]),
                      "--trace", "0", "--cores", "1", "--phases", "cdc_stream,lake_writes"])
        overhead = {}
        for m in spec["end_to_end"]:
            n = m["name"]
            u, t = plain["all_metrics"].get(n), traced["all_metrics"].get(n)
            if u and t and u["value"]:
                overhead[n] = t["value"] / u["value"]
        report["workloads"][w] = {"untraced": plain, "traced": traced,
                                  "serial_local1": serial,
                                  "trace.overhead_ratio": overhead}
    os.makedirs(os.path.join(HERE, "baseline"), exist_ok=True)
    with open(os.path.join(HERE, "baseline", "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    lines = summary(report, spec)
    with open(os.path.join(HERE, "baseline", "summary.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


def summary(report, spec):
    """The report as markdown: end-to-end metrics per configuration, the
    traced run's per-layer metrics, and each run's notes."""
    def fmt(v):
        return "—" if v is None else f"{v:.4g}"
    lines = [f"# Baseline (seed {report['seed']}, run_seconds {report['run_seconds']})", ""]
    for w, r in report["workloads"].items():
        lines += [f"## {w}", "", "| metric | local[4] untraced | local[4] traced | trace.overhead_ratio | local[1] |",
                  "|---|---|---|---|---|"]
        for m in spec["end_to_end"]:
            n = m["name"]
            u = r["untraced"]["all_metrics"].get(n, {}).get("value")
            t = r["traced"]["all_metrics"].get(n, {}).get("value")
            s = r["serial_local1"]["all_metrics"].get(n, {}).get("value")
            lines.append(f"| {n} ({m['unit']}) | {fmt(u)} | {fmt(t)} | {fmt(r['trace.overhead_ratio'].get(n))} | {fmt(s)} |")
        lines += ["", "Per-layer metrics (traced run):", "", "| metric | value | unit |", "|---|---|---|"]
        for m in spec["per_layer"]:
            v = r["traced"]["all_metrics"].get(m["name"], {}).get("value")
            lines.append(f"| {m['name']} | {fmt(v)} | {m['unit']} |")
        for run, title in [("untraced", "untraced run"), ("traced", "traced run"), ("serial_local1", "local[1] run")]:
            lines += ["", f"Notes ({title}): " + "; ".join(r[run]["notes"])]
        lines.append("")
    return lines


if __name__ == "__main__":
    main()
