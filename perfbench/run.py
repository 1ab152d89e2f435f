#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

    python3 perfbench/run.py --workload <uniform|skewed> --seed <n> \
        --seconds <s> --trace <0|1> [--cores <n>] [--phases <a,b>]

Run from the repository root. It compiles the engine (`src/main/scala`)
and the benchmark (`perfbench/scala`) with the Scala compiler shipped in
the Spark distribution into `.bench_build/` (skipped when the sources are
unchanged), generates the seeded operator-panel tables, runs one JVM
(`perfbench.Main`) that sets up and times every phase, checks the panel
outputs against their DuckDB oracles, and prints one JSON object as the
last line of standard output. With `--trace 0` its metrics are the
end-to-end metrics of BENCHMARK.json, with `--trace 1` the per-layer ones,
and the run's spans are kept in `.bench_runs/spans-<workload>-<seed>.jsonl`.
Everything else the run writes is deleted at its end.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

def spark_home():
    """$SPARK_HOME, else the first Spark distribution (a `bin/spark-submit`
    beside a `jars/` directory) found along PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit")))
        home = os.path.dirname(home)
        if os.path.exists(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    die("no Spark distribution: set SPARK_HOME or put its bin/ on PATH")


PANEL_SF = 0.01
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
PANEL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build(spark_jars):
    """Compiles engine + benchmark unless the classes match the sources."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        die("no engine sources under src/main/scala: run from the repository root")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars, "*")
    os.makedirs(os.path.join(BUILD, "tmp"))
    r = subprocess.run(["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={BUILD}/tmp", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def norm(rows, cols):
    """Columns sorted by name, then rows sorted: the engine's oracle gate."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i]
                         for i in order))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return sorted(cols), out


def check_panel(panel_dir, out_dir):
    """Each panel query's rows against its oracle SQL in DuckDB."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in PANEL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{panel_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    failures = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        rel = con.execute(f"SELECT * FROM read_parquet({files!r})")
        got = norm(rel.fetchall(), [d[0] for d in rel.description])
        orel = con.execute(sql)
        want = norm(orel.fetchall(), [d[0] for d in orel.description])
        if got != want:
            failures.append(f"batch_ops: {name} != oracle ({len(got[1])} vs {len(want[1])} rows)")
    return len(oracle), failures


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--phases", default="")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found: run from the repository root")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")

    t0 = time.time()
    spark_jars = os.path.join(spark_home(), "jars")
    classes = build(spark_jars)
    build_s = time.time() - t0

    runs = os.path.join(ROOT, ".bench_runs")
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        panel = os.path.join(work, "panel_in")
        phases = a.phases.split(",") if a.phases else []
        if not phases or "batch_ops" in phases:
            subprocess.run([sys.executable, os.path.join(HERE, "gen_panel.py"), panel,
                            str(a.seed), str(PANEL_SF)], check=True)
        gen_s = time.time() - t0
        cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={work}/tmp",
                "-cp", classes + os.pathsep + os.path.join(spark_jars, "*"),
                "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(a.cores),
                "--dir", work, "--panel", panel]
        if a.phases:
            cmd += ["--phases", a.phases]
        log = os.path.join(work, "jvm.log")
        t_jvm = time.time()
        with open(log, "w") as lf:
            try:
                r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                   timeout=JVM_TIMEOUT_S - (time.time() - t_start) + build_s)
            except subprocess.TimeoutExpired:
                die("the benchmark JVM ran out of time")
        if r.returncode != 0:
            sys.stderr.write("".join(open(log).readlines()[-40:]))
            die(f"the benchmark JVM exited with code {r.returncode}")
        rep = json.load(open(os.path.join(work, "report.json")))
        rep["notes"]["wall_s.jvm"] = f"{time.time() - t_jvm:.1f}"
        t_check = time.time()
        attempted, failures = rep["attempted"], list(rep["failures"])
        failed = rep["failed"]
        if os.path.exists(os.path.join(work, "panel_out", "oracle_sql.json")):
            n, fs = check_panel(panel, os.path.join(work, "panel_out"))
            attempted += n
            failed += len(fs)
            failures += fs
        rep["notes"]["wall_s.duckdb_check"] = f"{time.time() - t_check:.1f}"
        if a.trace == "1":
            spans = os.path.join(runs, f"spans-{a.workload}-{a.seed}.jsonl")
            os.replace(os.path.join(work, "spans.jsonl"), spans)
            rep["notes"]["spans"] = os.path.relpath(spans, ROOT)
        metrics = rep["metrics"]
        metrics["setup_s"]["value"] += gen_s
        metrics["failed_ops_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}

        for k, v in rep["notes"].items():
            print(f"# {k}: {v}")
        for f in failures:
            print(f"# FAILED {f}")
        wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
        print(f"# {'metric':<44} {'value':>14}  unit")
        for k, v in metrics.items():
            print(f"# {k:<44} {v['value']:>14.4f}  {v['unit']}")
        out = {}
        for m in wanted:
            if m["name"] not in metrics:
                if a.phases:
                    continue  # a partial run reports its phases' metrics only
                die(f"metric {m['name']} missing from the run")
            out[m["name"]] = {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
