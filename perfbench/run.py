#!/usr/bin/env python3
"""graft benchmark: one run of one workload in one Spark JVM at local[nproc].

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload cdc_bulk|cdc_tail --seed N --seconds S --trace 0|1

Builds the program and the benchmark (perfbench/build.py), writes the
seeded query tables (perfbench/tables.py), runs perfbench.Main, checks
the query outputs against the DuckDB oracle (tools/check_oracle.py) and
prints one JSON line as the last line of stdout: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end
metrics of BENCHMARK.json, with --trace 1 its per-layer metrics. Exits 1
without that line if the run cannot be made, and with correct=false and
exit code 1 if any correctness gate fails.
Everything the run writes goes under the build directory
($CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import tables  # noqa: E402

JVM_TIMEOUT_S = 165


def oracle_split(tables_dir, outputs):
    """PASS / ROWS-ONLY names from tools/check_oracle.py over the dumped outputs."""
    res = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                          tables_dir, outputs], cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, timeout=120)
    split = {"PASS": [], "ROWS-ONLY": [], "OTHER": []}
    for line in res.stdout.splitlines():
        m = re.match(r"^(q\w+)\s+(\S+)(.*)$", line)
        if not m:
            continue
        name, status, rest = m.groups()
        if status == "OK":
            split["PASS"].append(name)
        elif status == "ROWS-ONLY" and "EMPTY" not in rest:
            split["ROWS-ONLY"].append(name)
        else:
            split["OTHER"].append(f"{name} {status}{rest[:200]}")
    return split, res.stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "expected_split.json")) as f:
        expected = json.load(f)
    if args.workload not in expected:
        raise SystemExit(f"unknown workload {args.workload}")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    jar, archive = build.build(build_dir)
    work = os.path.join(build_dir, "perfbench", "work-" + args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    report = os.path.join(work, "report.json")
    tables_dir = os.path.join(work, "tables")
    t0 = time.perf_counter()
    tables.write(args.seed, tables_dir)
    tables_s = time.perf_counter() - t0
    # count metrics of a seed, kept per build of the sources, must repeat
    with open(os.path.join(build_dir, "perfbench", "build.stamp")) as f:
        stamp = f.read()[:16]
    counts = os.path.join(build_dir, "perfbench", "counts", stamp,
                          f"{args.workload}-{args.seed}.json")
    cmd = (build.java_cmd(jar, archive, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
                          f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
           + ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--tables", tables_dir, "--report", report,
              "--counts", counts])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"benchmark JVM timed out after {JVM_TIMEOUT_S}s (see {log.name})")
    if code != 0 or not os.path.exists(report):
        raise SystemExit(f"benchmark JVM failed with code {code} (see {work}/jvm.log)")
    with open(report) as f:
        rep = json.load(f)

    rep["e2e"]["setup_s"] += tables_s
    split, oracle_out = oracle_split(tables_dir, os.path.join(work, "queries"))
    with open(os.path.join(work, "oracle.txt"), "w") as f:
        f.write(oracle_out)
    want = expected[args.workload]
    split_ok = (sorted(split["PASS"]) == sorted(want["PASS"]) and
                sorted(split["ROWS-ONLY"]) == sorted(want["ROWS-ONLY"]) and not split["OTHER"])
    rep["gates"]["query_oracle_split"] = split_ok
    if not split_ok:
        rep["errors"].append(f"query oracle split {split} differs from {want}")

    section = "layers" if args.trace else "e2e"
    names = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in names:
        v = rep[section].get(m["name"])
        if v is None:
            # not measured, or a failed operation's infinite time: report
            # it as the worst value, never as a good one
            rep["errors"].append(f"metric {m['name']} not measured or infinite")
            v = 1e30 if m["better"] == "lower" else 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = all(rep["gates"].values()) and not rep["errors"] and rep["failed"] == 0
    for e in rep["errors"]:
        sys.stderr.write(f"perfbench: {e}\n")
    sys.stderr.write(f"perfbench: samples {json.dumps(rep['samples'])} gates "
                     f"{json.dumps(rep['gates'])}\n")
    print(json.dumps({"correct": correct, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
