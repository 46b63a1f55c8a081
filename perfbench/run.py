"""Runs one benchmark workload once and prints its metrics.

    python3 perfbench/run.py --workload loops --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program from
source (perfbench/build.py). Inputs are generated from the seed, the
harness JVM runs the workload, and the results are checked: query
results against the DuckDB oracle, tool answers against the corpus
generator. The last line of standard output is one JSON object:

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json for --trace 0 and the
per-layer metrics for --trace 1. The exit code is 0 only when every
checked result is correct. Everything the run writes stays under
.bench_build/perfbench.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORK = os.path.join(".bench_build", "perfbench")
CPUS = os.cpu_count() or 4
JVM_TIMEOUT_S = 160
TABLE_SEED = 42

# Each workload's inputs, and the length of one warm pass on a 4-core
# machine (`pass_s`). A run makes ceil(seconds / pass_s) warm passes, so
# that how many passes a run makes does not depend on how fast the
# machine is. Sizes are chosen so that one run, set-up and cold pass
# included, stays near 50 s on a 4-core machine.
WORKLOADS = {
    # iterative graph loops bound by job count and driver idle time:
    # star components (pipeline) and landmark BFS (graph), both driven
    # through ops.Iterate
    "loops": {"sf": 0.001, "pass_s": 4.5, "queries": [
        "q267_star_components", "q257_landmark_distance"]},
    # code intelligence: index, MCP tool calls, incremental edits
    "codeintel": {"pass_s": 3.0, "files": 60, "fns_per_file": 4,
                  "packages": 6, "edit_files": 5},
}

JAVA_OPTS = ["-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false"] + [
    a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect",
                "java.io", "java.net", "java.nio", "java.util",
                "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action",
                "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def tables(sf):
    """The analytics tables are one fixed generated set per scale factor,
    like the suite's own test tables; the run's seed orders the queries
    instead."""
    import gen_tables
    d = os.path.join(WORK, "data", f"sf{sf}-seed{TABLE_SEED}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.write(d, sf, TABLE_SEED)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def commit(src_digest):
    try:
        # never look for a repository above the checkout
        env = dict(os.environ,
                   GIT_CEILING_DIRECTORIES=os.path.dirname(os.getcwd()))
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10, env=env)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + src_digest[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classes, digest = build.build(WORK)
    w = WORKLOADS[a.workload]
    out = os.path.abspath(os.path.join(
        WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    opts = {"workload": a.workload, "seed": a.seed,
            "passes": max(1, math.ceil(a.seconds / w["pass_s"])),
            "trace": a.trace, "cpus": CPUS, "out": out,
            "commit": commit(digest)}
    data = None
    if a.workload == "codeintel":
        opts.update({k: v for k, v in w.items() if k != "pass_s"})
    else:
        data = os.path.abspath(tables(w["sf"]))
        qs = w["queries"]
        # fingerprints of results already checked against the oracle,
        # for this build and table set
        verified = os.path.abspath(os.path.join(
            WORK, "verified", f"{digest[:16]}-sf{w['sf']}-seed{TABLE_SEED}.txt"))
        opts.update({"data": data, "sf": w["sf"], "queries": ",".join(qs),
                     "verified": verified})
    jars = build.spark_jars()
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={out}/tmp", "-cp",
           ":".join([os.path.abspath(classes)] + jars), "perfbench.Harness"]
           + [f"{k}={v}" for k, v in opts.items()])
    t0 = time.time()
    log_path = os.path.join(out, "harness.log")
    with open(log_path, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                               text=True, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness did not finish within {JVM_TIMEOUT_S} s;"
                             f" see {log_path}")
    jvm_s = time.time() - t0
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("PERFBENCH ")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(open(log_path).read()[-6000:])
        raise SystemExit(f"harness failed with exit code {r.returncode}")
    res = json.loads(lines[-1][len("PERFBENCH "):])

    mismatches = list(res["mismatches"])
    attempted, failed, wrong = res["attempted"], res["failed"], res["wrong"]
    if data is not None and os.path.isdir(os.path.join(out, "results")):
        import oracle
        bad, checked = oracle.check(data, out)
        mismatches += bad.values()
        # a query whose cold result is wrong was wrong in every pass
        wrong += len(bad) * (res["attempted"] // len(qs))
        prints = dict(ln.split() for ln in open(os.path.join(out, "fingerprints.txt")))
        good = [q for q in checked if q not in bad]
        if good:
            os.makedirs(os.path.dirname(opts["verified"]), exist_ok=True)
            with open(opts["verified"], "a") as f:
                f.writelines(f"{q} {prints[q]}\n" for q in good)
    metrics = dict(res["metrics"])
    metrics["ok_ratio"] = {"value": (attempted - failed - wrong) / attempted,
                           "unit": "ratio"}
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise SystemExit(f"harness did not report {missing}")
    shown = {m["name"]: metrics[m["name"]] for m in wanted}
    for why in mismatches:
        print(f"MISMATCH {why}", file=sys.stderr)
    record = {"provenance": res["provenance"], "jvm_wall_s": jvm_s,
              "mismatches": mismatches, "attempted": attempted,
              "failed": failed, "wrong": wrong, "metrics": metrics}
    with open(os.path.join(WORK, "runs",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "spark-local"), ignore_errors=True)
    print("provenance " + json.dumps(res["provenance"], sort_keys=True))
    print(json.dumps({"correct": wrong == 0, "attempted": attempted,
                      "failed": failed + wrong, "metrics": shown}))
    return 0 if wrong == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
