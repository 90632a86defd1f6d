#!/usr/bin/env python3
"""Benchmark of the outbreak app and the query engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (classes under perfbench/target); later runs
reuse the build until a source file changes. Inputs are generated from the
seed under .bench_build/perfbench/. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 its
per-layer ones; the traced run also leaves a span record (trace.json) next
to its result. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

# The paper's batch preparation steps as queries over `events`: the daily
# aggregate, the long-to-wide pivot and the cumulative-average detrend.
# Each launches a few short jobs.
QUERIES_SCAN = ["q11_daily_agg", "q12_pivot_events", "q14_detrend"]
WORKLOADS = {
    "outbreak_stream": [],
    "queries_scan": QUERIES_SCAN,
}
JVM_HEAP = "4g"
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = [d for d in dirnames if d != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
    return newest


def classpath():
    """Builds the program and the harness once per source state."""
    stamp = os.path.join(STATE, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) > newest_source_mtime():
        with open(stamp) as f:
            return f.read().strip()
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def run_jvm(cp, args, work, timeout):
    # Spark's scratch space (shuffle files, state store working copies)
    # goes under the run's directory, like everything else the run writes
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Run"] + args)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")


def metric_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no program sources next to the benchmark: "
                         "run from the root of a checkout of the repository")
    e2e_units, layer_units = metric_units()

    cp = classpath()
    started = time.time()  # a first run's build has its own time limit
    work = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", result_path]
    queries = WORKLOADS[a.workload]
    if queries:
        import gen
        data = gen.generate(os.path.join(STATE, "data", f"seed-{a.seed}"), a.seed)
        args += ["--data", data, "--queries", ",".join(queries)]
    remaining = RUN_TIMEOUT_S - (time.time() - started)
    run_jvm(cp, args, work, max(30, remaining))
    with open(result_path) as f:
        res = json.load(f)

    checks = list(res["checks"])
    if queries:
        import checks as qchecks
        checks += qchecks.check_mix(res["extra"]["outputs"], data,
                                    os.path.join(work, "oracle_sql.json"),
                                    os.path.join(STATE, "oracle", f"seed-{a.seed}"))
    correct = all(c["ok"] for c in checks)
    for c in checks:
        if not c["ok"]:
            log(f"CHECK FAILED {c['name']}: {c['detail']}")
    log(f"{sum(c['ok'] for c in checks)}/{len(checks)} output checks passed")

    if a.trace:
        layers = res["layers"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in layer_units.items()}
    else:
        metrics = {n: {"value": float(res["e2e"][n]), "unit": u}
                   for n, u in e2e_units.items()}
    for name, v in res["named"].items():
        print(f"{a.workload} {name} = {v:.4f} s")
    for name, m in metrics.items():
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")

    # keep the result (and the traced run's record) after the work dir goes
    keep = os.path.join(STATE, "results")
    os.makedirs(keep, exist_ok=True)
    stem = f"{a.workload}-{a.seed}-trace{a.trace}"
    if a.trace:
        untraced = os.path.join(keep, f"{a.workload}-{a.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            res["tracing_overhead"] = {
                k: res["e2e"][k] / base[k] - 1.0 for k in base if base[k]}
            log("tracing overhead vs the untraced run of this seed: " +
                ", ".join(f"{k} {v:+.1%}" for k, v in res["tracing_overhead"].items()))
        shutil.copy(os.path.join(work, "trace.json"), os.path.join(keep, stem + "-trace.json"))
    res["checks"] = checks
    with open(os.path.join(keep, stem + ".json"), "w") as f:
        json.dump(res, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
