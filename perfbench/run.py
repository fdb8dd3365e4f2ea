"""The project's benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each exists):
  serve_mcp_2k    MCP tool calls over a seeded 2,000-model dbt project
  spark_sf001      one-shot Spark operators and the standing incremental
                   pipelines on seeded sf0.01-size tables

Each run builds the project from source if needed (perfbench/build.py),
generates its inputs from the seed, runs one JVM (local[N], N <= 4, one
client thread), checks every output (per-call checks on the serve tier,
the DuckDB oracle for every Spark result), prints a human-readable
report, and prints as its LAST stdout line one JSON object:

  {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
run is traced (spans around each call into a module, written to
perfbench/.out/<workload>-spans.jsonl, plus Spark execution counters) and
the metrics are the per-layer metrics. A layer a workload does not
exercise reports 0. Run-to-run artifacts go to perfbench/.out/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("serve_mcp_2k", "spark_sf001")
SCALE = 0.01
JVM_TIMEOUT_S = 165


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jvm_opts, cp = build.ensure()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("jvmtmp", "data"):
        os.makedirs(os.path.join(work, d))
    try:
        return run(a, spec, jvm_opts, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, spec, jvm_opts, cp, work):
    data = os.path.join(work, "data")
    if a.workload != "serve_mcp_2k":
        import gen_data
        gen_data.generate(data, a.seed, SCALE)
    out_file = os.path.join(work, "outcome.json")
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/jvmtmp"] + jvm_opts
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", work, "--out", out_file])
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    jvm_s = time.time() - t0
    if code != 0 or not os.path.exists(out_file):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        log(f"JVM run failed ({code}):\n{tail}")
        return 1
    with open(out_file) as f:
        res = json.load(f)

    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    oracle_s = 0.0
    if res["outputs"]:
        import oracle
        t1 = time.time()
        verdicts = oracle.check(data, res["outputs"], res["oracle"])
        oracle_s = time.time() - t1
        execs = res["detail"].get("executions", {})
        for q, why in verdicts.items():
            if why is not None:
                # every execution of a wrong query counts as failed
                failed += max(1, execs.get(q, 0))
                failures.append(f"{q}: oracle mismatch: {why}")
        res["detail"]["oracle_checked"] = len(verdicts)

    names = [m["name"] for m in spec["end_to_end" if a.trace == 0 else "per_layer"]]
    have = res["end_to_end" if a.trace == 0 else "per_layer"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    metrics = {}
    for n in names:
        if n in have:
            metrics[n] = {"value": have[n]["value"], "unit": have[n]["unit"]}
        elif a.trace == 1:
            metrics[n] = {"value": 0.0, "unit": units[n]}  # layer not exercised here
        else:
            log(f"end-to-end metric {n} missing from the {a.workload} run")
            return 1

    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "jvm_wall_s": round(jvm_s, 3), "oracle_s": round(oracle_s, 3),
        "end_to_end": res["end_to_end"], "per_layer": res["per_layer"],
        "failures": failures[:20], "detail": res["detail"]}
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(out_dir, f"{a.workload}-spans.jsonl"))

    for k, v in res["end_to_end"].items():
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    targets = res["detail"].get("baseline_targets_p95_ms", {})
    for k, v in res["detail"].get("serve", {}).items():
        t = targets.get(k.split("_")[0]) if k.endswith("_p95_ms") else None
        note = f"  (BASELINE.md target P95 < {t} ms, for information)" if t else ""
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}{note}")
    if a.trace:
        for k, v in res["per_layer"].items():
            print(f"{a.workload} [layer] {k} = {v['value']:.6g} {v['unit']}")
    for msg in failures[:10]:
        print(f"{a.workload} FAILED: {msg}")
    print(json.dumps({"detail": {k: report[k] for k in ("jvm_wall_s", "oracle_s")}
                      | {"box": res["detail"].get("box")}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
