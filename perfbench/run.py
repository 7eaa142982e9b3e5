#!/usr/bin/env python3
"""Benchmark entry point: build the engine from source, run one workload once
and print its metrics, ending with one JSON line.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout of the repository. Workloads:
cdc_bulk, cdc_trickle, query_mix (see perfbench/README.md). `--trace 0`
prints the end-to-end metrics; `--trace 1` runs with the benchmark's Spark
listeners attached and prints the per-layer metrics, writes the spans and the
per-layer self-time table, and states the tracing overhead when an untraced
run of the same workload and seed is on record.
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
sys.path.insert(0, HERE)

from build import build, fail, spark_jars  # noqa: E402

WORKLOADS = ("cdc_bulk", "cdc_trickle", "query_mix")
QUERY_MIX_SF = 0.01
HEAP = "3g"
RUN_TIMEOUT_S = 160


def jvm_flags(run_dir):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    flags = [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
             "-XX:PerMethodRecompilationCutoff=-1", "-XX:PerBytecodeRecompilationCutoff=-1",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", default="",
                    help="comma list of expectations to falsify (gate self-test only)")
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the repository root (BENCHMARK.json not found)")
    spec = json.load(open(spec_path))
    jars = spark_jars(root)
    classes, digest = build(root, jars)
    # set-up is timed from here: the build happens once per checkout
    t_setup = time.time()

    runs = os.path.join(root, ".bench_runs")
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(runs, name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    data_dir = ""
    if a.workload == "query_mix":
        import gen_tables
        data_dir = os.path.join(run_dir, "data")
        gen_tables.generate(data_dir, QUERY_MIX_SF, a.seed)

    cmd = ["java"] + jvm_flags(run_dir) + [
        "-cp", classes + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--run-dir", run_dir,
        "--data-dir", data_dir, "--t-start", str(int(t_setup * 1000))]
    if a.perturb:
        cmd += ["--perturb", a.perturb]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            p.wait(timeout=max(30, RUN_TIMEOUT_S - (time.time() - t_setup)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run timed out; see {log_path}")
    res_path = os.path.join(run_dir, "result.json")
    if not os.path.isfile(res_path):
        fail(f"the JVM wrote no result (exit {p.returncode}); see {log_path}")
    res = json.load(open(res_path))
    header = res["header"]
    checks = res["checks"]
    failed = res["failed"]

    if a.workload == "query_mix" and not res.get("error"):
        import oracle
        bad = oracle.check(run_dir, data_dir,
                           os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                                        "oracle-cache"),
                           key=f"{a.seed}-{QUERY_MIX_SF}-{oracle.generator_digest()}",
                           perturb="oracle" in a.perturb.split(","))
        for n, ok, why in bad:
            checks.append({"name": f"oracle:{n}", "got": why, "expected": "match"})
            if not ok:
                failed += header["executions"].get(n, 0) - \
                    header["failed_executions"].get(n, 0)

    correct = (res.get("error") is None and failed == 0 and
               all(c["got"] == c["expected"] for c in checks))
    header.update({"git_commit": git_commit(root), "source_digest": digest,
                   "sf": QUERY_MIX_SF if a.workload == "query_mix" else None,
                   "jars": jars, "python": sys.version.split()[0]})
    attempted = max(1, res["attempted"])
    header["error_rate"] = failed / attempted

    if a.trace:
        want = spec["per_layer"]
        got = res["layers"]
    else:
        want = spec["end_to_end"]
        got = res["e2e"]
    metrics = {}
    for m in want:
        v = got.get(m["name"], {}).get("value")
        # a layer this workload never calls reads 0
        metrics[m["name"]] = {"value": v if v is not None else 0.0, "unit": m["unit"]}

    artifact = {"header": header, "checks": checks, "error": res.get("error"),
                "correct": correct, "attempted": attempted, "failed": failed,
                "e2e": res["e2e"], "layers": res["layers"]}
    with open(os.path.join(runs, f"{name}.json"), "w") as f:
        json.dump(artifact, f, indent=1)

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}  "
          f"cpus {header.get('cpus')}  master {header.get('master')}")
    for k, m in metrics.items():
        print(f"  {k:40s} {m['value']:14.4f} {m['unit']}")
    print(f"  latency samples {header.get('latency_samples')}, "
          f"beyond p90 {header.get('latency_p90_samples_beyond')}")
    for c in checks:
        mark = "ok " if c["got"] == c["expected"] else "FAIL"
        print(f"  gate {mark} {c['name']}: {c['got']} (expected {c['expected']})")
    if a.trace:
        import report
        print(report.layer_table(header.get("layer_self_ms", [])))
        print(report.overhead_line(runs, a.workload, a.seed, res["e2e"]))
    if res.get("error"):
        print(f"  error: {res['error']}")
    print(f"  correct {correct}  error_rate {header['error_rate']:.4f}")

    for d in ("state", "checkpoint", "source", "staging", "tmp", "spark-local", "data",
              "results", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if res.get("error") is None else 1)


if __name__ == "__main__":
    main()
