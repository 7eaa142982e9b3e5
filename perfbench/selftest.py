#!/usr/bin/env python3
"""Gate self-test: every correctness gate must trip when its expectation is
perturbed, and the run must then report `correct: false`.

    python3 perfbench/selftest.py

Runs two short runs from the repository root:
  * cdc_trickle with the state model given one phantom key (state_rows and
    state_hash), one extra injected redelivery (dedup.dropped_ratio) and one
    extra expected poison row (sink.row_errors);
  * query_mix with one DuckDB oracle result missing its last row (oracle gate)
    and one entry's first-pass hash altered (the timed-pass result gate).
Exits 0 only if every gate tripped.
"""
import json
import os
import subprocess
import sys


def run(workload, perturb):
    r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", "11", "--seconds", "4",
                        "--trace", "0", "--perturb", perturb], capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if not lines:
        raise SystemExit(f"{workload}: no output (exit {r.returncode})\n{r.stderr[-2000:]}")
    art = json.load(open(os.path.join(".bench_runs", f"{workload}-s11-t0.json")))
    return json.loads(lines[-1]), art


def main():
    ok = True

    def expect(cond, what):
        nonlocal ok
        print(f"  {'ok  ' if cond else 'FAIL'} {what}")
        ok &= cond

    res, art = run("cdc_trickle", "state,dedup,row_errors")
    tripped = {c["name"] for c in art["checks"] if c["got"] != c["expected"]}
    print("cdc_trickle, perturbed expectations:")
    for g in ("state_rows", "state_hash", "dedup.dropped_ratio", "sink.row_errors"):
        expect(g in tripped, f"gate {g} trips")
    expect(res["correct"] is False, "run reports correct: false")

    res, art = run("query_mix", "oracle,stability")
    tripped = {c["name"] for c in art["checks"] if c["got"] != c["expected"]}
    print("query_mix, perturbed expectations:")
    expect(any(t.startswith("oracle:") for t in tripped), "an oracle gate trips")
    expect(res["failed"] > 0, f"timed executions counted as failed ({res['failed']})")
    expect(res["correct"] is False, "run reports correct: false")
    print("self-test", "passed" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
