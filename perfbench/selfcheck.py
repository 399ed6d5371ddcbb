#!/usr/bin/env python3
"""Fast self-check of the benchmark harness at tiny scale.

    python3 perfbench/selfcheck.py

For every workload it runs run.py with tiny inputs twice: once clean,
where every operation must check out (failed == 0, correct), and once
with --fault, which plants one wrong output and must raise the error
rate (failed >= 1, not correct). One traced run checks that the result
carries exactly the per-layer metrics BENCHMARK.json names, and a clean
run that it carries exactly the end-to-end ones. Exits non-zero on any
failure.
"""
import json
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORKLOADS = ["curate", "dca_interactive", "index_upkeep"]


def run(workload, *extra):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    if p.returncode != 0:
        return None
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    failures = []

    def expect(what, ok):
        print(f"{'ok  ' if ok else 'FAIL'} {what}")
        if not ok:
            failures.append(what)

    for w in WORKLOADS:
        clean = run(w, "--trace", "0")
        expect(f"{w}: clean run checks out",
               clean is not None and clean["correct"] and clean["failed"] == 0)
        expect(f"{w}: clean run reports exactly the end-to-end metrics",
               clean is not None and set(clean["metrics"]) == e2e)
        bad = run(w, "--trace", "0", "--fault")
        expect(f"{w}: planted wrong output raises error_rate",
               bad is not None and bad["failed"] >= 1 and not bad["correct"])
    traced = run("dca_interactive", "--trace", "1")
    expect("traced run reports exactly the per-layer metrics",
           traced is not None and set(traced["metrics"]) == layer)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
