#!/usr/bin/env python3
"""Print each operation's steps from a perfbench trace, with their
actions, jobs, stages, walls and job start offsets.

    python3 tools/trace_steps.py .bench_build/traces/curate-seed1.json [--op N]
    python3 tools/trace_steps.py .bench_build/traces/dca_interactive-seed1.json --by-name

The trace is the span list `perfbench/run.py --trace 1` writes: spans
nest workload > operation > step > action (one SQL execution) > job >
stage, each with epoch-microsecond start/end. A job whose parent is a
step ran outside any SQL execution (for example a parquet schema
inference read). Offsets are milliseconds from the step's start. By
default every operation is printed; --op N prints only the N-th (1-based).
--by-name prints one line per operation name instead: how many ran, and
per operation the mean wall, the mean wall of each step, and the mean
actions, jobs and stages.
"""
import argparse
import collections
import json


def ms(us):
    return us / 1000.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace", help="trace JSON written by perfbench/run.py --trace 1")
    ap.add_argument("--op", type=int, default=0, help="print only the N-th operation (1-based)")
    ap.add_argument("--by-name", action="store_true",
                    help="print per-name means instead of each operation")
    a = ap.parse_args()

    with open(a.trace) as f:
        spans = json.load(f)
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    for v in kids.values():
        v.sort(key=lambda s: s["start_us"])

    def wall(s):
        return ms(s["end_us"] - s["start_us"])

    def below(s, level):
        """Spans of `level` anywhere under s."""
        out = []
        for k in kids[s["id"]]:
            out += [k] if k["level"] == level else below(k, level)
        return out

    def job_line(job, origin, indent):
        n = len(below(job, "stage"))
        print(f"{indent}[+{ms(job['start_us'] - origin):8.1f} ms] {job['name']:<10}"
              f" {wall(job):8.1f} ms  {n} stage{'s' if n != 1 else ''}")

    ops = [s for s in spans if s["level"] == "operation"]
    if a.by_name:
        by_name = collections.defaultdict(list)
        for op in ops:
            by_name[op["name"]].append(op)
        print(f"{'operation':<16} {'n':>4} {'wall ms':>9}  {'steps (mean ms)':<34}"
              f" {'actions':>7} {'jobs':>6} {'stages':>6}")
        for name in sorted(by_name):
            group = by_name[name]
            step_ms = collections.defaultdict(float)
            for op in group:
                for st in kids[op["id"]]:
                    if st["level"] == "step":
                        step_ms[st["name"]] += wall(st)
            steps = " ".join(f"{k} {v / len(group):.1f}" for k, v in step_ms.items())

            def mean(level):
                return sum(len(below(op, level)) for op in group) / len(group)

            print(f"{name:<16} {len(group):>4} {sum(map(wall, group)) / len(group):>9.1f}  {steps:<34}"
                  f" {mean('action'):>7.2f} {mean('job'):>6.2f} {mean('stage'):>6.2f}")
        return
    for i, op in enumerate(ops, 1):
        if a.op and i != a.op:
            continue
        steps = [k for k in kids[op["id"]] if k["level"] == "step"]
        print(f"operation {i} {op['name']!r}: wall {wall(op):.1f} ms, "
              f"{len(steps)} steps, {len(below(op, 'action'))} actions, "
              f"{len(below(op, 'job'))} jobs, {len(below(op, 'stage'))} stages")
        for st in steps:
            acts = [k for k in kids[st["id"]] if k["level"] == "action"]
            print(f"  step {st['name']:<12} wall {wall(st):8.1f} ms  {len(acts)} actions  "
                  f"{len(below(st, 'job'))} jobs  {len(below(st, 'stage'))} stages")
            for k in kids[st["id"]]:
                if k["level"] == "job":
                    job_line(k, st["start_us"], "    ")
                elif k["level"] == "action":
                    print(f"    action {k['name']:<8} at +{ms(k['start_us'] - st['start_us']):.1f} ms,"
                          f" wall {wall(k):.1f} ms, {len(below(k, 'job'))} jobs")
                    for j in below(k, "job"):
                        job_line(j, st["start_us"], "      ")


if __name__ == "__main__":
    main()
