#!/usr/bin/env python3
"""Print each operation's steps from a perfbench trace, with their
actions, jobs, stages, walls and job start offsets.

    python3 tools/trace_steps.py .bench_build/traces/curate-seed1.json [--op N]

The trace is the span list `perfbench/run.py --trace 1` writes: spans
nest workload > operation > step > action (one SQL execution) > job >
stage, each with epoch-microsecond start/end. A job whose parent is a
step ran outside any SQL execution (for example a parquet schema
inference read). Offsets are milliseconds from the step's start. By
default every operation is printed; --op N prints only the N-th (1-based).
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
