#!/usr/bin/env python3
"""Bill a JFR recording's main-thread samples inside timed operations to Spark frames.

    jfr print --events jdk.ExecutionSample --stack-depth 1024 rec.jfr \\
      | python3 tools/jfr_main.py - [--within perfbench.Ctx.timed] [--under FRAME] [--top 25]

Reads `jfr print` text output (a file, or - for stdin) one event at a
time. Keeps the samples of the thread named "main" whose stack holds a
frame containing --within (by default the benchmark's timed operation)
and, if --under is given, a frame containing that too. Each kept sample
is billed to the frame nearest the leaf whose name starts with --prefix
(by default any Spark frame), or to "(no <prefix> frame)". Prints the kept
and total main-thread sample counts, then the --top buckets with their
counts and shares of the kept samples.

Record with a stack depth that reaches the operation's frame, e.g.
`java -XX:StartFlightRecording=filename=rec.jfr,settings=profile
-XX:FlightRecorderOptions:stackdepth=1024 ...`; a sample whose stack was
cut below it is not kept.
"""
import argparse
import collections
import sys


def samples(lines):
    """(thread name, [frame names, leaf first]) per ExecutionSample event."""
    thread, frames, in_stack = None, [], False
    for line in lines:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread = "):
            thread = s.split('"')[1] if '"' in s else s
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
            yield thread, frames
        elif in_stack and s and s != "...":
            frames.append(s.split("(")[0])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("samples", help="`jfr print --events jdk.ExecutionSample` output, or - for stdin")
    ap.add_argument("--within", default="perfbench.Ctx.timed",
                    help="keep samples with a frame containing this (default: %(default)s)")
    ap.add_argument("--under", default="", help="also require a frame containing this")
    ap.add_argument("--prefix", default="org.apache.spark.",
                    help="bill each sample to its leaf-most frame starting with this (default: %(default)s)")
    ap.add_argument("--top", type=int, default=25, help="buckets to print (default: %(default)s)")
    a = ap.parse_args()

    src = sys.stdin if a.samples == "-" else open(a.samples)
    main_total, kept, buckets = 0, 0, collections.Counter()
    for thread, frames in samples(src):
        if thread != "main":
            continue
        main_total += 1
        if not any(a.within in f for f in frames) or (a.under and not any(a.under in f for f in frames)):
            continue
        kept += 1
        buckets[next((f for f in frames if f.startswith(a.prefix)), f"(no {a.prefix} frame)")] += 1
    print(f"main-thread samples: {kept} kept of {main_total}")
    for frame, n in buckets.most_common(a.top):
        print(f"{n:7d} {100.0 * n / max(kept, 1):5.1f}%  {frame}")


if __name__ == "__main__":
    main()
