#!/usr/bin/env python3
"""Where a perfbench span spends its CPU samples, from a JFR recording.

Reads the execution samples of a Java Flight Recorder file through the
JDK's `jfr print --json` and the spans of a traced perfbench result file
(`perfbench/results/<workload>-seed<N>-trace1-<ms>.json`). For the spans
with the given name that ran inside ops (set-up and warm-up are left out),
it prints how many samples each thread family took inside them, and the
top self and inclusive frames of those samples.

    python3 tools/jfr_hot.py r.jfr perfbench/results/suite-seed1-trace1-*.json
    python3 tools/jfr_hot.py r.jfr result.json --span app.wcc --family executor
    python3 tools/jfr_hot.py r.jfr result.json --grep SizeEstimator

A thread family is the thread name with its numbers replaced by `#`; all
of Spark's task threads are one family, `executor`. JFR's stacks stop at
the lambda frames Spark's operators are compiled to, so the caller of a
hot frame may only be inferable by elimination. Standard library only.
"""
import argparse
import collections
import datetime
import json
import re
import signal
import subprocess
import sys


def family(thread):
    if thread.startswith("Executor task launch worker"):
        return "executor"
    return re.sub(r"\d+", "#", thread)


def epoch_ms(stamp):
    """Epoch milliseconds of a JFR timestamp such as
    2026-10-21T20:50:37.306544630Z (nanosecond fraction, any offset)."""
    m = re.match(r"(.*T\d\d:\d\d:\d\d)(\.\d+)?(Z|[+-]\d\d:\d\d)$", stamp)
    if not m:
        raise ValueError("unexpected JFR timestamp: " + stamp)
    zone = "+00:00" if m.group(3) == "Z" else m.group(3)
    whole = datetime.datetime.fromisoformat(m.group(1) + zone)
    return whole.timestamp() * 1000 + float(m.group(2) or 0) * 1000


def frame_name(frame):
    method = frame["method"]
    name = method["type"]["name"].replace("/", ".") + "." + method["name"]
    # a lambda's class name carries an address and a hash per JVM run
    return re.sub(r"(\$\$Lambda)\$\d+\+0x[0-9a-f]+\.\d+", r"\1", name)


def samples(jfr, depth):
    """(epoch ms, thread name, frame names leaf first) of each execution
    sample. `jfr print --json` pretty-prints one event per object at a
    fixed indentation, so events are decoded one at a time instead of
    holding the whole (hundreds of MB) document."""
    proc = subprocess.Popen(
        ["jfr", "print", "--json", "--events", "jdk.ExecutionSample",
         "--stack-depth", str(depth), jfr],
        stdout=subprocess.PIPE, text=True)
    chunk = None
    for line in proc.stdout:
        line = line.rstrip()
        if line in ('    "events": [{', "    }, {") or (
                chunk is not None and line == "    }]"):
            if chunk:
                yield event(json.loads("{" + "".join(chunk) + "}"))
            chunk = [] if line != "    }]" else None
        elif chunk is not None:
            chunk.append(line)
    if proc.wait() != 0:
        sys.exit("jfr print failed on " + jfr)


def event(e):
    values = e["values"]
    thread = (values.get("sampledThread") or {}).get("javaName") or "?"
    frames = (values.get("stackTrace") or {}).get("frames") or []
    return (epoch_ms(values["startTime"]), thread,
            [frame_name(f) for f in frames])


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("jfr", help="JFR recording")
    ap.add_argument("result", help="traced perfbench result file")
    ap.add_argument("--span", default="app.pagerank",
                    help="span name (default app.pagerank)")
    ap.add_argument("--family", action="append", default=[],
                    help="count frames only of thread families containing "
                         "this text (repeatable; default all)")
    ap.add_argument("--grep", help="also count, per family, the samples "
                                   "with a frame matching this regex")
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--stack-depth", type=int, default=512)
    args = ap.parse_args()

    with open(args.result) as f:
        result = json.load(f)
    spans = sorted((s["start_ms"], s["end_ms"]) for s in result["spans"]
                   if s["name"] == args.span and s["op"] >= 0)
    if not spans:
        sys.exit("no '%s' span inside an op in %s (traced with --trace 1?)"
                 % (args.span, args.result))

    def inside(t):
        return any(a <= t <= b for a, b in spans)

    per_family = collections.Counter()
    grepped = collections.Counter()
    self_frames = collections.Counter()
    incl_frames = collections.Counter()
    counted = 0
    pattern = re.compile(args.grep) if args.grep else None
    for t, thread, frames in samples(args.jfr, args.stack_depth):
        if not inside(t):
            continue
        fam = family(thread)
        per_family[fam] += 1
        if pattern and any(pattern.search(f) for f in frames):
            grepped[fam] += 1
        if args.family and not any(x in fam for x in args.family):
            continue
        counted += 1
        if frames:
            self_frames[frames[0]] += 1
        incl_frames.update(set(frames))

    wall = sum(b - a for a, b in spans) / 1000
    print("%s: %d spans inside ops, %.2f s; %d samples inside them"
          % (args.span, len(spans), wall, sum(per_family.values())))
    print("\n%8s  %s" % ("samples", "thread family"
                         + ("  (matching %s)" % args.grep if pattern else "")))
    for fam, n in per_family.most_common():
        extra = "  (%d)" % grepped[fam] if pattern else ""
        print("%8d  %s%s" % (n, fam, extra))
    scope = ", ".join(args.family) if args.family else "all families"
    for title, counter in (("self", self_frames), ("inclusive", incl_frames)):
        print("\ntop %s frames, %s (%d samples)" % (title, scope, counted))
        for frame, n in counter.most_common(args.top):
            print("%8d  %s" % (n, frame))


if __name__ == "__main__":
    main()
