#!/usr/bin/env python3
"""Share of a perfbench run's JFR execution samples per frame pattern, in one phase.

    python3 tools/jfr_share.py RECORDING PHASE_LOG [--after warm-up]
        [--before "timed loop"] [--stack-depth 512] [--threads] [PATTERN ...]

RECORDING is a `.jfr` file (printed here with `jfr print --events
jdk.ExecutionSample --stack-depth N`) or that command's saved output.
PHASE_LOG is the run's stderr, whose `[perfbench] <phase> done at <t> s`
lines time the phases from the start of the benchmark's `main`. The window
runs from the end of the `--after` phase to the end of the `--before`
phase: by default the timed loop. Time zero is the first sample taken in
`graft.perfbench.Main.main`.

A PATTERN is `label=regex` or a bare regex; a sample counts for it when any
frame of its stack matches. Without patterns the Terraform refresh buckets
below are counted. Each line prints the samples and their share of all the
samples in the window. With `--threads` the window's samples are also
split by the name of the sampled thread, digits collapsed to `N` (all
`Executor task launch worker-N` threads count as one), with each pattern's
samples per thread when patterns are given. The JVM must record deep stacks
(`-XX:FlightRecorderOptions=stackdepth=512`) and `jfr print` must be asked
for them (`--stack-depth`), or Spark's deep planner stacks lose their
`graft.` frames.
"""
import argparse
import re
import subprocess
import sys

DEFAULT_PATTERNS = [
    ("parse (Builders.rowsForFile)", r"graft\.tf\.Builders\$\.rowsForFile\("),
    ("Terraform.list", r"graft\.tf\.Terraform\$\.list\("),
    ("Terraform.publish", r"graft\.tf\.Terraform\$\.publish\("),
    ("Terraform.carryOver", r"graft\.tf\.Terraform\$\.carryOver\("),
    ("SizeEstimator", r"org\.apache\.spark\.util\.SizeEstimator"),
    ("ExpressionEncoder.resolveAndBind", r"ExpressionEncoder\.resolveAndBind\("),
    ("ClosureCleaner", r"org\.apache\.spark\.util\.(Spark)?ClosureCleaner"),
    ("task deserialization", r"java\.io\.ObjectInputStream\.readObject\("),
    ("Janino compile", r"org\.codehaus\."),
]

TIME = re.compile(r"startTime = (\d+):(\d+):(\d+(?:\.\d+)?)")
THREAD = re.compile(r'sampledThread = "(.*)" \(')
PHASE = re.compile(r"\[perfbench\] (.+?) done at ([\d.]+) s")


def samples(text):
    """(seconds of day, stack text) per jdk.ExecutionSample event."""
    for event in text.split("jdk.ExecutionSample {")[1:]:
        m = TIME.search(event)
        if m:
            h, mi, s = m.groups()
            yield int(h) * 3600 + int(mi) * 60 + float(s), event


def phase_end(log, name):
    for line in log.splitlines():
        m = PHASE.search(line)
        if m and m.group(1).startswith(name):
            return float(m.group(2))
    sys.exit(f"no '{name}' phase in the log")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("phase_log")
    ap.add_argument("--after", default="warm-up")
    ap.add_argument("--before", default="timed loop")
    ap.add_argument("--stack-depth", type=int, default=512)
    ap.add_argument("--threads", action="store_true",
                    help="split the samples by thread name, digits collapsed")
    ap.add_argument("patterns", nargs="*")
    a = ap.parse_intermixed_args()

    if a.recording.endswith(".jfr"):
        text = subprocess.run(["jfr", "print", "--events", "jdk.ExecutionSample",
                               "--stack-depth", str(a.stack_depth), a.recording],
                              check=True, capture_output=True, text=True).stdout
    else:
        text = open(a.recording).read()
    log = open(a.phase_log).read()
    lo, hi = phase_end(log, a.after), phase_end(log, a.before)

    evs = list(samples(text))
    if not evs:
        sys.exit("no jdk.ExecutionSample events")
    in_main = [t for t, e in evs if "graft.perfbench.Main.main(" in e]
    zero = min(in_main) if in_main else min(t for t, _ in evs)
    # a recording across midnight: later times of day wrap around
    window = [e for t, e in evs if lo <= (t - zero) % 86400 < hi]

    patterns = [p.split("=", 1) if "=" in p else (p, p) for p in a.patterns] or DEFAULT_PATTERNS
    n = len(window)
    print(f"{n} samples between '{a.after}' ({lo:.1f} s) and '{a.before}' ({hi:.1f} s)")
    for label, rx in patterns:
        r = re.compile(rx)
        k = sum(1 for e in window if r.search(e))
        print(f"{k:7d}  {100.0 * k / max(1, n):5.1f} %  {label}")
    if a.threads:
        by_thread = {}
        for e in window:
            by_thread.setdefault(thread(e), []).append(e)
        print("per thread:")
        for name, es in sorted(by_thread.items(), key=lambda kv: -len(kv[1])):
            print(f"{len(es):7d}  {100.0 * len(es) / max(1, n):5.1f} %  {name}")
            if a.patterns:
                for label, rx in patterns:
                    r = re.compile(rx)
                    k = sum(1 for e in es if r.search(e))
                    if k:
                        print(f"{k:15d}  {label}")


def thread(event):
    """The sampled thread's name, each run of digits collapsed to N."""
    m = THREAD.search(event)
    return re.sub(r"\d+", "N", m.group(1)) if m else "?"


if __name__ == "__main__":
    main()
