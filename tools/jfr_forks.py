#!/usr/bin/env python3
"""Count the child processes a JVM started, from a JFR recording.

    python3 tools/jfr_forks.py <file.jfr> [--top N]

Reads the recording's jdk.ProcessStart events with the JDK's `jfr` tool
(`jfr print --json --stack-depth 60`) and prints how many processes were
started, grouped by command (the executable) and by the first caller
outside the JDK (the frame that asked for the process, e.g.
org.apache.hadoop.util.Shell.runCommand). Record a run with, e.g.:

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile \\
        python3 perfbench/run.py --workload cdc_replay --seed 1 --seconds 18 --trace 0

`jdk.ProcessStart` is enabled, with stack traces, in both of the JDK's
stock settings (default and profile).
"""
import argparse
import collections
import json
import shutil
import subprocess
import sys

JDK_PREFIXES = ("java.", "javax.", "jdk.", "sun.", "com.sun.")


def frame_name(frame):
    m = frame["method"]
    return m["type"]["name"].replace("/", ".") + "." + m["name"]


def first_caller(event):
    frames = (event["values"].get("stackTrace") or {}).get("frames") or []
    names = [frame_name(f) for f in frames]
    outside = [n for n in names if not n.startswith(JDK_PREFIXES)]
    return outside[0] if outside else (names[-1] if names else "<no stack>")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()
    jfr = shutil.which("jfr")
    if not jfr:
        sys.exit("jfr_forks: the JDK's `jfr` tool is not on PATH")
    out = subprocess.run([jfr, "print", "--json", "--stack-depth", "60",
                          "--events", "jdk.ProcessStart", args.recording],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    commands = collections.Counter(
        (e["values"].get("command") or "?").split()[0] for e in events)
    callers = collections.Counter(first_caller(e) for e in events)
    print(f"process starts: {len(events)}")
    for title, counts in (("by command", commands), ("by first non-JDK caller", callers)):
        print(f"\n{title}:")
        for name, n in counts.most_common(args.top):
            print(f"  {n:6d}  {name}")


if __name__ == "__main__":
    main()
