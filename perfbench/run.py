#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run it from the root of a checkout of the repository. The first run
builds the program and the benchmark from source with sbt (the
benchmark's own build in perfbench/ depends on the root build) and
caches the classpath under .bench_build/; later runs start the JVM
directly. Workloads, metrics and their meaning are in perfbench/README.md.

Input data: the sf0.1 tables (events.parquet, lineitem.parquet, ...)
are read from $SPARK_GRAFT_SF_DIR, or else from the first
testdata/sf0.1 directory found in the checkout, one of its parents,
or the home directory.

Output: `name = value unit` lines, then as the last line one JSON object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 its
per_layer metrics (0 where the workload does not exercise the layer).
A traced run also leaves its spans in .bench_build/spans/.

    python3 perfbench/run.py --record

re-records perfbench/expected.tsv, the row count and order-insensitive
hash of every batch_mix query, after checking those queries against
their DuckDB oracles with tools/compare.py.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
BUILD = ".bench_build"
WORKLOADS = ("cdc_replay", "batch_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# A fixed heap and young generation: with the JVM's adaptive sizing the
# resident set of identical runs differed by up to 40%.
HEAP_FLAGS = ["-Xms4g", "-Xmx4g", "-Xmn1g"]
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def find_data():
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    here = os.path.abspath(".")
    candidates = []
    while True:
        candidates.append(os.path.join(here, "testdata", "sf0.1"))
        parent = os.path.dirname(here)
        if parent == here:
            break
        here = parent
    candidates.append(os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    for c in candidates:
        if os.path.isfile(os.path.join(c, "events.parquet")):
            return c
    fail("no sf0.1 test data found; set SPARK_GRAFT_SF_DIR")


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", f"{BENCH}/build.sbt",
             f"{BENCH}/project", f"{BENCH}/src"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(root)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=BENCH, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}", 1)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log}", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"note: built in {time.time() - t0:.1f} s")
    return cp


def jvm(cp, work):
    """A JVM command on `cp` that keeps its temporary files under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + HEAP_FLAGS + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp])


def java(cp, main_args, work):
    """Runs perfbench.Main in `work`; returns the lines it printed."""
    cmd = jvm(cp, work) + ["perfbench.Main"] + main_args + ["--work", work]
    log = work + ".log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}", 1)
        finally:
            # also on SIGTERM (raised as SystemExit below): no JVM outlives us
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    lines = out.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"benchmark JVM exited with {proc.returncode}; see {log}", 1)
    return lines


def record(cp, data):
    work = os.path.abspath(os.path.join(BUILD, "record"))
    shutil.rmtree(work, ignore_errors=True)
    lines = java(cp, ["--workload", "record", "--data", data], work)
    rows = [l[len("record: "):] for l in lines if l.startswith("record: ")]
    queries = [r.split("\t")[0] for r in rows]
    # cross-check the same queries against their DuckDB oracles
    out = os.path.join(work, "verify")
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(queries))
    subprocess.run(jvm(cp, work) + ["graft.Verify", data, out],
                   env=env, check=True, stderr=subprocess.DEVNULL, timeout=1800)
    check = subprocess.run([sys.executable, "tools/compare.py", data, out],
                           stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    if check.returncode != 0:
        fail("batch_mix queries disagree with their oracles; expected.tsv not written", 1)
    with open(os.path.join(BENCH, "expected.tsv"), "w") as f:
        f.write("# batch_mix query\trows\torder-insensitive hash (sf0.1); "
                "written by `python3 perfbench/run.py --record`\n")
        f.write("\n".join(rows) + "\n")
    print(f"wrote {BENCH}/expected.tsv ({len(rows)} queries)")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not args.record and not args.workload:
        ap.error("--workload is required")
    for need in ("build.sbt", "src/main/scala", f"{BENCH}/build.sbt", "BENCHMARK.json"):
        if not os.path.exists(need):
            fail(f"run from the root of a checkout: {need} is missing")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    data = find_data()
    cp = classpath()
    if args.record:
        return record(cp, data)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.abspath(os.path.join(BUILD, "runs", tag))
    shutil.rmtree(work, ignore_errors=True)
    lines = java(cp, ["--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", str(args.trace),
                      "--data", data, "--expected", os.path.abspath(f"{BENCH}/expected.tsv")],
                 work)
    results = [l for l in lines if l.startswith("result: ")]
    if len(results) != 1:
        fail("the benchmark JVM printed no result", 1)
    res = json.loads(results[0][len("result: "):])
    for l in lines:
        if l.startswith("note: "):
            print(l)
    if args.trace:
        os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(BUILD, "spans", tag + ".jsonl"))

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["per_layer"] if args.trace else res["end_to_end"]
    unknown = sorted(set(got) - {m["name"] for m in declared})
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {unknown}", 1)
    metrics = {}
    for m in declared:
        if m["name"] not in got and not args.trace:
            fail(f"end-to-end metric {m['name']} was not measured", 1)
        value = got.get(m["name"], 0.0)
        if not math.isfinite(value):
            fail(f"metric {m['name']} measured as {value}", 1)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']} = {metrics[m['name']]['value']} {m['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
