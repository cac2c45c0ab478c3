#!/usr/bin/env python3
"""Runs one workload of the repository benchmark and prints its result.

    python3 perfbench/run.py --workload elt_sync --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

The first call in a checkout compiles the repository's main sources plus
the benchmark (perfbench/build.sh) into .bench_build/perfbench.jar; later
calls reuse that build while the sources are unchanged. The workload itself runs in
one JVM (perfbench.Main); this script forwards its lines, collects the
metric lines wherever they appear in a line (a `[info] ` or any other
prefix is tolerated), and prints one JSON object as the last line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics (and the spans file). A correctness mismatch still
prints the result, with "correct": false, and exits with code 1.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "perfbench.jar")
WORKLOADS = ("elt_sync", "curate_index", "stream_upsert")
RUN_LIMIT_S = 170.0

LINE = re.compile(r"perfbench-(e2e|layer)\s+(\S+)\s+(\S+)\s+(\S+)")
VERDICT = re.compile(r"perfbench-verdict\s+attempted=(\d+)\s+failed=(\d+)\s+correct=(true|false)")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_lines(lines):
    """Collects metric lines and the verdict from the JVM's output.

    Returns ({kind: {name: (value, unit)}}, verdict or None). A line is
    matched anywhere, so build-tool prefixes such as `[info] ` do not hide it.
    """
    found = {"e2e": {}, "layer": {}}
    verdict = None
    for line in lines:
        m = LINE.search(line)
        if m:
            found[m.group(1)][m.group(2)] = (float(m.group(3)), m.group(4))
            continue
        v = VERDICT.search(line)
        if v:
            verdict = (int(v.group(1)), int(v.group(2)), v.group(3) == "true")
    return found, verdict


def test_parser():
    """The parser must see metric lines behind a build tool's prefix."""
    found, verdict = parse_lines([
        "[info] perfbench-e2e op_p50_s 1.500000 s",
        "[info] perfbench-layer core.read.jobs 13.000000 count",
        "[info] perfbench-verdict attempted=3 failed=0 correct=true",
    ])
    ok = (found == {"e2e": {"op_p50_s": (1.5, "s")}, "layer": {"core.read.jobs": (13.0, "count")}}
          and verdict == (3, 0, True))
    print("perfbench-test %s parser: metric lines behind an [info] prefix" % ("ok" if ok else "FAIL"))
    return ok


def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sh")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files.extend(os.path.join(base, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no program sources under src/main/scala in this checkout")
    stamp = source_stamp()
    stamp_file = JAR + ".stamp"
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return stamp
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: compiling sources into .bench_build/perfbench.jar", file=sys.stderr, flush=True)
    rc = subprocess.call(["bash", os.path.join(HERE, "build.sh"), JAR],
                         stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        sys.exit("perfbench: build failed (exit %d)" % rc)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return stamp


def java_command(main, args, tmp):
    with open(JAR + ".jars") as fh:
        jars = fh.read().strip()
    cpus = os.cpu_count() or 1
    opts = []
    for p in JDK_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    # the serial collector sizes the heap from allocation alone, not from
    # pause timings, so peak RSS repeats from run to run, and its pauses do
    # not compete with the task threads for the cores; the repository's own
    # sbt forks use G1 and -Xmx8g, so these are serial-collector figures
    opts += [
        "-Xmx3g", "-Xss8m", "-XX:+UseSerialGC", "-XX:-UsePerfData", "-Xlog:all=warning:stderr",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dperfbench.cpus=%d" % cpus,
    ]
    cp = JAR + os.pathsep + os.path.join(jars, "*")
    return ["java"] + opts + ["-cp", cp, main] + args


def run_jvm(cmd, deadline_s):
    """Runs the JVM, echoing its stdout; returns (exit code, stdout lines).

    A watchdog kills the JVM's process group at the deadline (exit 124).
    """
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=ROOT, start_new_session=True)
    expired = threading.Event()

    def kill():
        expired.set()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    watchdog = threading.Timer(deadline_s, kill)
    watchdog.start()
    lines = []
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            lines.append(line)
            print(line, flush=True)
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if expired.is_set():
        print("perfbench: run exceeded %.0f s and was stopped" % deadline_s, file=sys.stderr)
        return 124, lines
    return rc, lines


def untraced_path(workload, seed, seconds, stamp):
    """Where an untraced run's result is kept: one file per workload, seed,
    window and source stamp, so that a traced run is only compared with an
    untraced run of the same inputs, window and build."""
    return os.path.join(BUILD, "results", "%s-s%d-w%d-%s.untraced.json"
                        % (workload, seed, seconds, stamp[:16]))


def overhead_lines(path, traced):
    """Tracing overhead: the traced run's end-to-end numbers against the
    untraced run of the same workload, seed, window and sources."""
    if not os.path.exists(path):
        print("perfbench-overhead none (no untraced run of this workload, seed, window and build)")
        return
    with open(path) as fh:
        base = json.load(fh)["metrics"]
    for name, (value, unit) in sorted(traced.items()):
        if name in base and base[name]["value"]:
            frac = value / base[name]["value"] - 1.0
            print("perfbench-overhead %s traced=%.6g untraced=%.6g %s frac=%+.4f"
                  % (name, value, base[name]["value"], unit, frac))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")

    stamp = ensure_build()
    tmp = os.path.join(BUILD, "run", "%d-%d" % (os.getpid(), int(time.time() * 1000)))
    os.makedirs(tmp)
    try:
        if a.self_test:
            parser_ok = test_parser()
            rc, _ = run_jvm(java_command("perfbench.SelfTest", [tmp], tmp), RUN_LIMIT_S)
            sys.exit(rc if parser_ok else 1)
        out_dir = os.path.join(BUILD, "out")
        os.makedirs(out_dir, exist_ok=True)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", tmp, "--out", out_dir]
        rc, lines = run_jvm(java_command("perfbench.Main", args, tmp), RUN_LIMIT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    found, verdict = parse_lines(lines)
    if verdict is None or rc not in (0, 1):
        sys.exit("perfbench: the run ended without a verdict (exit %d)" % rc)
    attempted, failed, correct = verdict
    kind = "layer" if a.trace else "e2e"
    result = {
        "correct": correct and rc == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in sorted(found[kind].items())},
    }
    untraced = untraced_path(a.workload, a.seed, a.seconds, stamp)
    os.makedirs(os.path.dirname(untraced), exist_ok=True)
    if a.trace:
        overhead_lines(untraced, found["e2e"])
    elif result["correct"]:
        with open(untraced, "w") as fh:
            json.dump(result, fh)
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
