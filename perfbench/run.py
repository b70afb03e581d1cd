#!/usr/bin/env python3
"""Benchmark of the graft CDC engine: the query battery and the paper's
change -> capture -> enqueue -> dispatch -> 2xx path.

    python3 perfbench/run.py --workload battery --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first run compiles the engine's sources
(src/main/scala) and the benchmark's (perfbench/src) with the Scala compiler
shipped in Spark's jars, into $CARGO_TARGET_DIR (default .bench_build); later
runs reuse the classes while the sources are unchanged. Each run starts one
JVM (graftbench.Main), which prints report lines and, last, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones; a
traced run also prints its tracing overhead against the untraced runs of the
same workload, sources and --seconds made earlier in this checkout.

--smoke runs every workload on the smallest scale factor for a few seconds,
traced and untraced, and checks that every metric prints with its unit and
that every correctness check passes.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("battery", "cdc_backlog", "cdc_stream")
SF = "sf0.1"
SMOKE_SF = "sf0.001"
HEAP = "3g"
# The open-loop stream is latency-bound: G1 (the JVM's default) keeps its
# pauses to ~10 ms. The closed-loop workloads are throughput-bound: the
# parallel collector ran the battery faster and steadier.
GC = {"cdc_stream": "-XX:+UseG1GC"}
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (build.sbt's list).
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def engine_sources():
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        fail("no engine sources under src/main/scala: run from a full checkout")
    return srcs


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read(os.path.join(ROOT, "build.sbt")))
    if not m or not os.path.isdir(m.group(1)):
        fail("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def data_root():
    """The testdata root: the parent of the scale-factor directory the
    engine's own bench harness reads by default (graft/Bench.scala)."""
    src = read(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala"))
    m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', src)
    if not m:
        fail("cannot find the default testdata directory in graft/Bench.scala")
    root = os.path.dirname(m.group(1))
    if not os.path.isdir(os.path.join(root, SF)):
        fail("testdata not found at " + root)
    return root


def jar_list(jars):
    return [os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar")]


def build(build_dir, jars):
    """Compile engine + benchmark sources once per source digest.
    Returns (classes dir, digest)."""
    srcs = engine_sources() + sorted(
        glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = os.path.join(build_dir, "classes")
    stamp = os.path.join(out, ".digest")
    if os.path.exists(stamp) and read(stamp) == digest:
        return out, digest
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                        if re.match(r"scala-(compiler|library|reflect)-2\.13", j))
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w", encoding="utf-8") as f:
        f.write("\n".join(["-nowarn", "-classpath", ":".join(jar_list(jars)), "-d", tmp] + srcs))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
                        "scala.tools.nsc.Main", "@" + args_file],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed", 2)
    with open(os.path.join(tmp, ".digest"), "w") as f:
        f.write(digest)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print("build_s %.1f" % (time.time() - t0), file=sys.stderr)
    return out, digest


def run_jvm(build_dir, classes, jars, workload, seed, seconds, trace, sf):
    """One JVM run. Returns (exit code, report lines, result dict or None)."""
    work = os.path.join(build_dir, "work", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    logs = os.path.join(build_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, "%s-%d-trace%d.log" % (workload, seed, trace))
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, GC.get(workload, "-XX:+UseParallelGC"), "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [a for o in ADD_OPENS for a in ("--add-opens", o)]
           + ["-cp", classes + ":" + os.path.join(jars, "*"), "graftbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--data", data_root(), "--sf", sf, "--work", work,
              "--spans", spans_path(build_dir, workload, seed)])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail("%s timed out after %d s (log: %s)" % (workload, RUN_TIMEOUT_S, log_path), 3)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    for line in reversed(lines):
        if line.startswith('{"correct"'):
            result = json.loads(line)
            break
    if proc.returncode != 0:
        sys.stderr.write("".join(open(log_path).readlines()[-30:]))
    return proc.returncode, [l for l in lines if not l.startswith('{"correct"')], result


def spans_path(build_dir, workload, seed):
    return os.path.join(build_dir, "traces", "%s-%d.jsonl" % (workload, seed))


def overhead_lines(results_file, lines):
    """Traced vs. untraced end-to-end numbers of the same workload, built
    from the same sources and run for the same --seconds."""
    traced = next((json.loads(l)["traced_end_to_end"] for l in lines
                   if l.startswith('{"traced_end_to_end"')), None)
    if traced is None or not os.path.exists(results_file):
        return ["tracing_overhead n/a (no untraced run of this workload, sources and "
                "--seconds in this checkout)"]
    runs = [json.loads(l) for l in read(results_file).splitlines() if l.strip()]
    out = []
    for name, v in traced.items():
        base = [r[name]["value"] for r in runs if r.get(name, {}).get("value") is not None]
        if v is None or not base:
            continue
        m = statistics.median(base)
        out.append("tracing_overhead %s traced=%.6g untraced_median=%.6g runs=%d delta=%+.1f%%"
                   % (name, v, m, len(base), 100.0 * (v - m) / m if m else float("nan")))
    return out


def smoke(build_dir, classes, jars):
    spec = json.loads(read(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    named = {"battery": ["battery_s", "battery_geomean_ms"],
             "cdc_backlog": ["backlog_events_per_s"],
             "cdc_stream": ["sync_p50_ms", "sync_p99_ms", "async_p50_ms", "async_p99_ms",
                            "generator.late_ms_p99"]}
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            code, lines, res = run_jvm(build_dir, classes, jars, w, 1, 3, trace, SMOKE_SF)
            want = layer if trace else e2e
            tag = "%s trace=%d" % (w, trace)
            if code != 0 or res is None or not res["correct"]:
                problems.append("%s: exit %d, result %s" % (tag, code, res and res["correct"]))
                problems += ["  " + l for l in lines if "FAILED" in l]
                continue
            for name, unit in want.items():
                m = res["metrics"].get(name)
                if m is None or m["unit"] != unit or not isinstance(m["value"], (int, float)):
                    problems.append("%s: metric %s missing or without unit %s" % (tag, name, unit))
            if set(res["metrics"]) != set(want):
                problems.append("%s: unexpected metrics %s" % (tag, sorted(set(res["metrics"]) - set(want))))
            printed = [l for l in lines if l.startswith("metric ")]
            for name in (named[w] + ["failed_share"]) if trace == 0 else []:
                if not any(re.match(r"metric %s = \S+ \S+ \(samples=\d+" % re.escape(name), l)
                           for l in printed):
                    problems.append("%s: %s not printed with unit and samples" % (tag, name))
            print("smoke %s: ok (%d metrics)" % (tag, len(res["metrics"])))
    for p in problems:
        print("smoke FAILED " + p)
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    engine_sources()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classes, digest = build(build_dir, jars)
    if a.smoke:
        sys.exit(smoke(build_dir, classes, jars))
    code, lines, res = run_jvm(build_dir, classes, jars, a.workload, a.seed, a.seconds,
                               a.trace, SF)
    for line in lines:
        print(line)
    # untraced results, the tracing-overhead baseline, kept per source digest
    # and run length so a traced run is compared only with like runs
    results_file = os.path.join(build_dir, "results", "%s-%s-s%d.jsonl"
                                % (a.workload, digest[:16], a.seconds))
    if res is None:
        fail("%s run printed no result (exit %d)" % (a.workload, code), code or 1)
    if a.trace == 1:
        for line in overhead_lines(results_file, lines):
            print(line)
        print("spans " + os.path.relpath(spans_path(build_dir, a.workload, a.seed), ROOT))
    elif res["correct"]:
        os.makedirs(os.path.dirname(results_file), exist_ok=True)
        with open(results_file, "a") as f:
            f.write(json.dumps(res["metrics"]) + "\n")
    print(json.dumps(res, separators=(",", ":")))
    sys.exit(code)


if __name__ == "__main__":
    main()
