#!/usr/bin/env python3
"""A/B the repo benchmark: N alternating parent/change pairs of perfbench/run.py.

    python3 tools/perf_ab.py --parent HEAD --workloads cdc_backlog,cdc_stream --pairs 5

The change is this checkout's working tree. The parent is `--parent`, checked
out in a detached `git worktree` (removed afterwards), or an existing checkout
given with `--parent-dir`. Pair i runs one workload on both sides with seed
`--seed + i`; the side that goes first alternates, so drift on the box (heat,
neighbours) falls on both sides alike. Each side builds into its own
.bench_build, and every run's full output is kept under `--out`.

For each workload it prints, per end-to-end metric of BENCHMARK.json: the
parent and change medians, the delta, the metric's bound, how many pairs the
change won, and the parent's interquartile range. A metric whose median is
worse than the parent's by more than its bound is flagged WORSE. Runs that exit
non-zero or report incorrect results are listed and left out of the medians.
Exit status: 0 when every run was ok and no metric is WORSE, else 1.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def run_side(checkout, workload, seed, seconds, log_path):
    """One perfbench run. Returns (exit code, result dict or None)."""
    env = dict(os.environ)
    # each side builds into its own checkout's .bench_build
    env.pop("CARGO_TARGET_DIR", None)
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    with open(log_path, "w", encoding="utf-8") as f:
        f.write("$ %s  (cwd %s, %.0f s, exit %d)\n" % (" ".join(cmd), checkout,
                                                      time.time() - t0, p.returncode))
        f.write(p.stdout)
    result = None
    for line in reversed(p.stdout.splitlines()):
        if line.startswith('{"correct"'):
            result = json.loads(line)
            break
    return p.returncode, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent")
    ap.add_argument("--parent-dir", help="an existing checkout of the parent "
                    "(default: a temporary git worktree of --parent)")
    ap.add_argument("--workloads", default="cdc_backlog,cdc_stream")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "perf_ab"),
                    help="directory for the per-run logs and summary.json")
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))
    seconds = a.seconds or spec.get("run_seconds", 10)
    gates = spec["end_to_end"]
    workloads = [w for w in a.workloads.split(",") if w]
    os.makedirs(a.out, exist_ok=True)

    worktree = None
    parent_dir = a.parent_dir
    if parent_dir is None:
        worktree = tempfile.mkdtemp(prefix="perf_ab_parent_")
        os.rmdir(worktree)
        subprocess.run(["git", "worktree", "add", "--detach", worktree, a.parent],
                       cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
        parent_dir = worktree
    sides = {"parent": os.path.abspath(parent_dir), "change": ROOT}

    runs = {w: {"parent": [], "change": []} for w in workloads}
    try:
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for w in workloads:
                for side in order:
                    log = os.path.join(a.out, "%s-%s-pair%d-seed%d.log" % (w, side, i, seed))
                    code, res = run_side(sides[side], w, seed, seconds, log)
                    ok = code == 0 and res is not None and res["correct"]
                    runs[w][side].append({"pair": i, "seed": seed, "exit": code, "ok": ok,
                                          "log": log, "result": res})
                    print("pair %d seed %d %-11s %-6s exit %d %s" % (
                        i, seed, w, side, code, "ok" if ok else "NOT OK (log: %s)" % log),
                        flush=True)
    finally:
        if worktree is not None:
            subprocess.run(["git", "worktree", "remove", "--force", worktree], cwd=ROOT)
            shutil.rmtree(worktree, ignore_errors=True)

    bad = False
    summary = {}
    for w in workloads:
        print("\n%s: %d pairs, %d s runs" % (w, a.pairs, seconds))
        for side in ("parent", "change"):
            for r in runs[w][side]:
                if not r["ok"]:
                    bad = True
                    print("  %s pair %d seed %d: exit %d, correct %s (log: %s)" % (
                        side, r["pair"], r["seed"], r["exit"],
                        r["result"] and r["result"]["correct"], r["log"]))
        print("  %-17s %12s %12s %8s %6s %5s %23s" % (
            "metric", "parent", "change", "delta", "bound", "wins", "parent IQR"))
        summary[w] = {}
        for g in gates:
            name, lower = g["name"], g["better"] == "lower"
            pairs = []
            for rp, rc in zip(runs[w]["parent"], runs[w]["change"]):
                if rp["ok"] and rc["ok"]:
                    vp = rp["result"]["metrics"].get(name, {}).get("value")
                    vc = rc["result"]["metrics"].get(name, {}).get("value")
                    if vp is not None and vc is not None:
                        pairs.append((vp, vc))
            if not pairs:
                print("  %-17s no complete pair" % name)
                continue
            mp = statistics.median(p for p, _ in pairs)
            mc = statistics.median(c for _, c in pairs)
            delta = (mc - mp) / mp if mp else float("nan")
            worse = delta > g["bound"] if lower else -delta > g["bound"]
            wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
            q1, q3 = quartiles([p for p, _ in pairs])
            bad = bad or worse
            summary[w][name] = {"parent_median": mp, "change_median": mc, "delta": delta,
                                "bound": g["bound"], "wins": wins, "pairs": len(pairs),
                                "parent_iqr": [q1, q3], "worse": worse}
            print("  %-17s %12.6g %12.6g %+7.1f%% %6.2f %2d/%-2d [%10.6g, %10.6g]%s" % (
                name, mp, mc, 100 * delta, g["bound"], wins, len(pairs), q1, q3,
                "  WORSE" if worse else ""))
    with open(os.path.join(a.out, "summary.json"), "w", encoding="utf-8") as f:
        json.dump({"parent": a.parent, "seconds": seconds, "pairs": a.pairs,
                   "runs": runs, "summary": summary}, f, indent=1)
    print("\nlogs and summary.json under " + os.path.relpath(a.out, ROOT))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
