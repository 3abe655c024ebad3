#!/usr/bin/env python3
"""Same-boot, interleaved A/B of the benchmark: a base checkout against the
working tree.

    git worktree add --detach .perf_ab/base HEAD     # once: the base checkout
    python3 tools/perf_ab.py --base-dir .perf_ab/base [--workload stores]
                             [--seeds 10] [--trace 0]

Run from the repository root. The base is any checkout of the revision to
compare against, given with --base-dir: a detached `git worktree` as above
(HEAD is the last commit without the uncommitted change), or a clone. Seeds
run from 1 to --seeds; for every seed both checkouts run `perfbench/run.py`
once, one right after the other, and the order alternates from seed to seed,
so a host that drifts over the session slows both sides alike. Runs last the
`run_seconds` of BENCHMARK.json, as the benchmark's own runs do. Each
checkout builds and keeps its runs in its own `.perfbench/`; nothing under
`perfbench/` is modified.

Printed: per metric, the median of each side, the head/base ratio of the
medians, in how many seed pairs the head was better, and the base runs'
interquartile distance (the spread a median difference must exceed before
it counts as a gain); then per op, the medians of each side's per-op
medians (from `.perfbench/runs/`).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(tree, workload, seed, seconds, trace):
    """One perfbench run in `tree`: its result line plus its run record."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        sys.exit(f"perf_ab: run failed in {tree} (exit {proc.returncode})")
    result = json.loads(lines[-1])
    rec = os.path.join(tree, ".perfbench", "runs", f"{workload}-seed{seed}-trace{trace}.json")
    with open(rec) as fh:
        result["op_median_s"] = json.load(fh)["op_median_s"]
    return result


def fmt(x):
    return f"{x:.4g}" if isinstance(x, float) else str(x)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base-dir", required=True, help="checkout of the base revision")
    ap.add_argument("--workload", default="stores")
    ap.add_argument("--seeds", type=int, default=10, help="number of seed pairs")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(a.base_dir, "perfbench", "run.py")):
        sys.exit(f"perf_ab: {a.base_dir} holds no perfbench/run.py")
    sides = {"base": os.path.abspath(a.base_dir), "head": ROOT}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    kind = "per_layer" if a.trace else "end_to_end"
    better = {m["name"]: m["better"] for m in spec[kind]}

    runs = {"base": [], "head": []}
    for seed in range(1, a.seeds + 1):
        order = ["base", "head"] if seed % 2 else ["head", "base"]
        for side in order:
            r = run(sides[side], a.workload, seed, spec["run_seconds"], a.trace)
            runs[side].append(r)
            print(f"seed {seed} {side}: correct={r['correct']} failed={r['failed']} " +
                  " ".join(f"{k}={fmt(v['value'])}" for k, v in r["metrics"].items()
                           if k in ("wall_s", "op_p50_s", "setup_s", "peak_live_mb",
                                    "sched.jobs_per_op", "serve.construct_s")),
                  flush=True)

    print(f"\n{a.workload} trace={a.trace}, {a.seeds} seed pairs: median base, "
          "median head, head/base, pairs where head is better, base IQR")
    for name, how in better.items():
        b = [r["metrics"][name]["value"] for r in runs["base"]]
        h = [r["metrics"][name]["value"] for r in runs["head"]]
        mb, mh = statistics.median(b), statistics.median(h)
        wins = sum((y < x) if how == "lower" else (y > x) for x, y in zip(b, h))
        ratio = f"{mh / mb:.3f}" if mb else "-"
        q = statistics.quantiles(b, n=4) if len(b) > 1 else [b[0]] * 3
        print(f"  {name:34s} {fmt(mb):>12s} {fmt(mh):>12s} {ratio:>7s} "
              f"{wins}/{len(b)} {fmt(q[2] - q[0]):>10s}")
    print("\nper-op median latency (s): base, head, head/base")
    for op in sorted(runs["base"][0]["op_median_s"]):
        mb = statistics.median(r["op_median_s"][op] for r in runs["base"])
        mh = statistics.median(r["op_median_s"][op] for r in runs["head"])
        print(f"  {op:24s} {mb:8.3f} {mh:8.3f} {mh / mb:7.3f}")
    failed = sum(r["failed"] for side in runs.values() for r in side)
    print(f"\nall correct: {all(r['correct'] for s in runs.values() for r in s)}, "
          f"failed ops: {failed}")


if __name__ == "__main__":
    main()
