#!/usr/bin/env python3
"""A/B the repo benchmark between two checkouts in alternating pairs.

Usage:

    python3 tools/bench_ab.py --parent <dir> --change <dir> \
        --workload posts_steady --pairs 10 --seed0 801 --seconds 8 \
        [--log runs.jsonl]
    python3 tools/bench_ab.py --summarize runs.jsonl

Each checkout is a full tree (for example `mkdir ../parent && git archive
HEAD~1 | tar -x -C ../parent`); `perfbench/run.py` builds each from its
own sources. Pair i runs
both sides untraced on seed seed0 + i, parent first on even pairs and
change first on odd ones, so neither side always gets the warmer box.
Every run's result, CPU steal share and wall are appended to the log as
one JSON line. The summary prints, per end-to-end metric, each side's
median and quartiles, how many pairs the change won (direction from
BENCHMARK.json), and whether the median gap exceeds the parent's
interquartile range; then the failed count and steal of every run.
Nothing under perfbench/ is changed.
"""
import argparse
import json
import os
import re
import signal
import statistics
import subprocess
import sys
import time

STEAL = re.compile(r"cpu_steal_share=([0-9.]+)")


def run_once(checkout, workload, seed, seconds):
    """One untraced run; returns its record (result None on failure)."""
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    except json.JSONDecodeError:
        result = None
    steal = STEAL.findall(proc.stderr)
    return {"workload": workload, "seed": seed, "seconds": seconds,
            "wall_s": round(time.time() - t0, 1),
            "steal": float(steal[-1]) if steal else None,
            "result": result,
            "stderr_tail": None if result else proc.stderr[-2000:]}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (None, None, None)
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(records, benchmark_json):
    with open(benchmark_json) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}
    pairs = {}
    for r in records:
        pairs.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r
    for workload in sorted({w for w, _ in pairs}):
        done = [p for (w, _), p in sorted(pairs.items())
                if w == workload and all(p.get(s, {}).get("result") for s in ("parent", "change"))]
        print(f"== {workload}: {len(done)} complete pairs ==")
        if not done:
            continue
        print(f"{'metric':18} {'parent q1 / median / q3':>30} {'change q1 / median / q3':>30} "
              f"{'Δ median':>9} {'wins':>6} {'gap > parent IQR':>17}")
        for m in sorted(better):
            vals = {s: [p[s]["result"]["metrics"][m]["value"] for p in done
                        if m in p[s]["result"]["metrics"]] for s in ("parent", "change")}
            if len(vals["parent"]) != len(done) or len(vals["change"]) != len(done):
                continue
            sign = -1 if better[m] == "lower" else 1
            wins = sum(1 for a, b in zip(vals["parent"], vals["change"]) if sign * (b - a) > 0)
            pq, cq = quartiles(vals["parent"]), quartiles(vals["change"])
            gap = sign * (cq[1] - pq[1])
            fmt = lambda q: " / ".join(f"{x:9.4g}" for x in q)
            rel = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
            print(f"{m:18} {fmt(pq):>30} {fmt(cq):>30} {rel:>+9.1%} {wins:>3}/{len(done):<2} "
                  f"{'yes' if gap > pq[2] - pq[0] else 'no':>17}")
        print("runs (seed side failed steal wall_s):")
        for p in done:
            for s in ("parent", "change"):
                r = p[s]
                print(f"  {r['seed']:>6} {s:6} {r['result']['failed']:>3} "
                      f"{r['steal'] if r['steal'] is not None else float('nan'):.3f} {r['wall_s']:>6}")
    failed = [r for r in records if not r.get("result")]
    for r in failed:
        print(f"run without a result: {r['workload']} seed {r['seed']} {r['side']}:\n{r['stderr_tail']}")


def main():
    # die quietly on a closed pipe (`--summarize log | head`), as other
    # filters do, instead of a BrokenPipeError traceback
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload", default="posts_steady")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=801)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--log", help="JSON-lines file each run is appended to")
    ap.add_argument("--summarize", metavar="LOG", help="print the summary of a log and exit")
    a = ap.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if a.summarize:
        with open(a.summarize) as fh:
            summarize([json.loads(l) for l in fh if l.strip()],
                      os.path.join(root, "BENCHMARK.json"))
        return 0
    if not (a.parent and a.change):
        ap.error("--parent and --change are required unless --summarize")
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    records = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = dict(run_once(sides[side], a.workload, seed, a.seconds), side=side)
            records.append(r)
            ok = r["result"] is not None
            print(f"[bench_ab] pair {i + 1}/{a.pairs} seed {seed} {side}: "
                  f"{'ok' if ok else 'NO RESULT'} steal={r['steal']} wall={r['wall_s']} s",
                  file=sys.stderr, flush=True)
            if a.log:
                with open(a.log, "a") as fh:
                    fh.write(json.dumps(r) + "\n")
    summarize(records, os.path.join(sides["change"], "BENCHMARK.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
