#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report how steady it is.

    python3 perfbench/steadiness.py --workloads abstracts curation \
        --seeds 1-10 --seconds 10 [--trace 0|1] [--out perfbench/baseline/x.json]

For every workload and metric it prints the median and the spread: the
distance between the first and third quartile of the runs' values
(statistics.quantiles(values, n=4)) as a share of their median. With --out
the per-run results and the summary are written as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, None
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    runs, summary = [], {}
    for w in a.workloads:
        results = []
        for seed in seeds(a.seeds):
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
                               stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            elapsed = time.monotonic() - t0
            runs.append({"workload": w, "seed": seed, "rc": p.returncode,
                         "elapsed_s": round(elapsed, 1), "result": res})
            print(f"{w} seed={seed} rc={p.returncode} {elapsed:.1f}s "
                  f"correct={res and res['correct']}", file=sys.stderr)
            if res:
                results.append(res)
        metrics = {}
        for name in (results[0]["metrics"] if results else {}):
            vals = [r["metrics"][name]["value"] for r in results]
            med, sp = spread(vals)
            metrics[name] = {"median": med, "spread": sp, "unit": results[0]["metrics"][name]["unit"]}
        summary[w] = {"runs": len(results), "all_correct": all(r["correct"] for r in results),
                      "metrics": metrics}
    for w, s in summary.items():
        print(f"{w}: {s['runs']} runs, all correct: {s['all_correct']}")
        for name, m in s["metrics"].items():
            sp = "-" if m["spread"] is None else f"{m['spread']:.4f}"
            print(f"  {name:40s} {m['median']:>14.4f} {m['unit']:6s} spread {sp}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"seconds": a.seconds, "trace": a.trace, "summary": summary, "runs": runs},
                      f, indent=1)


if __name__ == "__main__":
    main()
