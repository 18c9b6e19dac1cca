#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/steady.py --workload lake_sql --seeds 1-10 [--trace 0] [--out DIR]

Runs the benchmark once per seed (sequentially, with BENCHMARK.json's
run_seconds) and prints, per metric, the median and the spread: the
distance between the first and third quartile of the values
(`statistics.quantiles(values, n=4)`) as a share of their median, next
to the metric's bound. Per-run last lines go to DIR/<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(HERE, "out", "steady"))
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    os.makedirs(a.out, exist_ok=True)
    lines = []
    with open(os.path.join(a.out, f"{a.workload}.jsonl"), "a") as log:
        for s in seeds(a.seeds):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                                "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                "--trace", str(a.trace), "--out", os.path.join(a.out, f"{a.workload}-{s}")],
                               cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            last = json.loads(p.stdout.strip().splitlines()[-1])
            last["seed"] = s
            log.write(json.dumps(last) + "\n")
            log.flush()
            lines.append(last)
            print(f"seed {s}: correct={last['correct']} failed={last['failed']}/{last['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
    if len(lines) < 2:
        sys.exit("fewer than two successful runs")
    print(f"{'metric':<28}{'median':>12}{'spread':>9}{'bound':>7}")
    for name in lines[0]["metrics"]:
        med, sp = spread([l["metrics"][name]["value"] for l in lines])
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if sp < b / 3 else ("  within bound" if sp <= b else "  OVER"))
        print(f"{name:<28}{med:>12.4g}{sp:>9.3f}{'' if b is None else b:>7}{flag}")


if __name__ == "__main__":
    main()
