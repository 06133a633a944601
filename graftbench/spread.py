"""Run a workload on several seeds and report each metric's spread.

    python3 graftbench/spread.py --workload backfill --seeds 1-10 [--seconds 10] [--trace 0]

Spread is the distance between the first and third quartile of the values
(statistics.quantiles, n=4) as a share of their median. Run from the root of
a checkout; each run is one graftbench/run.py invocation.
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
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="10")
    p.add_argument("--trace", default="0")
    a = p.parse_args()
    values, walls = {}, []
    for s in seeds(a.seeds):
        t = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", a.seconds, "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {s}: exit {r.returncode}, no result")
            continue
        res = json.loads(lines[-1])
        print(f"seed {s}: {walls[-1]:.1f} s correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} median {statistics.median(vs):12.4f}  spread {spread:7.3f}")


if __name__ == "__main__":
    main()
