"""Steadiness mode: repeat one workload with distinct seeds and print, per
metric, the median, the quartiles and the quartile spread as a share of
the median, next to the metric's bound in BENCHMARK.json.  This is the
evidence the bounds are set from.

    python3 perfbench/steady.py --workload dash --runs 10
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.perf_counter()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds),
                            "--trace", "0"],
                           cwd=REPO, capture_output=True, text=True)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
            continue
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        env = next((json.loads(l.split(" env ", 1)[1]) for l in lines if " env {" in l), {})
        for l in [l for l in lines if "FAILED" in l or "more failures" in l][:5]:
            print(f"seed {seed}: {l[:400]}")
        print(f"seed {seed}: {time.perf_counter() - t0:.0f} s correct={res['correct']} "
              f"attempted={res['attempted']} calibration={env.get('calibration_before_s')}/"
              f"{env.get('calibration_after_s')} "
              f"failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{a.workload}: {a.runs} runs, {a.seconds:g} s each")
    print(f"{'metric':<36}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if spread < b / 3 else "  WIDE")
        print(f"{k:<36}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}"
              f"{'' if b is None else f'{b:>8.2f}'}{flag}")


if __name__ == "__main__":
    main()
