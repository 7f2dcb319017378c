"""Steadiness check: two sets of runs of the same code, compared per
metric and workload against the bounds in ``BENCHMARK.json``.

    python3 perfbench/steadiness.py [--first-seed 1000]

Each of the two sets makes ten untraced runs of every workload in
``BENCHMARK.json``, every run with its own seed (set k uses seeds
first-seed + 10k ... first-seed + 10k + 9), and prints each run's
metrics and wall time. For every end-to-end metric it then prints each
set's first quartile, median and third quartile, the spread (interquartile distance over the median)
against the metric's bound, and how far the second set's median moved
against the first in the metric's worse direction. The exit code is 0
when every spread is within its bound and no median moved by more than
its bound; spreads above a third of the bound are flagged as ``loose``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

SETS = 2
RUNS = 10


def one_run(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(args)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    values: dict[tuple[str, str, int], list[float]] = {}
    ok = True
    for k in range(SETS):
        for wl in workloads:
            for i in range(RUNS):
                seed = args.first_seed + k * RUNS + i
                t0 = time.perf_counter()
                out = one_run(bench["command"], wl, seed, bench["run_seconds"])
                wall = time.perf_counter() - t0
                if not out["correct"] or out["failed"]:
                    ok = False
                    print(f"{wl} seed {seed}: correct={out['correct']} failed={out['failed']}", flush=True)
                for name, m in out["metrics"].items():
                    values.setdefault((wl, name, k), []).append(m["value"])
                print(f"set {k} {wl} seed {seed} wall {wall:.1f}s: "
                      + " ".join(f"{n}={m['value']:.4g}" for n, m in out["metrics"].items()), flush=True)

    summary = []
    print(f"\n{'workload':<16} {'metric':<12} {'set':>3} {'q1':>10} {'median':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6} {'moved':>7}  verdict")
    for wl in workloads:
        for name, m in metrics.items():
            bound = m["bound"]
            first = stats.median(values[(wl, name, 0)])
            for k in range(SETS):
                xs = values[(wl, name, k)]
                q1, med, q3 = stats.quartiles(xs)
                sp = stats.spread(xs)
                worse = (med - first) / first if m["better"] == "lower" else (first - med) / first
                verdict = []
                if sp > bound:
                    verdict.append("SPREAD>BOUND")
                elif sp > bound / 3:
                    verdict.append("loose")
                if worse > bound:
                    verdict.append("MEDIAN MOVED")
                ok = ok and not any(v.isupper() for v in verdict)
                summary.append({"workload": wl, "metric": name, "set": k, "q1": q1, "median": med,
                                "q3": q3, "spread": sp, "bound": bound, "moved": worse})
                print(f"{wl:<16} {name:<12} {k:>3} {q1:>10.4g} {med:>10.4g} {q3:>10.4g} "
                      f"{sp:>7.3f} {bound:>6.3f} {worse:>+7.3f}  {' '.join(verdict) or 'ok'}")
    os.makedirs(os.path.join(ROOT, ".perfbench_cache"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_cache", "steadiness.json"), "w") as fh:
        json.dump({"values": {"|".join(map(str, k)): v for k, v in values.items()}, "summary": summary}, fh)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
