#!/usr/bin/env python3
"""Steadiness check: two sets of runs per workload, compared against the
bounds in ``BENCHMARK.json``.

    python3 wpbench/steady.py --runs 10 --sets 2

Each set runs the benchmark command once per seed (set ``k`` uses seeds
``first_seed + k*runs`` onward) and reports, per workload and metric,
the median, the quartiles and the spread (q3 - q1) / median.  The sets
agree when every spread is within its bound and no later set's median
is worse than the first set's by more than the bound.
Run it from the repository root.  This is how the bounds are set.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from wpbench.stats import quartiles  # noqa: E402

RUN_TIMEOUT_S = 900


def run_once(bench: dict, workload: str, seed: int, seconds, trace: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", str(trace)]
    start = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=RUN_TIMEOUT_S)
    wall_s = time.perf_counter() - start
    if out.returncode != 0:
        raise RuntimeError(f"{cmd} exited {out.returncode}:\n{out.stderr[-2000:]}")
    report, result = out.stdout.strip().splitlines()[-2:]
    return dict(json.loads(result), host=json.loads(report)["host"],
                wall_s=wall_s)


def summarize(values: list) -> dict:
    q1, q2, q3 = quartiles(values)
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else float("inf")}


def worse_by(first: float, later: float, better: str) -> float:
    """Share by which ``later`` is worse than ``first``."""
    change = (later - first) / first
    return change if better == "lower" else -change


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=None,
                    help="comma-separated names (default: all)")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args(argv)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    agree = True
    summary = {}
    for wl in names:
        sets = []
        for k in range(args.sets):
            runs = []
            for i in range(args.runs):
                seed = args.first_seed + k * args.runs + i
                res = run_once(bench, wl, seed, seconds, 0)
                if not res["correct"]:
                    agree = False
                runs.append(res)
                print(f"{wl} set {k} seed {seed}: " + " ".join(
                    f"{n}={v['value']:.4g}" for n, v in res["metrics"].items())
                    + f" steal%={res['host']['steal_pct']}"
                    + f" wall_s={res['wall_s']:.1f}"
                    + f" failed={res['failed']}/{res['attempted']}"
                    + (" NOISY" if res["host"]["noisy"] else ""),
                    file=sys.stderr)
            sets.append({n: summarize([r["metrics"][n]["value"] for r in runs])
                         for n in e2e})
        summary[wl] = sets
        for n, m in e2e.items():
            first = sets[0][n]
            for k, st in enumerate(s[n] for s in sets):
                ok = st["spread"] <= m["bound"]
                if k:
                    ok = ok and worse_by(first["median"], st["median"],
                                         m["better"]) <= m["bound"]
                agree = agree and ok
                print(f"{wl:13s} {n:12s} set {k}: median {st['median']:.5g} "
                      f"q1 {st['q1']:.5g} q3 {st['q3']:.5g} spread "
                      f"{st['spread']:.3f} (bound {m['bound']}) "
                      f"{'ok' if ok else 'OUT'}")
    print(json.dumps({"agree": agree, "summary": summary}))
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
