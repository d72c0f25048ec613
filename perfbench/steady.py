"""Steadiness helper: run one workload with several seeds and report,
per metric, the median, the quartiles and the spread (quartile
distance as a share of the median) against the bounds in
``BENCHMARK.json``.

    python3 perfbench/steady.py --workload hot --seeds 1-10
    python3 perfbench/steady.py --workload hot --seeds 1-10 --sets 2

With ``--sets 2`` the seeds run twice and the second set's medians are
compared with the first's, as the bound check between two sets of runs
of the same code does. Every end-to-end metric's spread is checked
against its bound, ``setup_s`` too. Beside each metric the spread of the
same statistic over the operations' wall times is printed, so what
measuring CPU time instead buys is visible (see perfbench/README.md).
Each run's length and the host's stolen share over its rounds are
printed too. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """(result line, details line) of one run."""
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    start = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    elapsed = time.perf_counter() - start
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    details = json.loads(lines[-2])["details"]
    details["run_s"] = elapsed
    return json.loads(lines[-1]), details


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    declared = bench["per_layer" if args.trace else "end_to_end"]
    seeds = _seeds(args.seeds)

    sets = []
    for s in range(args.sets):
        runs = []
        for seed in seeds:
            out, details = run_once(bench, args.workload, seed, args.trace)
            vals = " ".join(f"{m['name']}={out['metrics'][m['name']]['value']:.4g}" for m in declared)
            print(
                f"set {s + 1} seed {seed}: {details['run_s']:.0f} s, host steal {details.get('host_steal', 0):.2f},"
                f" failed {out['failed']}/{out['attempted']} {vals}",
                flush=True,
            )
            runs.append((out, details.get("wall", {})))
        sets.append(runs)

    ok = True
    medians = []
    for s, runs in enumerate(sets):
        print(f"set {s + 1}: {args.workload}, seeds {args.seeds}")
        meds = {}
        for m in declared:
            vals = [r["metrics"][m["name"]]["value"] for r, _ in runs]
            med, q1, q3, sp = spread(vals)
            meds[m["name"]] = med
            bound = m.get("bound")
            flag = ""
            if bound is not None:
                flag = "ok" if sp <= bound / 3 else ("within bound" if sp <= bound else "TOO WIDE")
                ok &= sp <= bound
            wall = [r[m["name"]] for _, r in runs if m["name"] in r]
            wall_sp = f" wall spread {spread(wall)[3]:7.3f}" if len(wall) == len(runs) else ""
            print(
                f"  {m['name']:<40} median {med:<14.6g} q1 {q1:<14.6g} q3 {q3:<14.6g} "
                f"spread {sp:7.3f}{wall_sp} {flag}"
            )
        medians.append(meds)
    if len(medians) > 1 and not args.trace:
        print("second set vs first (share worse):")
        for m in declared:
            a, b = medians[0][m["name"]], medians[1][m["name"]]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            good = worse <= m["bound"]
            ok &= good
            print(f"  {m['name']:<40} {worse:+.3f} {'ok' if good else 'WORSE THAN BOUND'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
