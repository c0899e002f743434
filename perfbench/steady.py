"""Steadiness check: run the benchmark in sets of seeded runs and compare
the spreads and medians with the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --sets 2
    python3 perfbench/steady.py --workloads json_events --runs 5 --sets 1

Run from the repository root.  For every workload and end-to-end metric it
reports the median of each set and the spread, (Q3 - Q1) / median with the
quartiles of ``statistics.quantiles(values, n=4)``.  A metric passes when
every set's spread is within its bound (``setup_s`` is exempt) and no later
set's median is worse than the first by more than the bound.  The spread
target is a third of the bound.  Each set uses its own seeds.  Exit code 1
means a check failed.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    return result


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, later: float, better: str) -> float:
    """How much worse ``later`` is than ``first``, as a share of ``first``."""
    return (later - first) / first if better == "lower" \
        else (first - later) / first


def main(argv: list[str] | None = None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args(argv)

    ok = True
    report: dict = {}
    for wl in args.workloads.split(","):
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.runs):
                seed = args.first_seed + 1000 * s + i
                r = one_run(bench["command"], wl, seed, bench["run_seconds"])
                print(f"{wl} set {s} seed {seed}: wall {r['wall_s']:.1f} s "
                      f"correct={r['correct']} {r['failed']}/{r['attempted']} "
                      + " ".join(f"{k}={v['value']:.4g}"
                                 for k, v in r["metrics"].items()),
                      flush=True)
                ok &= bool(r["correct"])
                runs.append(r)
            sets.append(runs)
        report[wl] = sets
        walls = [r["wall_s"] for runs in sets for r in runs]
        print(f"{wl}: run wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds, spreads = [], []
            for runs in sets:
                vals = [r["metrics"][name]["value"] for r in runs]
                meds.append(statistics.median(vals))
                spreads.append(spread(vals) if len(vals) > 1 else 0.0)
            worst = max((worse_by(meds[0], x, m["better"]) for x in meds[1:]),
                        default=0.0)
            fine = worse_by_ok = worst <= bound
            if name != "setup_s":
                fine &= all(sp <= bound for sp in spreads)
            ok &= fine
            target = "" if all(sp < bound / 3 for sp in spreads) \
                else " (spread above bound/3)"
            print(f"  {name:12s} medians {[round(x, 4) for x in meds]} "
                  f"spreads {[round(x, 4) for x in spreads]} bound {bound} "
                  f"worse_by {worst:+.4f} -> "
                  f"{'ok' if fine else 'FAIL'}{target}"
                  + ("" if worse_by_ok else " (median moved)"), flush=True)
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
