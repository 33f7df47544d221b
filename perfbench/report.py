"""Run every workload once untraced and once traced, and print every
end-to-end metric with its unit, one row per workload.

Usage (from the repository root; about two minutes per workload)::

    python3 perfbench/report.py [--seed N] [--seconds S]

Each run compares every query's values with its oracle at the
value-check scale during set-up. Tracing overhead is the traced
``pass_s`` minus the untraced one. Workloads run one after
another, never concurrently. Exits non-zero if any run failed or any
output was wrong.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import RUNS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[int, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    path = RUNS / f"result-{workload}-seed{seed}-trace{trace}.json"
    path.unlink(missing_ok=True)
    proc = subprocess.run(cmd, cwd=HERE.parent, stdout=subprocess.DEVNULL)
    return proc.returncode, json.loads(path.read_text()) if path.exists() else {}


def main() -> int:
    cfg = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=cfg["run_seconds"])
    args = p.parse_args()

    cols = [f"{m['name']} ({m['unit']})" for m in cfg["end_to_end"]] + [
        "failed_frac (ratio)", "peak_rss_mb (MB)", "stored_mb (MB)", "trace_overhead_s (s)"]
    print("workload".ljust(18) + " | ".join(cols))
    bad = False
    for name in WORKLOADS:
        rc0, plain = run(name, args.seed, args.seconds, 0)
        rc1, traced = run(name, args.seed, args.seconds, 1)
        bad |= rc0 != 0 or rc1 != 0
        if not plain or not traced:
            print(f"{name.ljust(18)}FAILED (exit {rc0}/{rc1})")
            continue
        e2e, tail = plain["e2e"], plain["tail"]
        cells = [f"{e2e[m['name']]:.3f}" for m in cfg["end_to_end"]]
        cells = [c + (f" (p{tail['tail_pct']:.0f} of {tail['windows']} windows,"
                      f" {tail['passes']} passes)"
                      if m["name"] == "pass_s_tail" else "")
                 for c, m in zip(cells, cfg["end_to_end"])]
        runs = (plain, traced)
        cells += [f"{sum(r['failed'] for r in runs) / sum(r['attempted'] for r in runs):.3f}",
                  f"{sum(plain['peak_rss'].values()):.0f}",
                  f"{plain['stored_bytes'] / 1e6:.3f}",
                  f"{traced['tail']['pass_s'] - plain['tail']['pass_s']:+.3f}"]
        print(name.ljust(18) + " | ".join(cells), flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
