"""Self-test of the benchmark at sf0.001 (about four minutes).

Usage (from the repository root)::

    python3 perfbench/selftest.py

For each workload it makes one untraced and one traced run at sf0.001,
against goldens computed from the DuckDB oracles at that scale, and
asserts that:

- every metric named in ``BENCHMARK.json`` is printed with its unit;
- every query's values match its oracle;
- spans nest inside their parents and no self time is negative;
- at least 95% of Spark job wall falls inside a query span, and each
  query's build/analyze/execute spans cover at least 95% of its wall;
- a deliberately wrong golden row count is counted as a failure and
  makes the run exit non-zero.
"""

from __future__ import annotations

import copy
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import tracing  # noqa: E402
from goldens import oracle_goldens  # noqa: E402
from run import RUNS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCALE = "sf0.001"
SEED = 7
NEST_SLACK_S = 0.001


def run(workload: str, trace: int, goldens: Path) -> tuple[int, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--scale", SCALE, "--goldens", str(goldens)]
    out = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    return out.returncode, json.loads(lines[-1]) if lines else {}


def check_metrics(result: dict, expected: list[dict], what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in expected}
    assert got == want, f"{what}: metrics/units differ: {set(got.items()) ^ set(want.items())}"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, what


def check_spans(workload: str) -> None:
    spans, jobs = [], []
    with open(RUNS / f"spans-{workload}-seed{SEED}.jsonl") as fh:
        for line in fh:
            rec = json.loads(line)
            kind = rec.pop("kind")
            if kind == "span":
                span = tracing.Span.__new__(tracing.Span)
                for k in tracing.Span.__slots__:
                    setattr(span, k, rec[k])
                spans.append(span)
            elif kind == "job":
                jobs.append(rec)
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent)
        if s.parent is not None:
            assert p is not None, f"{workload}: span {s.name} has a missing parent"
            assert p.start - NEST_SLACK_S <= s.start <= s.end <= p.end + NEST_SLACK_S, (
                f"{workload}: {s.name} [{s.start}, {s.end}] outside "
                f"{p.name} [{p.start}, {p.end}]")
        else:
            assert s.name.startswith("query."), f"{workload}: root span {s.name}"
    assert all(v >= 0 for v in tracing.self_times(spans, jobs).values())
    assert jobs, f"{workload}: no Spark jobs in the event log"


def main() -> int:
    cfg = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    import bench

    RUNS.mkdir(exist_ok=True)
    goldens = oracle_goldens(Path(bench.SF_DIR).parent,
                             {SCALE: {q for w in WORKLOADS.values() for q in w.queries}}, SCALE)
    good = RUNS / "selftest-goldens.json"
    good.write_text(json.dumps(goldens))

    for name in WORKLOADS:
        rc, res = run(name, 0, good)
        assert rc == 0 and res.get("correct"), f"{name} untraced: exit {rc}, {res}"
        check_metrics(res, cfg["end_to_end"], f"{name} untraced")
        rc, res = run(name, 1, good)
        assert rc == 0 and res.get("correct"), f"{name} traced: exit {rc}, {res}"
        check_metrics(res, cfg["per_layer"], f"{name} traced")
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert m["trace.job_wall_in_query_frac"] >= 0.95, (name, m["trace.job_wall_in_query_frac"])
        assert m["trace.phase_cover_min"] >= 0.95, (name, m["trace.phase_cover_min"])
        check_spans(name)
        print(f"ok   {name}", flush=True)

    first = next(iter(WORKLOADS.values()))
    wrong = copy.deepcopy(goldens)
    wrong[SCALE][first.queries[0]]["rows"] += 1
    bad = RUNS / "selftest-wrong-goldens.json"
    bad.write_text(json.dumps(wrong))
    rc, res = run(first.name, 0, bad)
    assert rc != 0 and res.get("correct") is False and res.get("failed", 0) > 0, (
        f"a wrong golden was not counted: exit {rc}, {res}")
    print("ok   wrong golden counted as a failure")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
