"""Per-job decomposition of one suite query via the Spark event log.

``profile_overhead.py`` splits a query's wall into build / analyze /
execute; this tool goes one level deeper and names every Spark JOB the
query runs (eager collects during DataFrame construction, k-means
rounds, localCheckpoint materializations, connected-components
iterations, the final noop write), with per-job wall, stage count,
task count and shuffle bytes — the §1 "where is the time actually
going" measurement for multi-job operators.

Runs in a FRESH SparkSession with event logging to a temp dir (the
shared bench session cannot change eventLog conf after start), parses
the JSON event log, and prints a per-job table plus totals. Gaps
between jobs are driver-side time (collect processing, plan building,
py4j) — reported as ``driver_gap``.

Usage::

    python tools/profile_jobs.py [sf_dir] query [reps]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from isilon_hadoop_tools_spark import suite  # noqa: E402
from isilon_hadoop_tools_spark.session import get_session, job_label  # noqa: E402


def parse_log(log_dir: Path) -> list[dict]:
    events = []
    for f in sorted(log_dir.rglob("*")):
        if f.name.startswith(".") or not f.is_file():
            continue
        raw = f.read_bytes()
        for line in raw.decode("utf-8", errors="replace").splitlines():
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            events.append(ev)
    jobs: dict[int, dict] = {}
    stage_info: dict[int, dict] = {}
    for ev in events:
        et = ev.get("Event")
        if et == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "job": jid,
                "start": ev["Submission Time"],
                "desc": (props.get("spark.job.description") or "")[:60],
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                "n_tasks": sum(
                    s.get("Number of Tasks", 0)
                    for s in ev.get("Stage Infos", [])
                ),
            }
        elif et == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["end"] = ev["Completion Time"]
        elif et == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            acc = {
                a.get("Name"): a.get("Value")
                for a in si.get("Accumulables", [])
            }
            stage_info[si["Stage ID"]] = {
                "shuffle_write": acc.get("internal.metrics.shuffle.write.bytesWritten", 0),
                "shuffle_read": acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0)
                + acc.get("internal.metrics.shuffle.read.localBytesRead", 0),
                "input": acc.get("internal.metrics.input.bytesRead", 0),
                "n_tasks": si.get("Number of Tasks", 0),
            }
    out = []
    for jid in sorted(jobs):
        j = jobs[jid]
        if "end" not in j:
            continue
        sw = sum(stage_info.get(s, {}).get("shuffle_write", 0) for s in j["stages"])
        inp = sum(stage_info.get(s, {}).get("input", 0) for s in j["stages"])
        ran = [s for s in j["stages"] if s in stage_info]
        out.append(
            {
                "job": jid,
                "wall_ms": j["end"] - j["start"],
                "start": j["start"],
                "end": j["end"],
                "n_stages_run": len(ran),
                "n_tasks": sum(stage_info[s]["n_tasks"] for s in ran),
                "shuffle_write": sw,
                "input": inp,
                "desc": j["desc"],
            }
        )
    return out


def main() -> int:
    args = list(sys.argv[1:])
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.1"
    rest = args[1:] if args and "/" in args[0] else args
    if not rest:
        print(__doc__)
        return 2
    name = rest[0]

    log_dir = Path(tempfile.mkdtemp(prefix="spark-events-"))
    spark = get_session(
        "profile_jobs",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log_dir),
            "spark.eventLog.compress": "false",
        },
    )
    registry = suite.queries()
    fn = registry[name]

    # warmup at smoke scale: plan compile + codegen outside the clock
    fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
        "overwrite"
    ).save()

    with job_label(spark, f"PROFILE-START {name}"):
        spark.range(1).count()  # job marking the start of the timed window
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t_build = time.perf_counter() - t0
    df.write.format("noop").mode("overwrite").save()
    t_total = time.perf_counter() - t0
    spark.stop()
    time.sleep(0.5)

    jobs = parse_log(log_dir)
    start_idx = max(
        i for i, j in enumerate(jobs) if j["desc"].startswith("PROFILE-START")
    )
    window = jobs[start_idx + 1 :]
    print(f"query={name} build={t_build:.3f}s total={t_total:.3f}s "
          f"jobs={len(window)}")
    prev_end = jobs[start_idx]["end"]
    total_gap = 0
    for j in window:
        gap = j["start"] - prev_end
        total_gap += max(gap, 0)
        prev_end = max(prev_end, j["end"])
        print(
            f"  job {j['job']:>4}  wall={j['wall_ms']/1000:7.3f}s  "
            f"gap_before={gap/1000:6.3f}s  stages={j['n_stages_run']:>2}  "
            f"tasks={j['n_tasks']:>4}  shw={j['shuffle_write']:>10}  "
            f"in={j['input']:>10}  {j['desc']}"
        )
    job_wall = sum(j["wall_ms"] for j in window) / 1000
    print(f"  sum(job walls)={job_wall:.3f}s  sum(driver gaps)={total_gap/1000:.3f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
