"""Benchmark entry point: one workload, one seed, one run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 4 --trace 0

A run is a closed loop with one client: one query at a time on
``local[<nproc>]``, every timed execution forced through a ``noop``
sink. The seed permutes the workload's query order; every pass uses
that order. Set-up is the session start plus the untimed value pass:
it collects every query at the value-check scale, compares its rows
with the stored oracle digest and compiles every plan. When the timed
scale differs, one untimed pass at the timed scale follows. Then
whole passes repeat until ``--seconds`` have passed. Every timed execution's row count is
checked against the stored oracle count.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it records the
effective environment. A wrong or failed execution makes the exit code
non-zero. Runs write only under ``perfbench/.run/``; the benchmark
refuses to start while another Spark JVM is live, so workloads run
strictly one at a time.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUNS = HERE / ".run"
GOLDENS = HERE / "goldens.json"
CONFIG = ROOT / "BENCHMARK.json"
sys.path.insert(0, str(HERE))

import tracing  # noqa: E402
from workloads import VALUE_SCALE, WORKLOADS  # noqa: E402

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail
JVM_GRACE_S = 10.0  # a previous run's JVM may still be exiting
WRITE_PATH_WARMUPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hooks: run every pass at one scale against other goldens
    p.add_argument("--scale", help=argparse.SUPPRESS)
    p.add_argument("--goldens", type=Path, default=GOLDENS, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def load_normalize():
    """``tools/check.py``'s value normalisation (the oracle gate's rule)."""
    spec = importlib.util.spec_from_file_location("oracle_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def value_digest(normalize, rows, columns) -> str:
    norm = normalize(rows, [c.lower() for c in columns])
    return hashlib.sha256(json.dumps(norm).encode()).hexdigest()


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def wait_gone(pids, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and its Python workers, and wait
    until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    wait_gone(kids, 30)


def wait_for_no_spark(machine_state) -> dict:
    deadline = time.monotonic() + JVM_GRACE_S
    state = machine_state()
    while state["spark_jvms"] != 0 and time.monotonic() < deadline:
        time.sleep(0.5)
        state = machine_state()
    if state["spark_jvms"] != 0:
        raise SystemExit(
            f"refusing to start: {state['spark_jvms']} other SparkSubmit JVM(s) "
            "are live; workloads must run one at a time")
    return state


def state_bytes(root: Path) -> int:
    """Bytes of the state the workload's queries keep under the suite's
    state root. The copies of input slices that streaming queries
    replay (``*_src_*``) are inputs, not state, and are left out."""
    return sum(tracing._dir_bytes(str(d)) for d in root.iterdir()
               if d.is_dir() and "_src_" not in d.name)


def pass_stats(walls: list[float], n: int) -> dict:
    """Every window of ``n`` consecutive executions of the fixed cyclic
    order holds each query once, so each window is one full pass.
    Windows overlap: ``passes`` counts the independent passes. The
    tail is the highest percentile with ``TAIL_BEYOND`` windows above
    it, or the slowest window when there are too few."""
    windows = sorted(sum(walls[i:i + n]) for i in range(len(walls) - n + 1))
    # with fewer than 2*TAIL_BEYOND+1 windows that percentile would sit
    # at or below the median: report the slowest window instead
    beyond = TAIL_BEYOND if len(windows) > 2 * TAIL_BEYOND else 0
    k = len(windows) - 1 - beyond
    return {"pass_s": statistics.median(windows), "pass_s_tail": windows[k],
            "tail_pct": 100.0 * (k + 1) / len(windows), "windows": len(windows),
            "passes": len(walls) // n, "beyond_tail": beyond}


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    scale = args.scale or wl.scale
    value_scale = args.scale or VALUE_SCALE
    n = len(wl.queries)
    order = list(wl.queries)
    random.Random(args.seed).shuffle(order)

    run_dir = RUNS / f"{wl.name}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: run_dir / k for k in ("state", "local", "tmp", "warehouse", "eventlog")}
    for d in dirs.values():
        d.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    os.environ["TMPDIR"] = str(dirs["tmp"])
    # every JVM, the launcher included: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']}")
    sys.path.insert(0, str(ROOT))

    import bench
    from isilon_hadoop_tools_spark import suite
    from isilon_hadoop_tools_spark.session import get_session
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    machine_start = wait_for_no_spark(bench._machine_state)
    data_root = Path(bench.SF_DIR).parent
    goldens = json.loads(args.goldens.read_text())
    missing = [(s, q) for s in {scale, value_scale} for q in wl.queries
               if q not in goldens.get(s, {})]
    if missing:
        raise SystemExit(f"no golden for {missing}; regenerate with perfbench/goldens.py")
    normalize = load_normalize()

    # Suite state roots live under one module constant that the family
    # modules imported by name: point every binding at this run's dir.
    scratch = suite._SCRATCH
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(tracing.PKG) and \
                getattr(mod, "_SCRATCH", None) == scratch:
            mod._SCRATCH = str(dirs["state"])

    tracer = tracing.Tracer()
    if args.trace:
        tracing.install(tracer)
    cpus = len(os.sched_getaffinity(0))
    conf = {"spark.sql.warehouse.dir": str(dirs["warehouse"])}
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["eventlog"].as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    spark = get_session("perfbench", cpus=cpus, extra_conf=conf)
    session_start_s = time.perf_counter() - t
    planning = tracing.listen_planning(spark) if args.trace else None
    registry = suite.queries()
    attempted = failed = 0

    def fail(name, what):
        nonlocal failed
        failed += 1
        print(f"FAIL {name}: {what}", file=sys.stderr, flush=True)

    def value_check(name):
        nonlocal attempted
        attempted += 1
        try:
            df = registry[name](spark, str(data_root / value_scale))
            rows = [tuple(r) for r in df.collect()]
            digest = value_digest(normalize, rows, df.columns)
        except Exception:  # noqa: BLE001 — a failing query is a counted failure
            return fail(name, traceback.format_exc())
        if digest != goldens[value_scale][name]["digest"]:
            fail(name, f"values differ from the oracle at {value_scale}")

    def execute(name, trace_id, at=scale):
        nonlocal attempted
        attempted += 1
        obs = Observation()
        t0 = time.perf_counter()
        try:
            with tracer.query(name, trace_id):
                with tracer.span("suite.build", "suite", "build"):
                    df = registry[name](spark, str(data_root / at)).observe(
                        obs, F.count(F.lit(1)).alias("rows"))
                # planning and running of the write; the traced run
                # splits off its planning as ``suite.analyze``
                with tracer.span("suite.execute", "suite", "execute"):
                    df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            rows = obs.get["rows"]
        except Exception:  # noqa: BLE001 — a failing query is a counted failure
            fail(name, traceback.format_exc())
            return time.perf_counter() - t0
        if rows != goldens[at][name]["rows"]:
            fail(name, f"{rows} rows, oracle has {goldens[at][name]['rows']} at {at}")
        return wall

    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        # traced in set-up only for the table loads, which the suite
        # memoizes per session: timed passes never reload a table
        tracer.enabled = bool(args.trace)
        value_walls = {}
        for name in order:
            t = time.perf_counter()
            value_check(name)
            value_walls[name] = time.perf_counter() - t
        # The value pass collected: run the timed executions' sink and
        # row-count observation on a tiny frame, or the first timed
        # execution would pay their first use.
        for _ in range(WRITE_PATH_WARMUPS):
            obs = Observation()
            spark.range(1000).observe(obs, F.count(F.lit(1)).alias("rows")) \
                .write.format("noop").mode("overwrite").save()
            obs.get
        # an untimed pass at the timed scale; the value pass is one
        # already when it ran at that scale
        warm_walls = {} if scale == value_scale else {
            name: execute(name, None) for name in order}
        setup_s = time.perf_counter() - T0
        setup_spans, tracer.spans = tracer.spans, []

        walls: list[float] = []
        deadline = time.perf_counter() + args.seconds
        # whole passes only: a partial pass would give the queries early
        # in the order one more (warmer) sample than the rest
        while len(walls) % n or not walls or time.perf_counter() < deadline:
            walls.append(execute(order[len(walls) % n], len(walls)))
        tracer.enabled = False

        if planning is not None:
            # listeners run on Spark's listener bus: let it drain
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            planned = sorted(planning.planned)
        stored = state_bytes(dirs["state"])
        # ``plans.state`` roots: one ``ParquetState`` per query, named so
        live_state = sum(tracing._dir_bytes(str(dirs["state"] / q)) for q in wl.queries)
        rss = {"python_mb": vm_hwm_mb("self"), "jvm_mb": vm_hwm_mb(jvm_pid)}
        peak_rss_mb = rss["python_mb"] + rss["jvm_mb"]
        env = {
            "workload": wl.name, "seed": args.seed, "scale": scale,
            "value_scale": value_scale, "order": order,
            "master": spark.sparkContext.master,
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "nproc": cpus, "machine_start": machine_start,
        }
    finally:
        stop_spark(spark)
    env["machine_end"] = bench._machine_state()

    stats = pass_stats(walls, n)
    per_query: dict[str, list[float]] = {}
    for i, w in enumerate(walls):
        per_query.setdefault(order[i % n], []).append(w)
    medians = {q: statistics.median(ws) for q, ws in per_query.items()}
    e2e = {
        "setup_s": setup_s,
        "pass_s": stats["pass_s"],
        "pass_s_tail": stats["pass_s_tail"],
        "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in medians.values())),
    }
    result = {"env": env, "e2e": e2e, "tail": stats, "walls": walls,
              "query_median_s": medians,
              "setup": {"session_start_s": session_start_s, "value_walls": value_walls,
                        "warm_walls": warm_walls},
              "attempted": attempted, "failed": failed, "stored_bytes": stored, "peak_rss": rss}

    if args.trace:
        spans = tracer.spans
        lo = min(s.start for s in spans) - tracing.CLOCK_SLACK_S
        hi = max(s.end for s in spans) + tracing.CLOCK_SLACK_S
        jobs, batches = tracing.read_eventlog(str(dirs["eventlog"]))
        jobs = [j for j in jobs if lo <= j["start"] <= hi]
        batches = [b for b in batches if lo <= b["start"] <= hi]
        tracing.split_execute(spans, planned)
        layers = tracing.layer_metrics(spans, jobs, batches, len(walls) / n, cpus, setup_spans)
        layers["session.start_s"] = session_start_s
        layers["failed_frac"] = failed / attempted
        layers["stored_mb"] = stored / 1e6
        layers["peak_rss_mb"] = peak_rss_mb
        written = layers["plans.state.bytes_written"]
        layers["plans.state.write_amp"] = written / live_state if live_state else 0.0
        layers["trace.pass_s"] = stats["pass_s"]
        result["layers"] = layers
        tracing.write_spans(RUNS / f"spans-{wl.name}-seed{args.seed}.jsonl", spans, jobs, batches)
    values = result["layers"] if args.trace else e2e
    section = json.loads(CONFIG.read_text())["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in section}

    (RUNS / f"result-{wl.name}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(result, indent=1, default=str) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"env": env}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
