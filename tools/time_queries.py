"""Time a list of suite queries end-to-end with the noop sink.

Same methodology as bench.py (plan+codegen warmup at sf0.001, then
timed reps at the target SF, min reported) but for an arbitrary query
list — the paired A/B measurement harness for rotation (non-headline)
queries. Usage::

    python tools/time_queries.py [sf_dir] query [query ...] [--reps N]

``--reps N`` and ``--reps=N`` are both accepted; an unknown query name
fails before the session starts, naming the registered-query count.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from isilon_hadoop_tools_spark import suite  # noqa: E402
from isilon_hadoop_tools_spark.session import get_session, job_label  # noqa: E402

WARMUP_SF_DIR = "/root/testdata/sf0.001"
DEFAULT_SF_DIR = str(Path(WARMUP_SF_DIR).with_name("sf0.1"))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse the command line; exits with a usage error on an unknown
    query name or a non-integer ``--reps``."""
    ap = argparse.ArgumentParser(
        usage="%(prog)s [sf_dir] query [query ...] [--reps N]",
        description="Time suite queries end-to-end with the noop sink.",
    )
    ap.add_argument(
        "targets",
        nargs="+",
        help="an optional sf dir (any argument with a '/') then query names",
    )
    ap.add_argument("--reps", type=int, default=2, help="timed reps per query")
    args = ap.parse_args(argv)
    args.sf_dir = DEFAULT_SF_DIR
    if "/" in args.targets[0]:
        args.sf_dir = args.targets.pop(0)
    registry = suite.queries()
    unknown = [n for n in args.targets if n not in registry]
    if unknown:
        ap.error(
            f"unknown query name(s): {', '.join(unknown)} "
            f"(not among the {len(registry)} registered queries)"
        )
    if not args.targets:
        ap.error("no query names given")
    return args


def main() -> int:
    args = parse_args()
    spark = get_session("time_queries")
    registry = suite.queries()
    out: dict[str, dict] = {}
    for name in args.targets:
        fn = registry[name]
        with job_label(spark, f"warmup {name}"):
            fn(spark, WARMUP_SF_DIR).write.format("noop").mode("overwrite").save()
        obs = []
        for r in range(args.reps):
            with job_label(spark, f"timed {name} rep{r}"):
                t0 = time.perf_counter()
                fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
                obs.append(round(time.perf_counter() - t0, 3))
        out[name] = {"min": min(obs), "obs": obs}
        print(json.dumps({name: out[name]}), flush=True)
    print("RESULT " + json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
