"""Regenerate the stored goldens from the suite's DuckDB oracles.

Usage (from the repository root; a few minutes, DuckDB only)::

    python3 perfbench/goldens.py

For every workload query it stores, at the value-check scale, the row
count and a digest of the oracle's rows normalised by
``tools/check.py``'s rule, and at the workload's timed scale the row
count. Runs compare against this file; they never run the oracles.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

from run import GOLDENS, load_normalize, value_digest  # noqa: E402
from workloads import VALUE_SCALE, WORKLOADS  # noqa: E402


def oracle_goldens(data_root: Path, wanted: dict[str, set[str]], digest_scale: str) -> dict:
    """{scale: {query: {"rows": n[, "digest": d]}}}, with value digests
    at ``digest_scale`` only."""
    import duckdb

    from isilon_hadoop_tools_spark import suite
    from isilon_hadoop_tools_spark.sources.tpch import TABLES

    oracles = suite.oracle_sql()
    normalize = load_normalize()
    out: dict[str, dict] = {}
    for scale, queries in sorted(wanted.items()):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_root / scale / t}.parquet')")
        for q in sorted(queries):
            res = con.execute(oracles[q])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            entry = {"rows": len(rows)}
            if scale == digest_scale:
                entry["digest"] = value_digest(normalize, rows, cols)
            out.setdefault(scale, {})[q] = entry
            print(f"{scale} {q}: {len(rows)} rows", file=sys.stderr, flush=True)
        con.close()
    return out


def main() -> int:
    import bench

    wanted: dict[str, set[str]] = {}
    for wl in WORKLOADS.values():
        wanted.setdefault(VALUE_SCALE, set()).update(wl.queries)
        wanted.setdefault(wl.scale, set()).update(wl.queries)
    goldens = oracle_goldens(Path(bench.SF_DIR).parent, wanted, VALUE_SCALE)
    GOLDENS.write_text(json.dumps(goldens, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
