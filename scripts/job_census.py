"""Job census: per `__spark_entry__` query, the wall time, the Spark jobs
and stages it runs, and the persistent RDDs it leaves behind.

All queries run in one session.  Before each query the SQL cache is
cleared; the query is built and collected under its own job group, so
the status tracker attributes every job to it.  "Persistent RDDs added"
counts the RDDs the query registered (ids above a marker taken just
before it) that are still persistent once its result has been
collected: pins and caches the query did not free, including the frames
its result reads.

Usage:
    python scripts/job_census.py --sf DIR [--reps N] [--out FILE]
                                 [query ...]

With no query names every query runs.  Each query runs ``--reps`` times
in a row; every run's wall time is kept, and jobs, stages and RDDs come
from the last run.  The JSON goes to ``--out`` (default: stdout).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from graph_python_spark.session import get_spark  # noqa: E402


def run_query(spark, name: str, fn, sf_dir: str) -> dict:
    """Run one query under its own job group; returns its census row."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    first = sc.parallelize([0]).id()
    sc.setJobGroup(name, name)
    t0 = time.perf_counter()
    try:
        rows = len(fn(spark, sf_dir).collect())
    finally:
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(name)
    stages = sum(len(st.getJobInfo(j).stageIds) for j in jobs
                 if st.getJobInfo(j) is not None)
    added = sum(1 for k in sc._jsc.getPersistentRDDs().keys() if k > first)
    return {"wall_s": round(wall, 3), "jobs": len(jobs), "stages": stages,
            "persistent_rdds_added": added, "rows": rows}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", required=True, help="TPC-H parquet directory")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    qs = entrymod.queries()
    names = args.queries or list(qs)
    unknown = sorted(set(names) - set(qs))
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = get_spark(app="job-census")
    try:
        commit = subprocess.run(["git", "-C", ROOT, "describe", "--always",
                                 "--dirty"], capture_output=True,
                                text=True).stdout.strip() or None
    except OSError:
        commit = None
    out = {
        "commit": commit,
        "sf_dir": args.sf,
        "reps": args.reps,
        "cores": spark.sparkContext.defaultParallelism,
        "spark": spark.version,
        "python": platform.python_version(),
        "queries": {},
    }
    for name in names:
        walls = []
        for rep in range(args.reps):
            row = run_query(spark, f"{name}#{rep}", qs[name], args.sf)
            walls.append(row.pop("wall_s"))
        out["queries"][name] = {"wall_s": walls, **row}
        print(f"  {name}: {walls} s, {row['jobs']} jobs, "
              f"{row['persistent_rdds_added']} persistent RDDs",
              file=sys.stderr)
    spark.stop()
    text = json.dumps(out, indent=2)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
