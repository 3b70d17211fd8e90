"""Interleaved, equality-gated A/B of two builders.

Usage (from the repository root):

    python tools/ab.py OLD NEW [--sf DIR] [--reps N]

OLD and NEW are each a registry entry name (``winsorized_price_stats``)
or a ``package.module:function`` path; either way the target has the
builder signature ``(spark, sf_dir) -> DataFrame``. An old formulation
under test lives in any importable module (on ``PYTHONPATH``) and is
passed by dotted path. ``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``.

1. Equality gate: both outputs are collected and their sorted rows
   compared exactly. A mismatch prints both row counts and the first 3
   rows found on only one side, and exits 1 before any timed run.
2. One untimed warm-up of each variant (codegen, parquet footers).
3. N reps, alternating which variant runs first. Every run writes to a
   noop sink under its own Spark job group, and ``clear_state`` follows.

Prints one JSON object: the sf dir and reps, load1 at start and end,
hypervisor steal as % of busy time over the whole run, and per variant
its times, min, median and Spark jobs per timed run, then
``new_faster_reps`` and the number of rows compared.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession  # noqa: E402

from bench import read_proc_stat  # noqa: E402
from movie_data_pipeline_spark.session import clear_state, get_spark  # noqa: E402


def resolve(target: str):
    """The builder named by a registry entry or a ``module:function`` path."""
    if ":" in target:
        module, fn = target.split(":", 1)
        return getattr(importlib.import_module(module), fn)
    from movie_data_pipeline_spark.plans.analytics import QUERIES

    if target not in QUERIES:
        raise SystemExit(f"{target!r} is neither a registry entry nor module:function")
    return QUERIES[target][0]


def session(app_name: str) -> SparkSession:
    """The running session (a caller's, e.g. a test's) or a new one."""
    return SparkSession.getActiveSession() or get_spark(app_name)


def timed_run(spark, builder, sf_dir: str, group: str) -> tuple[float, int]:
    """Build and write one variant to a noop sink under job group
    ``group``; returns (seconds, Spark jobs the run launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    clear_state(spark)
    return dt, jobs


def sorted_rows(spark, builder, sf_dir: str) -> list[str]:
    # repr is exact for floats and orders rows holding NULLs or NaN
    rows = sorted(repr(tuple(r)) for r in builder(spark, sf_dir).collect())
    clear_state(spark)
    return rows


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--reps", type=int, default=4)
    args = ap.parse_args(argv)
    if not args.sf:
        ap.error("--sf is required when SPARK_GRAFT_SF_DIR is unset")
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    builders = {"old": resolve(args.old), "new": resolve(args.new)}

    load_start = os.getloadavg()[0]
    steal0, busy0 = read_proc_stat()
    spark = session("ab")

    rows = {label: sorted_rows(spark, b, args.sf) for label, b in builders.items()}
    if rows["old"] != rows["new"]:
        old, new = Counter(rows["old"]), Counter(rows["new"])
        print(json.dumps({
            "equal": False,
            "old_rows": len(rows["old"]),
            "new_rows": len(rows["new"]),
            "only_old": list((old - new).elements())[:3],
            "only_new": list((new - old).elements())[:3],
        }, indent=1))
        return 1

    for label, b in builders.items():
        timed_run(spark, b, args.sf, f"ab:warmup:{label}")
    runs: dict[str, list[tuple[float, int]]] = {"old": [], "new": []}
    for rep in range(args.reps):
        order = ("old", "new") if rep % 2 == 0 else ("new", "old")
        for label in order:
            runs[label].append(
                timed_run(spark, builders[label], args.sf, f"ab:{rep}:{label}")
            )
    steal1, busy1 = read_proc_stat()

    variants = {}
    for label, target in (("old", args.old), ("new", args.new)):
        times = [round(t, 3) for t, _ in runs[label]]
        variants[label] = {
            "target": target,
            "times": times,
            "min": min(times),
            "median": round(statistics.median(times), 3),
            "jobs": [j for _, j in runs[label]],
        }
    print(json.dumps({
        "sf_dir": args.sf,
        "reps": args.reps,
        "load1_start": round(load_start, 2),
        "load1_end": round(os.getloadavg()[0], 2),
        "steal_pct_busy": round((steal1 - steal0) / max(busy1 - busy0, 1) * 100, 2),
        **variants,
        "ratio_min": round(variants["new"]["min"] / variants["old"]["min"], 3),
        "new_faster_reps": sum(
            n < o for (o, _), (n, _) in zip(runs["old"], runs["new"])
        ),
        "rows_compared": len(rows["old"]),
    }, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
