#!/usr/bin/env python
"""Per-query measurement of registry entries, in one checkout or as an
interleaved A/B of two.

Each named `plans.registry.QUERIES` entry runs through the noop sink on
a tuned, warmed-up session, each timed pass in its own job group. Per
query it reports the pass times and their best, the best pass's record
from Spark's status store with the UI off (`perfbench/probes.JobProbe`)
and a result hash over the oracle's canonical rows, so two checkouts
can be shown to return the same rows at any scale factor.

`--base CHECKOUT --pairs N` runs the same command N times per side,
each run a fresh process importing the engine from its own checkout,
alternating which side runs first. It prints each side's median of
per-run best times, the base's quartile spread, the fraction of pairs
the change won (ties count for neither) and whether every run returned
the same hash, and exits 1 when one did not.

Usage:
  python scripts/measure.py [--passes N] [--phases] [--explain DIR] QUERY...
  python scripts/measure.py --headline --passes 1
  python scripts/measure.py --conf spark.sql.shuffle.partitions=8 QUERY
  python scripts/measure.py --base ../parent --pairs 10 QUERY...

The last stdout line is the result as one JSON object.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("names", nargs="*", metavar="QUERY")
    ap.add_argument("--headline", action="store_true",
                    help="measure bench.HEADLINE, then any QUERY not in it")
    ap.add_argument("--passes", type=int, default=3,
                    help="timed passes per query (default 3)")
    ap.add_argument("--phases", action="store_true",
                    help="one extra pass split into build/analyze/plan/exec")
    ap.add_argument("--explain", metavar="DIR",
                    help="write each query's formatted plan to DIR/QUERY.txt")
    ap.add_argument("--conf", action="append", default=[], metavar="K=V",
                    help="Spark conf for the session (repeatable)")
    ap.add_argument("--sf-dir",
                    help="input tables (default: the engine's DEFAULT_SF_DIR)")
    ap.add_argument("--root", default=ROOT,
                    help="checkout to import the engine from "
                         "(default: the one holding this script)")
    ap.add_argument("--base", metavar="CHECKOUT",
                    help="A/B mode: the checkout this one is compared to")
    ap.add_argument("--pairs", type=int, default=10,
                    help="A/B mode: runs per side (default 10)")
    args = ap.parse_args(argv)
    for kv in args.conf:
        if "=" not in kv:
            ap.error(f"--conf takes K=V, got {kv!r}")
    if args.passes < 1 or args.pairs < 1:
        ap.error("--passes and --pairs must be at least 1")
    # A/B workers start in an empty directory of their own
    for attr in ("sf_dir", "explain"):
        if getattr(args, attr):
            setattr(args, attr, os.path.abspath(getattr(args, attr)))
    if args.headline:
        sys.path.insert(0, args.root)
        from bench import HEADLINE  # noqa: PLC0415

        args.names = HEADLINE + [n for n in args.names if n not in HEADLINE]
    if not args.names:
        ap.error("name at least one QUERY or pass --headline")
    return args


def result_hash(pdf) -> str:
    from realtime_data_warehouse_spark.oracle import _canonical  # noqa: PLC0415

    rows = _canonical(pdf)
    h = hashlib.sha256()
    h.update(repr(sorted(pdf.columns)).encode())
    for r in rows:
        h.update(repr(r).encode())
    return f"{h.hexdigest()}:{len(rows)}"


def _warm_up(spark, sf_dir: str, cpus: int) -> None:
    """bench.py's untimed init: executors, the Python worker pool, a
    shuffle and the parquet reader."""
    import pandas as pd  # noqa: F401,PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    noop = F.pandas_udf(lambda s: s, "long")
    spark.range(0, 10_000, 1, cpus).select(noop("id").alias("v")).write \
        .format("noop").mode("overwrite").save()
    spark.range(1000).repartition(8).count()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()


def measure(args: argparse.Namespace) -> dict:
    sys.path.insert(0, args.root)
    sys.path.append(os.path.join(ROOT, "perfbench"))
    import probes  # noqa: PLC0415

    from realtime_data_warehouse_spark.cache import unpersist_all  # noqa: PLC0415
    from realtime_data_warehouse_spark.plans.registry import QUERIES  # noqa: PLC0415
    from realtime_data_warehouse_spark.session import (  # noqa: PLC0415
        default_parallelism,
        get_spark,
        tune_for_scale,
    )
    from realtime_data_warehouse_spark.shipping import export_pythonpath  # noqa: PLC0415
    from realtime_data_warehouse_spark.sources.batch import DEFAULT_SF_DIR  # noqa: PLC0415

    missing = [n for n in args.names if n not in QUERIES]
    if missing:
        raise SystemExit(f"not in the registry: {missing}")
    export_pythonpath()  # Spark's Python workers import the same checkout
    sf_dir = args.sf_dir or DEFAULT_SF_DIR
    spark = get_spark("rdw-measure",
                      dict(kv.split("=", 1) for kv in args.conf))
    tune_for_scale(spark)
    _warm_up(spark, sf_dir, default_parallelism())
    sc, probe = spark.sparkContext, probes.JobProbe(spark)
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)

    def noop_write(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    out: dict[str, dict] = {}
    for name in args.names:
        fn, rec = QUERIES[name], {}
        if args.explain:
            plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as fh:
                fh.write(plan)
            unpersist_all()
        if args.phases:
            # DataFrame construction (Python and Py4J), analysis,
            # optimization and physical planning, then execution
            # (which includes AQE re-planning)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.schema  # noqa: B018  (forces analysis)
            t2 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t3 = time.perf_counter()
            noop_write(df)
            t4 = time.perf_counter()
            unpersist_all()
            rec["phases"] = {k: round(v, 3) for k, v in (
                ("build", t1 - t0), ("analyze", t2 - t1), ("plan", t3 - t2),
                ("exec", t4 - t3), ("total", t4 - t0))}
        times, groups = [], []
        for i in range(args.passes):
            groups.append(f"measure-{name}-{i}")
            sc.setJobGroup(groups[-1], f"measure/{name}")
            t0 = time.perf_counter()
            noop_write(fn(spark, sf_dir))
            times.append(round(time.perf_counter() - t0, 3))
            unpersist_all()
        # the job group stays set on this thread: move off the last
        # pass's group so the hash pass's jobs are not counted in it
        sc.setJobGroup("measure-hash", f"measure/{name}/hash")
        rec["hash"] = result_hash(fn(spark, sf_dir).toPandas())
        unpersist_all()
        probe.drain()
        stats = probe.stats(probe.jobs(groups[times.index(min(times))]))
        stats.pop("job_spans")
        rec.update(best=min(times), passes=times, stats=stats)
        out[name] = rec
        print(f"{rec['best']:8.3f}  {name}  jobs={stats['jobs']} "
              f"stages={stats['stages']} in={stats['input_records']:,} "
              f"sw_rows={stats['shuffle_write_records']:,}  {times}"
              + (f"  {rec['phases']}" if args.phases else ""), flush=True)
    spark.stop()
    return out


SIDES = ("base", "change")


def first_side(pair: int) -> str:
    """The side that runs first in pair `pair`: base on even pairs,
    the change on odd ones, so an order effect (page cache, drifting
    host load) falls on both sides alike."""
    return SIDES[pair % 2]


def quartile_spread(xs: list[float]) -> float:
    """Distance between the upper and lower quartile; 0 below two runs."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return round(q3 - q1, 3)


def summarize(runs: list[dict[str, dict]], names: list[str]) -> dict:
    """Per-query A/B verdict from `runs`, one {"base": out, "change":
    out} record per pair, where `out` is a single-checkout result."""
    summary = {}
    for name in names:
        best = {s: [r[s][name]["best"] for r in runs] for s in SIDES}
        wins = sum(c < b for b, c in zip(best["base"], best["change"]))
        hashes = {r[s][name]["hash"] for r in runs for s in SIDES}
        summary[name] = {
            "base_median": round(statistics.median(best["base"]), 3),
            "change_median": round(statistics.median(best["change"]), 3),
            "base_quartile_spread": quartile_spread(best["base"]),
            "change_win_frac": round(wins / len(runs), 3),
            "hashes_identical": len(hashes) == 1,
            "base_best": best["base"],
            "change_best": best["change"],
            "hash": sorted(hashes),
            "base_stats": runs[0]["base"][name]["stats"],
            "change_stats": runs[0]["change"][name]["stats"],
        }
    return summary


def exit_code(summary: dict) -> int:
    return 0 if all(q["hashes_identical"] for q in summary.values()) else 1


def _worker_argv(args: argparse.Namespace, root: str, side: str) -> list[str]:
    argv = [sys.executable, os.path.abspath(__file__), *args.names,
            "--root", root, "--passes", str(args.passes)]
    if args.sf_dir:
        argv += ["--sf-dir", args.sf_dir]
    if args.phases:
        argv.append("--phases")
    if args.explain:
        argv += ["--explain", os.path.join(args.explain, side)]
    for kv in args.conf:
        argv += ["--conf", kv]
    return argv


def run_side(args: argparse.Namespace, side: str) -> dict:
    """One single-checkout run in a fresh process, started in an empty
    working directory: Spark's Python workers put theirs first on
    sys.path, ahead of the checkout the run exports, so starting in
    either checkout would let its engine shadow the other's."""
    root = os.path.abspath(args.base if side == "base" else args.root)
    with tempfile.TemporaryDirectory(prefix=f"rdw_measure_{side}_") as cwd:
        proc = subprocess.run(_worker_argv(args, root, side), cwd=cwd,
                              stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{side} run at {root} failed "
                         f"(exit {proc.returncode})")
    return json.loads(lines[-1])


def ab(args: argparse.Namespace) -> tuple[dict, int]:
    runs, order = [], []
    for pair in range(args.pairs):
        first = first_side(pair)
        order.append(first)
        rec = {side: run_side(args, side)
               for side in (SIDES if first == SIDES[0] else SIDES[::-1])}
        runs.append(rec)
        print(f"pair {pair + 1}/{args.pairs} ({first} first): " + "  ".join(
            f"{n} base={rec['base'][n]['best']:.3f} "
            f"change={rec['change'][n]['best']:.3f}" for n in args.names),
            flush=True)
    summary = summarize(runs, args.names)
    for name, q in summary.items():
        print(f"{name}: base median {q['base_median']:.3f} s "
              f"(quartile spread {q['base_quartile_spread']:.3f}), change "
              f"median {q['change_median']:.3f} s, change won "
              f"{q['change_win_frac']:.0%} of {args.pairs} pairs, hashes "
              f"{'identical' if q['hashes_identical'] else 'DIFFER'}",
              flush=True)
    result = {"base": os.path.abspath(args.base),
              "change": os.path.abspath(args.root), "pairs": args.pairs,
              "first": order, "queries": summary}
    return result, exit_code(summary)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if args.base:
        result, code = ab(args)
    else:
        result, code = measure(args), 0
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    raise SystemExit(main())
