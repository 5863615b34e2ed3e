"""dashboard_small: a closed loop with one client over the headline
queries on small, maintained DWS tables.

Each op calls `plans.registry.QUERIES[name]`, runs the result into the
noop sink and calls `cache.unpersist_all()` - the library call path,
without the driver-contract wrappers, whose per-query `System.gc()` is
harness hygiene rather than serving cost."""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback

import datagen
import probes
import stats

#: bench.py's HEADLINE list (one query per operator family), frozen
#: here so that editing bench.py cannot silently change what is
#: measured, less its four heaviest: dim_config_routing,
#: decontaminate_train, curation_pipeline and dedup_minhash_lsh took
#: 0.75-1.25 s each against a 0.4 s median on two cores. Their kernels
#: do real work even at this size, and they cost 40% of a cycle's time
#: in a workload whose point is per-query fixed cost.
HEADLINE = [
    "pricing_summary", "dws_traffic_page_view_window", "dws_keyword_count",
    "dwd_trade_order_detail", "dwd_trade_pay_suc_interval",
    "dws_sku_order_window", "dws_province_order_window",
    "a6_latest_per_key_sum", "dwd_log_split", "topk_parts_per_brand",
    "text_stats", "ann_brute_topk", "range_join_promo_windows",
    "time_bucket_rollup_events", "percentile_revenue",
    "quality_repetition", "label_centroids",
]

SF = 0.001
#: measured cycles per run: one per SECONDS_PER_CYCLE of --seconds, at
#: least MIN_CYCLES. The count depends on --seconds only, so a slow
#: host stretches a run instead of changing how much it measures. Each
#: cycle yields its own p50, p75 and ops/s and the run reports their
#: medians, so one cycle slowed by a burst of host contention (they
#: last about 10 s on a shared VM) does not move the result.
SECONDS_PER_CYCLE = 3
MIN_CYCLES = 3
#: untimed cycles after the cold check. A query's second and third
#: executions are still 10-30% slower than later ones while the JIT
#: catches up (cycle time fell from 8.7 to 6.7 to 6.0 s over the first
#: three cycles after the check on a shared 4-vCPU VM).
WARM_CYCLES = 2


def _stage(work: str, seed: int) -> tuple[str, str, dict]:
    """Generate the served tables (one file each, which DuckDB reads)
    and hard-link them into the warehouse layout the engine keeps
    (one directory per table)."""
    served = os.path.join(work, "served")
    wh = os.path.join(work, "warehouse")
    rows = datagen.write_served(served, seed, SF)
    for name in rows:
        d = os.path.join(wh, f"{name}.parquet")
        os.makedirs(d)
        os.link(os.path.join(served, f"{name}.parquet"),
                os.path.join(d, "part-00000.parquet"))
    return served, wh, rows


def _check(spark, served: str, wh: str, errors: list) -> int:
    """Each query once against its DuckDB oracle over the served files;
    returns the number checked. This is also the cold first execution."""
    from realtime_data_warehouse_spark.cache import unpersist_all
    from realtime_data_warehouse_spark.oracle import compare, duckdb_connection
    from realtime_data_warehouse_spark.plans.registry import ORACLE_SQL, QUERIES

    con = duckdb_connection(served)
    try:
        for name in HEADLINE:
            try:
                ok, msg = compare(QUERIES[name](spark, wh),
                                  con.execute(ORACLE_SQL[name]).fetchdf())
            except Exception:  # noqa: BLE001  (an op that raised counts as failed)
                ok, msg = False, traceback.format_exc(limit=3)
            finally:
                unpersist_all()
            if not ok:
                errors.append({"query": name, "phase": "check", "error": msg})
    finally:
        con.close()
    return len(HEADLINE)


def run(ctx) -> dict:
    from realtime_data_warehouse_spark.cache import unpersist_all
    from realtime_data_warehouse_spark.operators.maintenance import maintain_table
    from realtime_data_warehouse_spark.plans.registry import QUERIES

    spark, tracer, layer = ctx.spark, ctx.tracer, ctx.layer
    errors: list = []

    t = time.perf_counter()
    served, wh, rows = _stage(ctx.work, ctx.seed)
    layer["sources.stage_ms"] = (time.perf_counter() - t) * 1000.0

    t = time.perf_counter()
    files = sum(maintain_table(spark, os.path.join(wh, f"{n}.parquet"))
                for n in rows)
    layer["maintenance.compact_ms"] = (time.perf_counter() - t) * 1000.0
    layer["maintenance.files_written"] = files

    checked = _check(spark, served, wh, errors)
    # queries that failed the check already count as failed
    failed_check = {e["query"] for e in errors}
    for _ in range(WARM_CYCLES):
        for name in [n for n in HEADLINE if n not in failed_check]:
            try:
                QUERIES[name](spark, wh).write.format("noop").mode("overwrite").save()
            finally:
                unpersist_all()

    probe = probes.JobProbe(spark) if tracer.enabled else None
    rng = random.Random(ctx.seed)
    lat: dict[str, list[float]] = {n: [] for n in HEADLINE}
    per_op: dict[str, list[float]] = {}
    cycle_gc, cycle_jit, cycle_s = [], [], []
    cycle_p50, cycle_p75, cycle_tput = [], [], []
    attempted = 0

    def op(name: str, cycle: int) -> float | None:
        """Runs one op; returns its latency (ms), or None if it raised."""
        nonlocal attempted
        attempted += 1
        op_id = f"c{cycle}-{name}"
        if probe:
            spark.sparkContext.setJobGroup(op_id + "-build", name)
        t0 = tracer.now()
        a = time.perf_counter()
        try:
            df = QUERIES[name](spark, wh)
            b = time.perf_counter()
            if probe:
                spark.sparkContext.setJobGroup(op_id, name)
            df.write.format("noop").mode("overwrite").save()
            c = time.perf_counter()
            unpersist_all()
        except Exception:  # noqa: BLE001  (an op that raised counts as failed)
            errors.append({"query": name, "phase": "serve",
                           "error": traceback.format_exc(limit=3)})
            unpersist_all()
            return None
        d = time.perf_counter()
        lat[name].append((d - a) * 1000.0)
        if not probe:
            return lat[name][-1]
        probe.drain()
        build = probe.stats(probe.jobs(op_id + "-build"))
        sink = probe.stats(probe.jobs(op_id))
        tb, tc, td = (t0 + (x - a) * 1000.0 for x in (b, c, d))
        root = tracer.add("op", op_id, t0, td, query=name)
        tracer.add("build", op_id, t0, tb, root, jobs=build["jobs"])
        tracer.add("sink", op_id, tb, tc, root, jobs=sink["jobs"],
                   stages=sink["stages"], tasks=sink["tasks"])
        tracer.add("unpersist", op_id, tc, td, root)
        sink_ms = (c - b) * 1000.0
        rec = {
            "plans.build_ms": (b - a) * 1000.0,
            "plans.build_jobs": build["jobs"],
            "operators.driver_gap_ms": sink_ms - stats.union_ms(sink["job_spans"]),
            "cache.unpersist_ms": (d - c) * 1000.0,
            "trace.overhead_ms": (time.perf_counter() - d) * 1000.0,
        }
        for k in ("jobs", "stages", "tasks", "input_records",
                  "shuffle_write_bytes", "shuffle_write_records",
                  "spill_bytes", "task_ms"):
            rec[f"operators.{k}"] = sink[k]
        rec["operators.busy_frac"] = sink["task_ms"] / max(1e-9, sink_ms * ctx.cpus)
        for k, v in rec.items():
            per_op.setdefault(k, []).append(v)
        return lat[name][-1]

    n_cycles = max(MIN_CYCLES, ctx.seconds // SECONDS_PER_CYCLE)
    ctx.mark_setup_done()
    start = time.perf_counter()
    # whole cycles, so every query weighs the same in each cycle's
    # percentiles
    for cycle in range(n_cycles):
        gc0, jit0 = probes.jvm_gc_jit_ms(spark)
        c0 = time.perf_counter()
        order = HEADLINE[:]
        rng.shuffle(order)
        done = [x for x in (op(name, cycle) for name in order) if x is not None]
        cycle_s.append(time.perf_counter() - c0)
        gc1, jit1 = probes.jvm_gc_jit_ms(spark)
        cycle_gc.append(gc1 - gc0)
        cycle_jit.append(jit1 - jit0)
        if done:
            cycle_p50.append(stats.percentile(done, 50))
            cycle_p75.append(stats.percentile(done, 75))
            cycle_tput.append(len(done) / cycle_s[-1])
    measured_s = time.perf_counter() - start

    all_lat = [x for v in lat.values() for x in v]
    summary = stats.summarize(all_lat)
    layer["session.gc_ms"] = statistics.mean(cycle_gc)
    layer["session.jit_ms"] = statistics.mean(cycle_jit)
    for k, v in per_op.items():
        layer[k] = statistics.median(v)
    return {
        "attempted": checked + attempted,
        "errors": errors,
        "metrics": {
            "latency_ms.p50": statistics.median(cycle_p50),
            "latency_ms.p75": statistics.median(cycle_p75),
            "throughput_per_s": statistics.median(cycle_tput),
        },
        "diag": {
            "rows": rows,
            "measured_s": measured_s,
            "cycles": n_cycles,
            "cycle_s": cycle_s,
            "cycle_p50_ms": cycle_p50,
            "cycle_p75_ms": cycle_p75,
            "latency_summary": summary,
            "session.jit_ms_per_cycle": cycle_jit,
            "session.gc_ms_per_cycle": cycle_gc,
            "query_spread": {n: (max(v) / min(v) if v else None)
                             for n, v in lat.items()},
            "query_p50_ms": {n: (statistics.median(v) if v else None)
                             for n, v in lat.items()},
        },
    }
