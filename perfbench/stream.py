"""stream_ingest: an open loop into one continuous query.

A generator thread moves pre-written event slices into a watched
directory on a fixed schedule (atomic rename, so a slice is never read
half-written). The query runs `streaming.stateful.
daily_first_event_stream` into a `streaming.sinks.additive_merge_batch`
sink that folds per-day unique/new user counts into a stored DWS
table. A light fixed-rate step measures latency from each slice's due
time to the commit of the micro-batch that held it; an overload step
delivers far more than the query can take and measures the events it
commits per second.

The light rate, 380 events/s, is a third of the ten-run median capacity
the overload step measured on two cores of a contended 4-vCPU host
(1,134 events/s), so the light step stays below saturation on a slow
host too."""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import probes
import stats

LIGHT_EVENTS = 38                # per slice
LIGHT_SLICES_PER_S = 10          # 380 events/s; the file cap is reached
                                 # only by batches slower than 4 s
WARMUP_S = 8.0                   # light-rate slices delivered during set-up,
                                 # after a first slice has gone through alone;
                                 # the light step then lasts --seconds
OVER_EVENTS = 100                # per slice
OVERLOAD_SLICES = 120            # 12,000 events delivered at ...
OVERLOAD_SLICES_PER_S = 500      # ... 50,000 events/s
MAX_FILES_PER_TRIGGER = 40       # an overload batch: 4,000 events
N_USERS = 20_000
DAYS = 30
DRAIN_TIMEOUT_S = 120.0
_BASE_TS = 1_704_067_200         # 2024-01-01 UTC


def make_events(seed: int, n: int) -> pa.Table:
    """(uid, ts_s) events: Zipf(1) users, days advancing with the event
    index so per-user first days follow arrival order."""
    rng = np.random.default_rng(seed)
    uid = np.minimum(N_USERS - 1,
                     np.floor((N_USERS + 1.0) ** rng.random(n)).astype(np.int64) - 1)
    day = np.arange(n, dtype=np.int64) * DAYS // n
    ts = _BASE_TS + day * 86_400 + rng.integers(0, 86_400, n)
    return pa.table({"uid": pa.array(uid.astype(str)), "ts_s": ts})


def schedule(seconds: int) -> tuple[list[float], list[int], int, int]:
    """Due offsets (s from the schedule start) and event counts of every
    slice, with the index of the first light and first overload slice."""
    warm = 1 + int(WARMUP_S * LIGHT_SLICES_PER_S)
    light = seconds * LIGHT_SLICES_PER_S
    due = [0.0] + [i / LIGHT_SLICES_PER_S for i in range(warm + light - 1)]
    t_over = (warm + light) / LIGHT_SLICES_PER_S
    due += [t_over + i / OVERLOAD_SLICES_PER_S for i in range(OVERLOAD_SLICES)]
    sizes = [LIGHT_EVENTS] * (warm + light) + [OVER_EVENTS] * OVERLOAD_SLICES
    return due, sizes, warm, warm + light


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


ORACLE_SQL = """
WITH e AS (SELECT uid, ts_s // 86400 AS d FROM events),
     f AS (SELECT uid, min(d) AS fd FROM e GROUP BY uid)
SELECT CAST(DATE '1970-01-01' + CAST(d AS INTEGER) AS VARCHAR) AS dt,
       count(DISTINCT uid) AS uu_ct,
       count(DISTINCT CASE WHEN f.fd = e.d THEN uid END) AS new_ct
FROM e JOIN f USING (uid)
GROUP BY d
"""


def run(ctx) -> dict:
    import duckdb
    from pyspark.sql import functions as F

    from realtime_data_warehouse_spark.oracle import compare
    from realtime_data_warehouse_spark.session import auto_state_store
    from realtime_data_warehouse_spark.streaming.runner import read_back
    from realtime_data_warehouse_spark.streaming.sinks import additive_merge_batch
    from realtime_data_warehouse_spark.streaming.stateful import (
        daily_first_event_stream,
    )

    spark, tracer, layer = ctx.spark, ctx.tracer, ctx.layer
    stage, watch = os.path.join(ctx.work, "stage"), os.path.join(ctx.work, "in")
    table_dir, ck = os.path.join(ctx.work, "dws"), os.path.join(ctx.work, "ck")
    os.makedirs(stage)
    os.makedirs(watch)

    # stage every slice up front so delivery is a rename; mtimes are
    # spaced 1 ms apart in slice order, the order the file source reads
    t = time.perf_counter()
    due_off, sizes, i_light, i_over = schedule(ctx.seconds)
    n_slices = len(due_off)
    total_rows = sum(sizes)
    events = make_events(ctx.seed, total_rows)
    base_ns = time.time_ns() - 600 * 10**9
    paths, offset = [], 0
    for i, size in enumerate(sizes):
        src = os.path.join(stage, f"slice-{i:06d}.parquet")
        pq.write_table(events.slice(offset, size), src)
        offset += size
        os.utime(src, ns=(base_ns + i * 10**6,) * 2)
        paths.append((src, os.path.join(watch, f"slice-{i:06d}.parquet")))
    layer["sources.stage_ms"] = (time.perf_counter() - t) * 1000.0

    rocksdb = auto_state_store(spark, N_USERS)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    t = time.perf_counter()
    sdf = (spark.readStream.schema("uid string, ts_s long")
           .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
           .parquet(watch))
    firsts = daily_first_event_stream(sdf, "uid", "ts_s")
    layer["plans.build_ms"] = (time.perf_counter() - t) * 1000.0

    merge = additive_merge_batch(
        table_dir, keys=["dt"], sum_cols=["uu_ct", "new_ct"],
        prepare=lambda b: b.groupBy("dt").agg(
            F.count(F.lit(1)).alias("uu_ct"),
            F.sum("is_first_ever").cast("long").alias("new_ct")))
    merge_ms: dict[int, tuple[float, float]] = {}

    def sink(batch, batch_id: int) -> None:
        a = tracer.now()
        merge(batch, batch_id)
        merge_ms[batch_id] = (a, tracer.now())

    q = (firsts.writeStream.foreachBatch(sink).outputMode("append")
         .option("checkpointLocation", ck)
         .trigger(processingTime="0 seconds").start())

    # the first slice goes through alone and pays the cold start; the
    # schedule of the rest starts once it is committed
    actual = [0.0] * n_slices
    os.rename(*paths[0])
    actual[0] = time.time()
    deadline = actual[0] + DRAIN_TIMEOUT_S
    while not q.recentProgress or not any(
            json.loads(p.json)["numInputRows"] for p in q.recentProgress):
        if q.exception() is not None or time.time() > deadline:
            raise RuntimeError(f"first batch did not commit: {q.exception()}")
        time.sleep(0.05)
    t_sched = time.time() + 0.2
    due = [actual[0]] + [t_sched + d for d in due_off[1:]]

    def deliver() -> None:
        for i, (src, dst) in enumerate(paths[1:], start=1):
            delay = due[i] - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(src, dst)
            actual[i] = time.time()

    gen = threading.Thread(target=deliver, daemon=True)
    gen.start()
    ctx.mark_setup_done(at=due[i_light])
    while time.time() < due[i_light]:
        time.sleep(0.01)
    gc0, jit0 = probes.jvm_gc_jit_ms(spark)

    gen.join(timeout=DRAIN_TIMEOUT_S + ctx.seconds)
    deadline = time.time() + DRAIN_TIMEOUT_S
    committed = 0
    while time.time() < deadline and q.exception() is None:
        time.sleep(0.25)
        committed = sum(json.loads(p.json)["numInputRows"] for p in q.recentProgress)
        if committed >= total_rows:
            break
    gc1, jit1 = probes.jvm_gc_jit_ms(spark)
    progress = [json.loads(p.json) for p in q.recentProgress]
    run_id = str(q.runId)
    q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    if committed < total_rows:
        raise TimeoutError(f"stream committed {committed} of {total_rows} rows "
                           f"within {DRAIN_TIMEOUT_S:.0f} s of the last delivery")

    batches = [p for p in progress if p["numInputRows"] > 0]
    starts = [_epoch(p["timestamp"]) for p in batches]
    ends = [s + p["durationMs"]["triggerExecution"] / 1000.0
            for s, p in zip(starts, batches)]
    slice_batch = stats.slices_to_batches(sizes, [p["numInputRows"] for p in batches])
    lat = [(ends[slice_batch[i]] - due[i]) * 1000.0 for i in range(i_light, i_over)]

    # capacity from the overload batches that were full, i.e. held
    # nothing but overload slices up to the file cap
    full = MAX_FILES_PER_TRIGGER * OVER_EVENTS
    over = [k for k, s in enumerate(starts)
            if s >= due[i_over] and batches[k]["numInputRows"] == full]
    if not over:
        raise RuntimeError("no full micro-batch in the overload step")
    capacity = full * len(over) / sum(ends[k] - starts[k] for k in over)

    # backlog at each commit: slices delivered by then minus committed
    cum_files = [sum(k <= b for k in slice_batch) for b in range(len(batches))]
    backlog = [sum(a <= e for a in actual) - c for e, c in zip(ends, cum_files)]
    light_k = [k for k, e in enumerate(ends) if due[i_light] <= e < due[i_over]]
    light_growing = stats.backlog_grows(
        [ends[k] for k in light_k], [backlog[k] for k in light_k],
        tolerance=LIGHT_SLICES_PER_S)

    measured = [k for k, e in enumerate(ends) if e >= due[i_light]]

    def med(path):
        vals = []
        for k in measured:
            v = batches[k]
            for key in path:
                v = v.get(key, 0) if isinstance(v, dict) else 0
            vals.append(float(v or 0))
        return statistics.median(vals)

    state = [batches[k].get("stateOperators") or [{}] for k in measured]
    layer.update({
        "streaming.batch_ms": med(("durationMs", "triggerExecution")),
        "streaming.add_batch_ms": med(("durationMs", "addBatch")),
        "streaming.query_planning_ms": med(("durationMs", "queryPlanning")),
        "streaming.wal_commit_ms": med(("durationMs", "walCommit")),
        "streaming.state_commit_ms": statistics.median(
            sum(o.get("commitTimeMs", 0) for o in s) for s in state),
        "streaming.state_rows": sum(o.get("numRowsTotal", 0) for o in state[-1]),
        "streaming.state_mem_bytes": sum(o.get("memoryUsedBytes", 0) for o in state[-1]),
        "streaming.rows_per_batch": med(("numInputRows",)),
        "sinks.merge_ms": statistics.median(
            merge_ms[batches[k]["batchId"]][1] - merge_ms[batches[k]["batchId"]][0]
            for k in measured),
        "session.gc_ms": gc1 - gc0,
        "session.jit_ms": jit1 - jit0,
    })

    if tracer.enabled:
        # a micro-batch's jobs carry "batch = N" in their description
        probe = probes.JobProbe(spark)
        probe.drain()
        batch_jobs: dict[int, list[int]] = {}
        for jid in probe.jobs(run_id):
            m = re.search(r"batch = (\d+)", probe.description(jid))
            if m:
                batch_jobs.setdefault(int(m.group(1)), []).append(jid)
        per_batch = []
        for k in measured:
            b = batches[k]
            js = probe.stats(batch_jobs.get(b["batchId"], []))
            wall = b["durationMs"]["triggerExecution"]
            js["driver_gap_ms"] = wall - stats.union_ms(js["job_spans"])
            js["busy_frac"] = js["task_ms"] / max(1e-9, wall * ctx.cpus)
            per_batch.append(js)
        for key in ("jobs", "stages", "tasks", "input_records",
                    "shuffle_write_bytes", "shuffle_write_records",
                    "spill_bytes", "task_ms", "driver_gap_ms", "busy_frac"):
            layer[f"operators.{key}"] = statistics.median(
                js[key] for js in per_batch)
        t_run = ctx.t0_epoch
        for p, s, e in zip(batches, starts, ends):
            op_id = f"batch-{p['batchId']}"
            root = tracer.add("batch", op_id, (s - t_run) * 1000.0,
                              (e - t_run) * 1000.0, rows=p["numInputRows"])
            m = merge_ms.get(p["batchId"])
            if m:
                tracer.add("merge_batch", op_id, m[0], m[1], root)

    # the stored DWS table against DuckDB over every generated event
    errors = []
    con = duckdb.connect()
    try:
        con.register("events", events)
        ok, msg = compare(read_back(spark, table_dir).select("dt", "uu_ct", "new_ct"),
                          con.execute(ORACLE_SQL).fetchdf())
    finally:
        con.close()
    if not ok:
        errors.append({"phase": "oracle", "error": msg})

    late = stats.lateness(due, actual)
    return {
        # the table check is the one op that can fail
        "attempted": 1,
        "errors": errors,
        "metrics": {
            "latency_ms.p50": stats.percentile(lat, 50),
            "latency_ms.p75": stats.percentile(lat, 75),
            "throughput_per_s": capacity,
        },
        "diag": {
            "state_store": "rocksdb" if rocksdb else "in-memory",
            "slices": n_slices,
            "events": total_rows,
            "batches": len(batches),
            "overload_batches": len(over),
            "batch_timeline": [(p["batchId"], p["numInputRows"], round(s - due[0], 3),
                                p["durationMs"]["triggerExecution"])
                               for p, s in zip(batches, starts)],
            "latency_summary": stats.summarize(lat),
            "gen.late_ms.max": late["max_ms"],
            "gen.late": late,
            "streaming.backlog_files.max": max(backlog),
            "light_backlog_growing": light_growing,
        },
    }
