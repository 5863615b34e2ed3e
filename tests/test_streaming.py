"""Streaming parity tests (SURVEY §5 layer 3): every streaming twin
replayed with availableNow must reproduce its batch form.

Multi-batch replays (maxFilesPerTrigger=1 over range-staged files)
prove state survives micro-batch boundaries — the part a single-batch
run would never exercise.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from realtime_data_warehouse_spark.operators.state import (
    daily_first_event,
    first_visit_repair,
    latest_per_key,
)
from realtime_data_warehouse_spark.sources.batch import load_table
from realtime_data_warehouse_spark.streaming.runner import (
    read_back,
    run_available_now,
    staged_files_dir,
)
from realtime_data_warehouse_spark.streaming.stateful import (
    daily_first_event_stream,
    delta_correct,
    is_new_repair_stream,
)
from realtime_data_warehouse_spark.streaming.windows import (
    EVENTS_RAW,
    stream_events,
    streaming_page_view_window,
)

pytestmark = pytest.mark.slow

@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_small, tmp_path_factory) -> str:
    """Stage sf0.001 events + one far-future sentinel row so the
    watermark passes every real window and availableNow's no-data
    batch flushes them (append mode only emits closed windows)."""
    from datetime import timedelta

    base = str(tmp_path_factory.mktemp("events_stream"))
    raw = spark.read.schema(EVENTS_RAW).parquet(os.path.join(sf_small, "events.parquet"))
    max_ts = raw.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts + timedelta(days=30), 10**9, "sentinel", 0.0, "{}")],
        EVENTS_RAW,
    )
    in_dir = os.path.join(base, "in")
    raw.coalesce(1).write.mode("overwrite").parquet(in_dir)
    sentinel.coalesce(1).write.mode("append").parquet(in_dir)
    return in_dir


def test_streaming_window_parity(spark, sf_small, events_stream_dir, tmp_path):
    in_dir = events_stream_dir
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    run_available_now(
        streaming_page_view_window(spark, in_dir, watermark="1 hour"), out, ck
    )
    got = read_back(spark, out).filter(F.col("event_type") != "sentinel")

    # Batch twin with the same expression tree (uv approximate in both:
    # exact distinct is unsupported in streaming aggs; HLL merge is
    # order-insensitive so both sides produce identical sketches).
    events = load_table(spark, sf_small, "events")
    from realtime_data_warehouse_spark.operators.agg import tumble
    want = tumble(
        events, "ts", "1 hour", keys=["event_type"],
        aggs={
            "pv": F.count(F.lit(1)),
            "uv": F.approx_count_distinct("user_id"),
            "value_sum": F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
        },
    ).select("stt", "edt", "cur_date", "event_type", "pv", "uv", "value_sum")

    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_delta_correct_converges_to_latest(spark, tmp_path):
    """A6 property: summed deltas == latest value per key, across
    micro-batch boundaries and with a stale replay in a later batch."""
    rows = []
    for v in range(1, 6):
        rows.append(("a", v, 10.0 * v, 2.0 * v))
    rows += [("b", 1, 7.0, 1.0), ("b", 3, 9.0, 4.0)]
    rows.append(("b", 2, 100.0, 100.0))  # stale: older ts arriving last
    df = spark.createDataFrame(rows, "id string, ts long, amt double, fee double")
    in_dir = staged_files_dir(df, str(tmp_path), n_files=3, order_col="ts")

    sdf = (
        spark.readStream.schema("id string, ts long, amt double, fee double")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    out = str(tmp_path / "out")
    run_available_now(
        delta_correct(sdf, "id", "ts", ["amt", "fee"]), out, str(tmp_path / "ck")
    )
    got = (
        read_back(spark, out).groupBy("id")
        .agg(F.sum("amt").alias("amt"), F.sum("fee").alias("fee"))
    )
    want = latest_per_key(df, ["id"], "ts").select("id", "amt", "fee")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_daily_first_event_stream_parity(spark, sf_small, tmp_path):
    """A7 twin == batch daily_first_event on (user, day) pairs, and the
    is_first_ever flag matches the batch first-day computation."""
    events = (
        load_table(spark, sf_small, "events")
        .select(
            F.col("user_id").cast("string").alias("uid"),
            F.unix_timestamp("ts").alias("ts_s"),
            "ts",
        )
    )
    staged = events.select("uid", "ts_s")
    in_dir = staged_files_dir(staged, str(tmp_path), n_files=3, order_col="ts_s")
    sdf = (
        spark.readStream.schema("uid string, ts_s long")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    out = str(tmp_path / "out")
    run_available_now(
        daily_first_event_stream(sdf, "uid", "ts_s"), out, str(tmp_path / "ck")
    )
    got = read_back(spark, out)

    want = daily_first_event(events, "uid", "ts").select(
        "uid", F.date_format("dt", "yyyy-MM-dd").alias("dt")
    )
    assert got.count() == want.count()
    assert got.select("uid", "dt").exceptAll(want).count() == 0
    # exactly one is_first_ever per user; this replay is time-ordered,
    # so first-OBSERVED (the operator's contract) == min date here
    firsts = got.filter("is_first_ever = 1")
    assert firsts.count() == events.select("uid").distinct().count()
    min_dt = got.groupBy("uid").agg(F.min("dt").alias("dt"))
    assert firsts.select("uid", "dt").exceptAll(min_dt).count() == 0


def test_is_new_repair_stream_parity(spark, sf_small, tmp_path):
    """A8 twin: per-row is_new_fixed equals the batch window-function
    repair (everyone claims is_new=1; later-day rows downgrade)."""
    events = (
        load_table(spark, sf_small, "events")
        .select(
            F.col("user_id").cast("string").alias("uid"),
            F.unix_timestamp("ts").alias("ts_s"),
            F.lit("1").alias("is_new"),
            "ts", "event_id",
        )
    )
    in_dir = staged_files_dir(
        events.select("uid", "ts_s", "is_new"), str(tmp_path), 3, order_col="ts_s"
    )
    sdf = (
        spark.readStream.schema("uid string, ts_s long, is_new string")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    out = str(tmp_path / "out")
    run_available_now(
        is_new_repair_stream(sdf, "uid", "ts_s"), out, str(tmp_path / "ck")
    )
    got = read_back(spark, out)

    want = first_visit_repair(events, "uid", "ts")
    assert got.count() == events.count()
    got_agg = got.groupBy("uid").agg(
        F.sum("is_new_fixed").alias("n_new"), F.min("first_dt").alias("first_dt")
    )
    want_agg = want.groupBy("uid").agg(
        F.sum("is_new_fixed").alias("n_new"),
        F.date_format(F.min("first_dt"), "yyyy-MM-dd").alias("first_dt"),
    )
    assert got_agg.exceptAll(want_agg).count() == 0
    assert want_agg.exceptAll(got_agg).count() == 0


@pytest.mark.slow
def test_stateful_twins_hold_at_sf01(spark, sf_large, tmp_path):
    """State-size regression guard at bench scale (sf0.1): the A7/A8
    stateful twins replay the full events table as three micro-batches
    and must still converge to the batch answer — and the A7 state
    must stay ≈ one row per distinct (user, observed-date-set), i.e.
    emitted (uid, dt) pairs equal the batch distinct pairs exactly
    (no state blowup double-emitting, no dropped users)."""
    events = (
        load_table(spark, sf_large, "events")
        .select(
            F.col("user_id").cast("string").alias("uid"),
            F.unix_timestamp("ts").alias("ts_s"),
            F.lit("1").alias("is_new"),
            "ts",
        )
    )
    in_dir = staged_files_dir(
        events.select("uid", "ts_s", "is_new"), str(tmp_path), 3,
        order_col="ts_s",
    )

    # A7 — daily-UV dedup
    sdf = (
        spark.readStream.schema("uid string, ts_s long, is_new string")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    out7 = str(tmp_path / "out7")
    run_available_now(
        daily_first_event_stream(sdf, "uid", "ts_s"), out7,
        str(tmp_path / "ck7"),
    )
    got7 = read_back(spark, out7)
    want7 = daily_first_event(events, "uid", "ts").select(
        "uid", F.date_format("dt", "yyyy-MM-dd").alias("dt")
    )
    assert got7.count() == want7.count()
    assert got7.select("uid", "dt").exceptAll(want7).count() == 0
    assert (got7.filter("is_first_ever = 1").count()
            == events.select("uid").distinct().count())

    # A8 — is_new repair over the same staged replay
    sdf8 = (
        spark.readStream.schema("uid string, ts_s long, is_new string")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    out8 = str(tmp_path / "out8")
    run_available_now(
        is_new_repair_stream(sdf8, "uid", "ts_s"), out8,
        str(tmp_path / "ck8"),
    )
    got8 = read_back(spark, out8)
    want8 = first_visit_repair(events, "uid", "ts")
    assert got8.count() == events.count()
    got_agg = got8.groupBy("uid").agg(F.sum("is_new_fixed").alias("n_new"))
    want_agg = want8.groupBy("uid").agg(F.sum("is_new_fixed").alias("n_new"))
    assert got_agg.exceptAll(want_agg).count() == 0
    assert want_agg.exceptAll(got_agg).count() == 0


def test_stream_stream_interval_join_parity(spark, sf_small, tmp_path):
    """J2 twin: watermarked stream-stream interval join (inner) drains
    to exactly the batch join result — lineitem ships within 30 days
    of its order's date."""
    from realtime_data_warehouse_spark.streaming.joins import interval_join

    orders_b = (
        load_table(spark, sf_small, "orders")
        .select("o_orderkey", F.col("o_orderdate").cast("timestamp").alias("o_ts"))
    )
    li_b = (
        load_table(spark, sf_small, "lineitem")
        .select("l_orderkey", F.col("l_shipdate").cast("timestamp").alias("l_ts"))
    )
    o_dir = staged_files_dir(orders_b, str(tmp_path / "o"), 2, order_col="o_ts")
    l_dir = staged_files_dir(li_b, str(tmp_path / "l"), 2, order_col="l_ts")

    orders_s = (
        spark.readStream.schema("o_orderkey long, o_ts timestamp").parquet(o_dir)
        .withWatermark("o_ts", "1 day")
    )
    li_s = (
        spark.readStream.schema("l_orderkey long, l_ts timestamp").parquet(l_dir)
        .withWatermark("l_ts", "1 day")
    )
    joined = interval_join(
        li_s, orders_s,
        F.col("l_orderkey") == F.col("o_orderkey"),
        "l_ts", "o_ts", lower="30 days", upper="0 seconds",
    ).select("l_orderkey", "l_ts", "o_ts")

    out = str(tmp_path / "out")
    run_available_now(joined, out, str(tmp_path / "ck"))
    got = read_back(spark, out)

    want = li_b.join(
        orders_b,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("o_ts") >= F.expr("l_ts - interval 30 days"))
        & (F.col("o_ts") <= F.col("l_ts")),
    ).select("l_orderkey", "l_ts", "o_ts")

    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_upsert_sink_latest_per_key(spark, tmp_path):
    """K5 twin: the upsert foreachBatch sink leaves exactly the
    latest-ts row per key across micro-batches."""
    from realtime_data_warehouse_spark.streaming.runner import run_foreach_batch
    from realtime_data_warehouse_spark.streaming.sinks import upsert_batch

    rows = [("a", 1, "v1"), ("a", 2, "v2"), ("b", 1, "w1"),
            ("a", 3, "v3"), ("b", 2, "w2"), ("c", 1, "x1")]
    df = spark.createDataFrame(rows, "id string, ts long, val string")
    in_dir = staged_files_dir(df, str(tmp_path), 3, order_col="ts")
    sdf = (
        spark.readStream.schema("id string, ts long, val string")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    table_dir = str(tmp_path / "table")
    run_foreach_batch(
        sdf, upsert_batch(table_dir, ["id"], "ts"),
        str(tmp_path / "ck"), output_mode="append",
    )
    got = {(r.id, r.ts, r.val) for r in spark.read.parquet(table_dir).collect()}
    assert got == {("a", 3, "v3"), ("b", 2, "w2"), ("c", 1, "x1")}


def test_dim_upsert_delete_then_reinsert_in_one_batch(spark, tmp_path):
    """K6 stream-order regression: within one micro-batch, a delete
    followed by a later re-insert of the same rowkey must KEEP the
    re-inserted row (Put/Delete resolve in ts order like the
    reference's HBase sink, not deletes-last)."""
    from realtime_data_warehouse_spark.streaming.sinks import dim_upsert_batch

    rows = [
        ("k1", 1, "insert", "old"),
        ("k1", 2, "delete", None),
        ("k1", 3, "insert", "new"),   # re-insert after the delete
        ("k2", 1, "insert", "keep"),
        ("k3", 1, "insert", "gone"),
        ("k3", 2, "delete", None),    # delete is the final op -> gone
    ]
    batch = spark.createDataFrame(
        rows, "rowkey string, ts long, type string, val string"
    ).withColumn("sink_table", F.lit("dim_t"))
    wh = str(tmp_path / "wh")
    dim_upsert_batch(wh)(batch, 0)
    got = {(r.rowkey, r.val) for r in spark.read.parquet(wh + "/dim_t").collect()}
    assert got == {("k1", "new"), ("k2", "keep")}


def test_checkpoint_restart_is_idempotent(spark, tmp_path):
    """T10: re-running a drained availableNow query against the same
    checkpoint adds nothing — the exactly-once file-sink contract."""
    df = spark.createDataFrame([(i, i * 10) for i in range(20)], "id long, v long")
    in_dir = staged_files_dir(df, str(tmp_path), 2, order_col="id")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run():
        sdf = spark.readStream.schema("id long, v long").parquet(in_dir)
        run_available_now(sdf.filter(F.col("v") >= 0), out, ck)

    run()
    n1 = spark.read.parquet(out).count()
    run()  # same checkpoint: no offsets left -> no-op
    n2 = spark.read.parquet(out).count()
    assert n1 == 20 and n2 == 20


def test_upsert_sink_restart_is_idempotent(spark, tmp_path):
    """T10 on the MERGE path: re-running a drained foreachBatch upsert
    stream against the same checkpoint replays nothing, so the
    maintained table is byte-identical — the exactly-once contract the
    dim/upsert sinks (K5/K6) rely on across restarts."""
    from realtime_data_warehouse_spark.streaming.runner import run_foreach_batch
    from realtime_data_warehouse_spark.streaming.sinks import upsert_batch

    rows = [("a", 1, "v1"), ("b", 1, "w1"), ("a", 2, "v2"), ("c", 1, "x1")]
    df = spark.createDataFrame(rows, "k string, ts long, v string")
    in_dir = staged_files_dir(df, str(tmp_path), 2, order_col="ts")
    table, ck = str(tmp_path / "table"), str(tmp_path / "ck")

    def run():
        sdf = (
            spark.readStream.schema("k string, ts long, v string")
            .option("maxFilesPerTrigger", "1").parquet(in_dir)
        )
        run_foreach_batch(sdf, upsert_batch(table, ["k"], "ts"), ck)

    run()
    t1 = sorted(map(tuple, spark.read.parquet(table).collect()))
    assert t1 == [("a", 2, "v2"), ("b", 1, "w1"), ("c", 1, "x1")]
    run()  # restart on drained checkpoint: zero batches replayed
    t2 = sorted(map(tuple, spark.read.parquet(table).collect()))
    assert t2 == t1


def test_watermark_drops_late_rows(spark, tmp_path):
    """T6: a row arriving behind the watermark AFTER its window was
    emitted+evicted is dropped (no allowedLateness — same as the
    reference). Note Spark's drop guarantee is eviction-scoped: a late
    row landing in the same micro-batch that finalizes its window is
    still merged; only post-eviction arrivals must be dropped (append
    mode would otherwise emit the window twice)."""
    import datetime as dt
    import os as _os
    import time as _time

    base = dt.datetime(2024, 1, 1)
    batches = [
        [(base + dt.timedelta(hours=h), 1) for h in range(3)],   # 00,01,02
        [(base + dt.timedelta(days=2), 1)],                      # advances watermark
        [(base + dt.timedelta(days=2, hours=1), 1)],             # triggers emission+eviction
        [(base + dt.timedelta(hours=1, minutes=30), 1)],         # late: window already evicted
    ]
    in_dir = str(tmp_path / "in")
    t0 = int(_time.time()) - 100
    seen: set[str] = set()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "ts timestamp, v int")
        df.coalesce(1).write.mode("append" if i else "overwrite").parquet(in_dir)
        for f in set(_os.listdir(in_dir)) - seen:
            if f.endswith(".parquet"):
                _os.utime(_os.path.join(in_dir, f), (t0 + 10 * i, t0 + 10 * i))
        seen = set(_os.listdir(in_dir))

    sdf = (
        spark.readStream.schema("ts timestamp, v int")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour")).agg(F.sum("v").alias("n"))
        .select(F.col("window.start").alias("stt"), "n")
    )
    out = str(tmp_path / "out")
    run_available_now(sdf, out, str(tmp_path / "ck"))
    rows = spark.read.parquet(out).collect()
    got = {(r.stt.isoformat(), r.n) for r in rows}
    # hour-01 window emitted once, count 1 — the post-eviction late row
    # neither merged nor re-emitted the window
    assert ("2024-01-01T01:00:00", 1) in got
    assert len([r for r in rows if r.stt.isoformat() == "2024-01-01T01:00:00"]) == 1


def test_streaming_session_window_parity(spark, sf_small, events_stream_dir, tmp_path):
    """Session windows across micro-batches must equal the batch
    session_agg (sessions spanning batch boundaries merge in state)."""
    from realtime_data_warehouse_spark.operators.agg import session_agg
    from realtime_data_warehouse_spark.streaming.windows import streaming_session

    in_dir = events_stream_dir
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    sdf = stream_events(spark, in_dir, watermark="1 hour")
    run_available_now(
        streaming_session(
            sdf, "ts", "2 hours", ["user_id"],
            aggs={
                "events": F.count(F.lit(1)),
                "value_sum": F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
            },
        ),
        out, ck,
    )
    got = read_back(spark, out).filter(F.col("user_id") != 10**9)

    events = load_table(spark, sf_small, "events")
    want = session_agg(
        events, "ts", "2 hours", ["user_id"],
        aggs={
            "events": F.count(F.lit(1)),
            "value_sum": F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
        },
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_additive_merge_batch_is_idempotent_per_batch_id(spark, tmp_path):
    """Retried micro-batches (same batch_id) must not double-count —
    the applied-batch ledger is the exactly-once guard for additive
    (non-idempotent) merges."""
    from realtime_data_warehouse_spark.streaming.sinks import additive_merge_batch

    table = str(tmp_path / "agg")
    fn = additive_merge_batch(table, keys=["k"], sum_cols=["v"])
    b1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    b2 = spark.createDataFrame([("a", 10)], "k string, v long")
    fn(b1, 0)
    fn(b1, 0)  # retry of batch 0: ignored
    fn(b2, 1)
    fn(b2, 1)  # retry of batch 1: ignored
    got = {r.k: r.v for r in spark.read.parquet(table).collect()}
    assert got == {"a": 11, "b": 2}


def test_additive_merge_batch_survives_mid_swap_crash(spark, tmp_path):
    """A crash between the rename-aside and the rename-in must not lose
    prior batches: the live dir is missing but `.__old__` holds the
    last good table+ledger, and the retried batch recovers it before
    merging. A stale leftover `.__old__` after a completed swap must
    likewise be ignored, not resurrected."""
    from realtime_data_warehouse_spark.streaming.sinks import additive_merge_batch

    table = str(tmp_path / "agg")
    fn = additive_merge_batch(table, keys=["k"], sum_cols=["v"])
    b1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    b2 = spark.createDataFrame([("a", 10)], "k string, v long")
    fn(b1, 0)

    # Crash window 1: live dir renamed aside, new dir never renamed in.
    os.replace(table, table + ".__old__")
    fn(b2, 1)  # retry of batch 1 against the crashed state
    got = {r.k: r.v for r in spark.read.parquet(table).collect()}
    assert got == {"a": 11, "b": 2}  # batch 0's data survived
    assert not os.path.exists(table + ".__old__")

    # Crash window 2: swap completed but old copy was never deleted.
    shutil.copytree(table, table + ".__old__")
    b3 = spark.createDataFrame([("b", 5)], "k string, v long")
    fn(b3, 2)
    got = {r.k: r.v for r in spark.read.parquet(table).collect()}
    assert got == {"a": 11, "b": 7}
    assert not os.path.exists(table + ".__old__")
    # Ledger carried through both recoveries: retries are still no-ops.
    fn(b1, 0)
    fn(b2, 1)
    fn(b3, 2)
    got = {r.k: r.v for r in spark.read.parquet(table).collect()}
    assert got == {"a": 11, "b": 7}


def test_gapfill_stream_emits_late_buckets_flagged(spark, tmp_path):
    """Contract: a bucket at or below the key's high-water mark (the
    bucket-ordered-replay assumption violated) is emitted with its own
    observed value and is_late=1 — never silently dropped — while
    state and the gapfilled series stay untouched."""
    from realtime_data_warehouse_spark.streaming.stateful import (
        gapfill_locf_stream,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    pd.DataFrame({"k": ["a", "a"], "bucket": [0, 7200], "v": [1.0, 3.0]}).to_parquet(
        os.path.join(in_dir, "part-0.parquet"))
    pd.DataFrame({"k": ["a", "a"], "bucket": [3600, 10800], "v": [99.0, 4.0]}).to_parquet(
        os.path.join(in_dir, "part-1.parquet"))
    now = int(__import__("time").time())
    os.utime(os.path.join(in_dir, "part-0.parquet"), (now - 10, now - 10))
    os.utime(os.path.join(in_dir, "part-1.parquet"), (now - 9, now - 9))

    sdf = (
        spark.readStream.schema("k string, bucket long, v double")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    run_available_now(
        gapfill_locf_stream(sdf, "k", "bucket", ["v"], step_seconds=3600),
        out, ck,
    )
    rows = {
        (r.bucket, r.is_late): (r.is_gapfilled, r.v)
        for r in read_back(spark, out).collect()
    }
    assert rows == {
        (0, 0): (0, 1.0),
        (3600, 0): (1, 1.0),   # gapfilled from bucket 0, in-order series
        (7200, 0): (0, 3.0),
        (3600, 1): (0, 99.0),  # the late observation, flagged not dropped
        (10800, 0): (0, 4.0),  # state untouched by the late row
    }


def test_stream_events_adapts_to_nanos_layout(spark, tmp_path):
    """The driver has shipped events.ts both as INT64 TIMESTAMP(NANOS)
    (rounds 1-2) and as timestamp[us] (round 3). events_ts_schema must
    sniff the actual file layout so every streaming reader keeps
    working if it flips again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from realtime_data_warehouse_spark.streaming.runner import (
        read_back,
        run_available_now,
    )

    us = 1704067200 * 10**6  # 2024-01-01 00:00:00 UTC
    rows = {
        "event_id": [1, 2],
        "ts": pa.array([us * 1000, (us + 3600 * 10**6) * 1000],
                       type=pa.timestamp("ns")),
        "user_id": [7, 7],
        "event_type": ["view", "sentinel"],
        "value": [1.0, 0.0],
        "props": ["{}", "{}"],
    }
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    pq.write_table(pa.table(rows), os.path.join(in_dir, "part-0.parquet"),
                   store_schema=False)
    sdf = stream_events(spark, in_dir, watermark="0 seconds")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    run_available_now(
        sdf.groupBy(F.window("ts", "1 hour")).count()
        .select(F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
                "count"),
        out, ck,
    )
    got = {r.stt: r["count"] for r in read_back(spark, out).collect()}
    assert got.get("2024-01-01 00:00:00") == 1


def test_scd2_merge_batch_reinsert_and_idempotent_retry(spark, tmp_path):
    """scd2_merge_batch: (a) insert → delete → re-insert across three
    batches yields two closed-or-open versions with the tombstone
    closing the first; (b) replaying a batch (crash-retry) leaves the
    table byte-identical — version identity is (key, valid_from), no
    ledger needed."""
    from realtime_data_warehouse_spark.streaming.sinks import scd2_merge_batch

    tdir = str(tmp_path / "hist")
    fn = scd2_merge_batch(tdir, "k")

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, attr int, valid_from int, typ string")

    fn(batch([(1, 10, 0, "insert"), (2, 20, 0, "insert")]), 0)
    fn(batch([(1, None, 1, "delete")]), 1)
    fn(batch([(1, 11, 2, "insert")]), 2)

    rows = {
        (r.k, r.valid_from): (r.attr, r.valid_to)
        for r in spark.read.parquet(tdir).filter("typ != 'delete'").collect()
    }
    assert rows == {
        (1, 0): (10, 1),      # closed by the delete tombstone
        (1, 2): (11, None),   # re-insert is the new current version
        (2, 0): (20, None),   # untouched key carried over verbatim
    }

    # crash-retry: re-apply batch 2 — identical table, no dup versions
    fn(batch([(1, 11, 2, "insert")]), 2)
    again = {
        (r.k, r.valid_from): (r.attr, r.valid_to)
        for r in spark.read.parquet(tdir).filter("typ != 'delete'").collect()
    }
    assert again == rows


def test_funnel_stream_advances_across_batches(spark, tmp_path):
    """funnel_stream: the stage machine must advance through the state
    store — view in batch 1, click in batch 2, purchase in batch 3 —
    and must NOT complete a later stage from an event that precedes
    the prior stage (strictly-after semantics)."""
    from realtime_data_warehouse_spark.operators.state import latest_per_key
    from realtime_data_warehouse_spark.streaming.runner import (
        read_back,
        run_available_now,
        staged_files_dir,
    )
    from realtime_data_warehouse_spark.streaming.stateful import funnel_stream

    # user 1: clean 3-batch funnel; user 2: click BEFORE its view
    # (never counts), purchase after view (skipped: click missing)
    rows = [
        (1, 100, "view"), (2, 100, "click"),
        (1, 200, "click"), (2, 150, "view"),
        (1, 300, "purchase"), (2, 300, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long, event_type string")
    in_dir = staged_files_dir(df, str(tmp_path), n_files=3,
                              order_col="ts_us")
    sdf = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    run_available_now(funnel_stream(sdf, "user_id", "ts_us", "event_type"),
                      out, ck)
    final = {
        r.user_id: (r.t1, r.t2, r.t3)
        for r in latest_per_key(
            read_back(spark, out), ["user_id"], "seq").collect()
    }
    assert final[1] == (100, 200, 300)
    assert final[2] == (150, None, None)


def test_scd2_merge_batch_crash_recovery(spark, tmp_path):
    """scd2_merge_batch survives both rename-aside crash windows: live
    dir renamed aside but tmp never renamed in (retry must merge
    against the RESTORED prior state), and a completed swap whose old
    copy was never deleted (stale .__old__ must be dropped, not
    restored over newer state)."""
    from realtime_data_warehouse_spark.streaming.sinks import scd2_merge_batch

    tdir = str(tmp_path / "hist")
    fn = scd2_merge_batch(tdir, "k")

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, attr int, valid_from int, typ string")

    fn(batch([(1, 10, 0, "insert")]), 0)

    # window 1: crash after live→aside, before tmp→live
    os.replace(tdir, tdir + ".__old__")
    fn(batch([(1, 20, 1, "insert")]), 1)  # retried batch
    got = {(r.k, r.valid_from): (r.attr, r.valid_to)
           for r in spark.read.parquet(tdir).collect()}
    assert got == {(1, 0): (10, 1), (1, 1): (20, None)}
    assert not os.path.exists(tdir + ".__old__")

    # window 2: swap completed, old copy left behind
    shutil.copytree(tdir, tdir + ".__old__")
    fn(batch([(1, 30, 2, "insert")]), 2)
    got = {(r.k, r.valid_from): (r.attr, r.valid_to)
           for r in spark.read.parquet(tdir).collect()}
    assert got == {(1, 0): (10, 1), (1, 1): (20, 2), (1, 2): (30, None)}
    assert not os.path.exists(tdir + ".__old__")


def test_rocksdb_state_store_same_output(spark, sf_small, tmp_path):
    """The RocksDB provider (session.use_rocksdb_state — the
    state-bigger-than-heap production config) must produce the exact
    rows the default in-memory store does: same A7 replay, two
    providers, set-equal output."""
    from realtime_data_warehouse_spark.session import use_rocksdb_state

    events = load_table(spark, sf_small, "events").select(
        F.col("user_id").cast("string").alias("uid"),
        F.unix_timestamp("ts").alias("ts_s"),
    )
    in_dir = staged_files_dir(events, str(tmp_path), n_files=3, order_col="ts_s")

    def drain(tag: str):
        sdf = (
            spark.readStream.schema("uid string, ts_s long")
            .option("maxFilesPerTrigger", "1").parquet(in_dir)
        )
        out = str(tmp_path / f"out_{tag}")
        run_available_now(
            daily_first_event_stream(sdf, "uid", "ts_s"), out,
            str(tmp_path / f"ck_{tag}"),
        )
        return sorted(map(tuple, read_back(spark, out).collect()))

    default_rows = drain("default")
    use_rocksdb_state(spark, True)
    try:
        rocks_rows = drain("rocksdb")
    finally:
        use_rocksdb_state(spark, False)
    assert rocks_rows == default_rows


def test_order_wide_join_rows_do_not_depend_on_slices(spark, sf_small):
    """bench.py's trigger-sizing ladder re-stages the 4-way join chain
    at more, smaller micro-batches and reads only latency off it; that
    holds only if the slice count leaves the output unchanged."""
    from realtime_data_warehouse_spark.plans.streaming_queries import (
        order_wide_join,
    )

    def rows(slices: int):
        df = order_wide_join(spark, sf_small, slices=slices)
        return sorted(map(tuple, df.collect()))

    three = rows(3)
    assert three and rows(6) == three


def test_neardup_gate_rejects_across_batches(spark, tmp_path):
    """stream_neardup_gate's seen-index must grow across micro-batches:
    doc 30 arrives in the LAST batch and duplicates doc 20 (an earlier
    batch's arrival, itself accepted) — only the appended seen index
    can reject it. Also pins the verdict taxonomy: corpus match beats
    earlier-arrival match; an unshingleable doc is accepted."""
    from realtime_data_warehouse_spark.plans.streaming_queries import (
        stream_neardup_gate,
    )

    a = "the quick brown fox jumps over the lazy dog again and again"
    c = "completely different words about spark streaming state stores"
    rows = [
        (1, a),        # corpus
        (2, "unrelated corpus text mentioning nothing shared at all"),
        (0, "short"),  # incoming batch 0: < 2 tokens -> unshingleable
        (10, a),       # incoming batch 0/1: dup of corpus doc 1
        (20, c),       # incoming: unique -> accepted
        (30, c),       # incoming LAST batch: dup of arrival 20 only
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        os.path.join(sf, "documents.parquet"))
    got = {
        r["doc_id"]: (r["accepted"], r["reject_reason"])
        for r in stream_neardup_gate(spark, sf).collect()
    }
    assert got == {
        0: (True, None),
        10: (False, "corpus"),
        20: (True, None),
        30: (False, "earlier"),
    }


def test_gapfill_stream_matches_scalar_walk(spark, tmp_path):
    """Round-7 vectorization pin: the numpy gapfill kernel must equal
    the scalar reference walk (gapfill_walk_ref) row-for-row as a SET
    on a seeded randomized multi-key replay with cross-batch gaps,
    cross-batch late rows and cross-batch duplicate buckets. (Within a
    batch, buckets are unique per key: equal-bucket ties resolve by
    Spark's nondeterministic chunk order in BOTH kernels, so they are
    not a testable contract.)"""
    import random

    from realtime_data_warehouse_spark.streaming.stateful import (
        gapfill_locf_stream,
        gapfill_walk_ref,
    )

    rng = random.Random(20260815)
    step = 3600
    keys = ["a", "b", "c", "d"]
    batches = []
    for _ in range(3):
        rows = []
        for k in keys:
            buckets = rng.sample(range(0, 40), rng.randint(3, 8))
            for b in buckets:
                rows.append((k, b * step,
                             float(rng.randint(0, 99)),
                             float(rng.randint(0, 9))))
        rng.shuffle(rows)
        batches.append(rows)

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    now = int(__import__("time").time())
    for i, rows in enumerate(batches):
        p = os.path.join(in_dir, f"part-{i}.parquet")
        pd.DataFrame(rows, columns=["k", "bucket", "v", "w"]).to_parquet(p)
        os.utime(p, (now - 10 + i, now - 10 + i))

    sdf = (
        spark.readStream.schema("k string, bucket long, v double, w double")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    run_available_now(
        gapfill_locf_stream(sdf, "k", "bucket", ["v", "w"],
                            step_seconds=step),
        out, ck,
    )
    got = sorted(
        (r.k, r.bucket, r.is_gapfilled, r.is_late, r.v, r.w)
        for r in read_back(spark, out).collect()
    )

    expected = []
    state = {}
    for rows in batches:
        per_key = {}
        for k, b, v, w in rows:
            per_key.setdefault(k, []).append((b, (v, w)))
        for k, kvrows in per_key.items():
            kvrows.sort(key=lambda t: t[0])
            last_b, last_vals = state.get(k, (None, None))
            out_rows, last_b, last_vals = gapfill_walk_ref(
                [b for b, _ in kvrows], [vs for _, vs in kvrows],
                last_b, last_vals, step, emit_late=True)
            state[k] = (last_b, last_vals)
            expected.extend((k, b, gf, lt, v, w)
                            for b, gf, lt, v, w in out_rows)
    assert got == sorted(expected)


class _KillPoint(Exception):
    """Injected crash for the exactly-once recovery suite."""


@pytest.mark.parametrize("provider", ["memory", "rocksdb"])
@pytest.mark.parametrize("kill_point", [
    "after_data_write", "after_ledger_write",
    "after_live_aside", "after_tmp_in",
])
def test_additive_merge_survives_mid_commit_kill(
        spark, tmp_path, kill_point, provider):
    """T10, the sharp version (round 7): kill the additive-merge sink
    at every point a real crash could land INSIDE a batch commit —
    after the data write, after the ledger write, and at both rename
    points inside the swap — then restart from the same checkpoint and
    require the maintained table to equal the lossless recompute: the
    replayed batch must apply EXACTLY once (ledger skip when the
    ledger survived the crash, clean re-merge against restored state
    when it didn't). Runs on both state-store providers because the
    upstream applyInPandasWithState delta state must also roll back to
    the last committed version for the replay to be exact."""
    from realtime_data_warehouse_spark.session import use_rocksdb_state
    from realtime_data_warehouse_spark.streaming.runner import (
        run_foreach_batch,
    )
    from realtime_data_warehouse_spark.streaming.sinks import (
        additive_merge_batch,
    )
    from realtime_data_warehouse_spark.streaming.stateful import (
        delta_correct,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    now = int(__import__("time").time())
    for i in range(3):  # version i of every key -> batch i
        pdf = pd.DataFrame({
            "id": [f"k{j}" for j in range(6)],
            "ts": [i] * 6,
            "amt": [float(i * 10 + j) for j in range(6)],
        })
        p = os.path.join(in_dir, f"part-{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (now - 10 + i, now - 10 + i))

    table, ck = str(tmp_path / "table"), str(tmp_path / "ck")
    ctx = {"bid": -1, "armed": True}

    def fault(stage: str) -> None:
        if ctx["armed"] and ctx["bid"] == 1 and stage == kill_point:
            ctx["armed"] = False
            raise _KillPoint(stage)

    def run(with_fault: bool) -> None:
        sdf = (spark.readStream.schema("id string, ts long, amt double")
               .option("maxFilesPerTrigger", "1").parquet(in_dir))
        deltas = delta_correct(sdf, "id", "ts", ["amt"])
        sink = additive_merge_batch(
            table, keys=["id"], sum_cols=["amt"],
            prepare=lambda b: b.groupBy("id").agg(F.sum("amt").alias("amt")),
            fault=fault if with_fault else None)

        def wrapped(batch, bid):
            ctx["bid"] = bid
            sink(batch, bid)

        run_foreach_batch(deltas, wrapped, ck, output_mode="append")

    use_rocksdb_state(spark, provider == "rocksdb")
    try:
        with pytest.raises(Exception):
            run(with_fault=True)
        # the injected kill fired (disarmed), i.e. the query died at
        # OUR point, not on an unrelated error
        assert not ctx["armed"]
        run(with_fault=False)  # restart: same checkpoint, no fault
    finally:
        use_rocksdb_state(spark, False)

    got = {r.id: r.amt for r in spark.read.parquet(table).collect()}
    # sum of per-batch deltas == the latest version's amount, per key
    assert got == {f"k{j}": float(20 + j) for j in range(6)}


@pytest.mark.parametrize("kill_point", [
    "after_data_write", "after_ledger_write",
    "after_live_aside", "after_tmp_in",
])
def test_mg_merge_survives_mid_commit_kill(spark, tmp_path, kill_point):
    """Round-8 recovery suite for the streaming Misra-Gries sink: MG
    merge is non-idempotent (a replayed batch re-adds counts AND
    re-subtracts a trim threshold), so a crash at any in-commit stage
    must neither double-apply nor lose the batch. Kill at each of the
    four stages during batch 1, restart from the same checkpoint, and
    require (a) the stored exact row count n to equal the true stream
    length (any double-apply inflates it), and (b) the drained
    candidates + exact re-count to produce the true heavy-hitter set."""
    from collections import Counter

    from realtime_data_warehouse_spark.streaming.runner import (
        run_foreach_batch,
    )
    from realtime_data_warehouse_spark.streaming.sinks import mg_merge_batch

    k = 4
    batches = [
        ["a"] * 10 + ["b"] * 5 + ["d", "e"],
        ["a"] * 10 + ["b"] * 10 + ["f", "g", "h"],
        ["a"] * 10 + ["b"] * 5 + ["c"] * 6 + ["i", "j", "k", "l", "m"],
    ]
    all_toks = [t for b in batches for t in b]
    n_true = len(all_toks)
    true_counts = Counter(all_toks)
    expected = {t: c for t, c in true_counts.items()
                if c > n_true / (k + 1)}
    assert expected == {"a": 30, "b": 20}  # test-corpus sanity

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    now = int(__import__("time").time())
    for i, toks in enumerate(batches):
        p = os.path.join(in_dir, f"part-{i}.parquet")
        pd.DataFrame({"token": toks}).to_parquet(p)
        os.utime(p, (now - 10 + i, now - 10 + i))

    state, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    ctx = {"bid": -1, "armed": True}

    def fault(stage: str) -> None:
        if ctx["armed"] and ctx["bid"] == 1 and stage == kill_point:
            ctx["armed"] = False
            raise RuntimeError(f"injected kill at {stage}")

    def run(with_fault: bool) -> None:
        sdf = (spark.readStream.schema("token string")
               .option("maxFilesPerTrigger", "1").parquet(in_dir))
        sink = mg_merge_batch(state, k=k,
                              fault=fault if with_fault else None)

        def wrapped(batch, bid):
            ctx["bid"] = bid
            sink(batch, bid)

        run_foreach_batch(sdf, wrapped, ck, output_mode="append")

    with pytest.raises(Exception):
        run(with_fault=True)
    assert not ctx["armed"]  # died at OUR kill point
    run(with_fault=False)

    st = pd.read_parquet(state)
    n = int(st.loc[st["is_total"], "cnt"].sum())
    assert n == n_true  # exactly-once: no double-counted batch
    cand = set(st.loc[~st["is_total"], "token"])
    assert set(expected) <= cand  # MG superset guarantee held
    got = {t: c for t, c in true_counts.items()
           if t in cand and c > n / (k + 1)}
    assert got == expected


def test_pack_stream_state_survives_query_restart(spark, tmp_path):
    """T10 × keyed state: the running token-offset ValueState must be
    RESTORED from the checkpoint when a brand-new availableNow query
    resumes on the same checkpoint over files that arrived after the
    previous drain — chunks in the second run must continue the packs
    the first run started, identical to a single-run drain over all
    files. This pins the state-store restore path that the
    applyInPandasWithState journey operators (pack/gapfill/funnel/
    attribution) all share: the kill-point suite covers the sink-side
    ledger, this covers the operator-side state recovery across query
    restarts (e.g. a redeploy between ingest waves).

    Detection power: with 100-token chunks and budget 256, a lost
    offset restarts pack_id at 0 — the wave-2 rows' (pack_id,
    pack_offset) would read (0,0),(0,100),(0,200) instead of the
    continued (1,44),(1,144),(1,244)."""
    from realtime_data_warehouse_spark.streaming.stateful import pack_stream

    schema = "grp string, doc_id long, chunk_idx long, n_tokens long"
    in_dir, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)

    def arrive(docs, mtime):
        """Append one part file of chunk rows and stamp its mtime so
        FileStreamSource replays arrival order deterministically."""
        before = set(os.listdir(in_dir))
        df = spark.createDataFrame(
            [("g", d, 0, 100) for d in docs], schema)
        df.coalesce(1).write.mode("append").parquet(in_dir)
        new = [f for f in os.listdir(in_dir)
               if f.startswith("part-") and f not in before]
        assert len(new) == 1
        os.utime(os.path.join(in_dir, new[0]), (mtime, mtime))

    def drain(to_out, to_ck):
        sdf = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1").parquet(in_dir))
        run_available_now(
            pack_stream(sdf, ["grp"], ("doc_id", "chunk_idx"),
                        tokens_col="n_tokens", budget=256),
            to_out, to_ck)

    base = 1_700_000_000
    arrive([1, 2, 3], base)
    drain(out, ck)                      # wave 1: offsets 0/100/200
    arrive([4, 5, 6], base + 10)
    drain(out, ck)                      # NEW query, same checkpoint

    got = {(r.doc_id, r.pack_id, r.pack_offset)
           for r in spark.read.parquet(out).collect()}

    # single-run reference over the same six files, fresh checkpoint
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    drain(out2, ck2)
    ref = {(r.doc_id, r.pack_id, r.pack_offset)
           for r in spark.read.parquet(out2).collect()}

    assert got == ref
    assert (4, 1, 44) in got  # the continued-offset smoking gun


def test_asof_enrich_stream_matches_across_batches(spark, tmp_path):
    """asof_enrich_stream: (a) a left row matches a right row from an
    EARLIER micro-batch through the last-right ValueState — including
    integer payload columns, which travel the batch as float64
    (nullable-long) and must be coerced back before the state write;
    (b) equal timestamps match (inclusive bound, right sorts first);
    (c) a left row before any right row emits with null payload;
    (d) a matched right row whose PAYLOAD is null emits null — the
    row-wise gather must not smear an older right row's payload under
    the newer matched_ts (round-9 ADVICE fix: per-column ffill did)."""
    from realtime_data_warehouse_spark.streaming.stateful import (
        asof_enrich_stream,
    )

    # k=1: right@10 in batch 1, left@10 (tie) and left@30 in batch 2
    #      (cross-batch via state), left@5 unmatched in batch 1
    # k=2: rights@10,20 in batch 1; left@25 in batch 2 -> latest (20)
    # k=3: right@10 (payload) then right@20 (NULL payload) then left@25
    #      all in batch 1 -> matched_ts=20 with NULL payload, and the
    #      cross-batch twin left@35 in batch 2 seeds from the null
    #      state row, also NULL payload
    b1 = [(1, 5, 1, 100, None, None), (1, 10, 0, 900, 900, 1.5),
          (2, 10, 0, 901, 901, 2.5), (2, 20, 0, 902, 902, 3.5),
          (3, 10, 0, 903, 903, 4.5), (3, 20, 0, 904, None, None),
          (3, 25, 1, 104, None, None)]
    b2 = [(1, 10, 1, 101, None, None), (1, 30, 1, 102, None, None),
          (2, 25, 1, 103, None, None), (3, 35, 1, 105, None, None)]
    schema = ("k long, ts long, tag int, id long, rid long, v double")
    in_dir = str(tmp_path / "in")
    for i, rows in enumerate((b1, b2)):
        df = spark.createDataFrame(rows, schema)
        before = set(os.listdir(in_dir)) if os.path.exists(in_dir) else set()
        df.coalesce(1).write.mode("append").parquet(in_dir)
        new = [f for f in os.listdir(in_dir)
               if f.startswith("part-") and f not in before]
        os.utime(os.path.join(in_dir, new[0]),
                 (1_700_000_000 + i, 1_700_000_000 + i))

    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(in_dir))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    run_available_now(
        asof_enrich_stream(sdf, key_col="k", ts_col="ts", tag_col="tag",
                           id_col="id", payload_cols=("rid", "v")),
        out, ck)
    got = {r.id: (r.matched_ts, r.rid, r.v)
           for r in spark.read.parquet(out).collect()}
    assert got == {
        100: (None, None, None),      # before any right row
        101: (10, 900, 1.5),          # tie: inclusive, via state
        102: (10, 900, 1.5),          # cross-batch match via state
        103: (20, 902, 3.5),          # latest of two rights
        104: (20, None, None),        # matched right has NULL payload
        105: (20, None, None),        # same, seeded across batches
    }


def test_auto_state_store_picks_provider_from_key_estimate(spark):
    """Round-9 VERDICT item 3: the in-memory→RocksDB choice is derived
    from estimated resident keys against the measured crossover
    (session.STATE_STORE_KEY_CROSSOVER), not a hand-set flag. Pins the
    decision boundary and that the session conf is actually set/unset;
    the drain-level behavior of each provider is pinned by the
    provider-parametrized kill and identity tests above."""
    from realtime_data_warehouse_spark.session import (
        ROCKSDB_STATE_PROVIDER,
        STATE_STORE_KEY_CROSSOVER,
        STATE_STORE_SWITCH_MARGIN,
        auto_state_store,
        estimate_resident_keys,
        use_rocksdb_state,
    )

    switch = int(STATE_STORE_KEY_CROSSOVER * STATE_STORE_SWITCH_MARGIN)
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        assert not auto_state_store(spark, switch - 1)
        assert spark.conf.get(key, None) is None
        assert auto_state_store(spark, switch)
        assert spark.conf.get(key) == ROCKSDB_STATE_PROVIDER
        # the margin must cover the estimator's error band: a true-1M
        # corpus reading 925,738 through the HLL must still switch
        assert auto_state_store(spark, 925_738)
    finally:
        use_rocksdb_state(spark, False)

    df = spark.range(10_000).select(
        (F.col("id") % 257).alias("uid"), F.col("id").alias("v"))
    est = estimate_resident_keys(df, "uid")
    assert 230 <= est <= 285  # HLL ±5% rsd around the true 257
    est2 = estimate_resident_keys(df, ["uid", "v"])  # composite key
    assert est2 > 9_000


def test_journey_kernels_invariant_to_crosskey_disorder(spark, tmp_path):
    """Round-9 VERDICT item 4: a 100 TB Kafka replay delivers per-key
    order (keyed topic) but NO cross-key order — the staged gid-range
    replay's global event-time alignment is a test-harness luxury.
    Replay the same journey corpus through the ordered staging AND the
    keyed staging (per-key order kept, cross-key alignment scrambled:
    batch k holds every key's k-th rank range, whatever the absolute
    timestamps) and require byte-identical output from all five
    journey kernels — their state is keyed, so cross-key arrival
    order must be invisible."""
    from realtime_data_warehouse_spark.sources.synthetic import (
        synthetic_keyed_journey,
    )
    from realtime_data_warehouse_spark.streaming.runner import (
        staged_files_dir_keyed,
    )
    from realtime_data_warehouse_spark.streaming.stateful import (
        asof_enrich_stream,
        attribution_stream,
        funnel_stream,
        gapfill_locf_stream,
        pack_stream,
    )

    corpus = synthetic_keyed_journey(spark, n_events=3_000, n_keys=400)
    schema = ("gid long, uid long, rnk long, ts_s long, "
              "etype string, value double")
    base = 1_704_067_200
    in_ordered = staged_files_dir(
        corpus, str(tmp_path / "ord"), n_files=3, order_col="gid")
    in_keyed = staged_files_dir_keyed(
        corpus, str(tmp_path / "key"), key_col="uid", order_col="ts_s",
        n_files=3)

    def mk_gapfill(s):
        return gapfill_locf_stream(
            s.select(F.col("uid").cast("string").alias("id"),
                     (F.lit(base) + F.col("rnk") * 7_200)
                     .cast("long").alias("bucket"),
                     F.col("value").alias("v")),
            "id", "bucket", ["v"], step_seconds=3_600)

    def mk_funnel(s):
        return funnel_stream(s, "uid", "ts_s", "etype")

    def mk_attr(s):
        return attribution_stream(s, "uid", "ts_s", "gid", "etype",
                                  "value")

    def mk_pack(s):
        return pack_stream(
            s.select("uid", F.col("gid").alias("doc_id"),
                     F.lit(0).cast("long").alias("chunk_idx"),
                     F.lit(64).cast("long").alias("n_tokens")),
            ["uid"], ("doc_id", "chunk_idx"),
            tokens_col="n_tokens", budget=256)

    def mk_asof(s):
        return asof_enrich_stream(
            s.select("uid", F.col("ts_s").alias("ts"),
                     F.when(F.col("etype") == "view", 0).otherwise(1)
                     .cast("int").alias("tag"),
                     F.col("gid").alias("id"),
                     F.col("gid").alias("rid"), "value"),
            key_col="uid", ts_col="ts", tag_col="tag", id_col="id",
            payload_cols=("rid", "value"))

    def funnel_final(df):
        # funnel emits a per-batch SNAPSHOT per appearing user; which
        # intermediate snapshots exist depends on which batches a user
        # appears in (staging-dependent by design). The operator's
        # documented reader contract — keep the max-seq row per user —
        # is the semantic output, and THAT must be staging-invariant.
        return df.groupBy("uid").agg(
            F.max_by(F.struct("t1", "t2", "t3"), "seq").alias("s")
        ).select("uid", "s.*")

    for name, mk, post in (
            ("gapfill", mk_gapfill, None), ("funnel", mk_funnel,
                                            funnel_final),
            ("attr", mk_attr, None), ("pack", mk_pack, None),
            ("asof", mk_asof, None)):
        outs = []
        for tag, in_dir in (("o", in_ordered), ("k", in_keyed)):
            sdf = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", "1").parquet(in_dir))
            out = str(tmp_path / f"out_{name}_{tag}")
            run_available_now(mk(sdf), out,
                              str(tmp_path / f"ck_{name}_{tag}"))
            got = spark.read.parquet(out)
            outs.append(post(got) if post else got)
        a, b = outs
        assert a.count() == b.count() > 0, name
        assert a.exceptAll(b).count() == 0, name
        assert b.exceptAll(a).count() == 0, name


def test_asof_enrich_stream_bounded_lateness_degrades_safely(
        spark, tmp_path):
    """Per-key LATENESS (beyond cross-key disorder) — the two
    invariants the round-9 hardening pins:
    (a) a late RIGHT row (older than the right already in state) must
        not regress the key's latest-right state, while still serving
        lefts behind it in its own batch;
    (b) a late LEFT row older than the remembered right emits
        UNMATCHED (null), never a matched_ts > ts future-match."""
    from realtime_data_warehouse_spark.streaming.stateful import (
        asof_enrich_stream,
    )

    # batch 1: rights @10,@20 for k=1     (state -> rts=20)
    # batch 2: LATE right @15 + left @16  (in-batch match to 15;
    #                                      state must stay 20)
    # batch 3: left @30 (matches state 20 -> proves no regression)
    #          + LATE left @12 (< state rts -> unmatched)
    b1 = [(1, 10, 0, 900, 900, 1.0), (1, 20, 0, 902, 902, 3.0)]
    b2 = [(1, 15, 0, 901, 901, 2.0), (1, 16, 1, 101, None, None)]
    b3 = [(1, 30, 1, 102, None, None), (1, 12, 1, 103, None, None)]
    schema = "k long, ts long, tag int, id long, rid long, v double"
    in_dir = str(tmp_path / "in")
    for i, rows in enumerate((b1, b2, b3)):
        df = spark.createDataFrame(rows, schema)
        before = set(os.listdir(in_dir)) if os.path.exists(in_dir) else set()
        df.coalesce(1).write.mode("append").parquet(in_dir)
        new = [f for f in os.listdir(in_dir)
               if f.startswith("part-") and f not in before]
        os.utime(os.path.join(in_dir, new[0]),
                 (1_700_000_000 + i, 1_700_000_000 + i))

    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(in_dir))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    run_available_now(
        asof_enrich_stream(sdf, key_col="k", ts_col="ts", tag_col="tag",
                           id_col="id", payload_cols=("rid", "v")),
        out, ck)
    got = {r.id: (r.matched_ts, r.rid, r.v)
           for r in spark.read.parquet(out).collect()}
    assert got == {
        101: (15, 901, 2.0),    # served by the late right, in batch
        102: (20, 902, 3.0),    # state kept 20, not regressed to 15
        103: (None, None, None),  # late left: unmatched, no future match
    }


def test_auto_state_store_flips_provider_at_1m_keys(spark, tmp_path):
    """VERDICT r9 item 3 "done" check: the registry's stateful
    entries pick their provider from the replay input. Below the
    crossover the in-memory store is chosen (registry hashes at
    sf0.01 unchanged — covered by the parity sweep); a 1M-distinct-key
    input must flip the session to RocksDB, and _auto_store must
    (a) restore the prior conf on exit and (b) DEFER to an explicitly
    configured provider (bench A/B columns, scaling-sweep hand flags
    must stay authoritative)."""
    from realtime_data_warehouse_spark.plans.streaming_queries import (
        _RESIDENT_KEYS_CACHE,
        _auto_store,
    )
    from realtime_data_warehouse_spark.session import (
        ROCKSDB_STATE_PROVIDER,
        auto_state_store,
        estimate_resident_keys,
        use_rocksdb_state,
    )

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    assert spark.conf.get(provider_key, None) is None

    small = spark.range(30_000).select(F.col("id").alias("k"))
    assert auto_state_store(spark, estimate_resident_keys(small, "k")) \
        is False
    assert spark.conf.get(provider_key, None) is None

    big = spark.range(1_000_000).select(F.col("id").alias("k"))
    est = estimate_resident_keys(big, "k")
    assert 700_000 < est < 1_300_000, est
    assert auto_state_store(spark, est) is True
    assert spark.conf.get(provider_key) == ROCKSDB_STATE_PROVIDER
    use_rocksdb_state(spark, False)  # reset

    # the context manager: picks for the drain, restores after
    big_dir = str(tmp_path / "big")
    big.write.parquet(big_dir)
    with _auto_store(spark, big_dir, "t_flip", big_dir, "k") as chosen:
        assert chosen is True
        assert spark.conf.get(provider_key) == ROCKSDB_STATE_PROVIDER
    assert spark.conf.get(provider_key, None) is None
    _RESIDENT_KEYS_CACHE.clear()

    # explicit session choice wins: auto defers entirely
    use_rocksdb_state(spark, True)
    try:
        with _auto_store(spark, big_dir, "t_flip", big_dir, "k") as chosen:
            assert chosen is None
            assert spark.conf.get(provider_key) == ROCKSDB_STATE_PROVIDER
        assert spark.conf.get(provider_key) == ROCKSDB_STATE_PROVIDER
    finally:
        use_rocksdb_state(spark, False)
        _RESIDENT_KEYS_CACHE.clear()


def test_asof_exact_matches_late_right_where_o1_kernel_degrades(
        spark, tmp_path):
    """The exactness delta between the two as-of kernels, pinned on
    one construction: a right row arrives one batch AFTER a left row
    it should serve (within the slack). The O(1) latest-right kernel
    must degrade safely (left emits unmatched — its contract); the
    watermark-buffered exact kernel must hold the left back and emit
    the TRUE match once the frontier passes it."""
    from realtime_data_warehouse_spark.streaming.runner import (
        read_back,
        run_available_now,
        staged_files_dir,
    )
    from realtime_data_warehouse_spark.streaming.stateful import (
        ASOF_FLUSH_TAG,
        asof_enrich_stream,
        asof_enrich_stream_exact,
    )

    SLACK = 100
    # arrival order (one row per micro-batch via __arr ranges):
    #   batch 1: left  (ts=150)            — undecidable yet
    #   batch 2: right (ts=100, late, within slack of 150)
    #   batch 3: flush punctuation
    rows = [
        (1, 150, 1, 900, None, None, 0),             # left, arrives first
        (1, 100, 0, 7, 7, 3.5, 60),                  # late right
        (1, 1 << 40, ASOF_FLUSH_TAG, 0, None, None, 1 << 40),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long, tag int, id long, rid long, "
              "value double, __arr long")
    in_dir = staged_files_dir(df, str(tmp_path / "s"), n_files=3,
                              order_col="__arr")
    schema = ("user_id long, ts_us long, tag int, id long, rid long, "
              "value double")

    def drain(kernel, sub):
        out = str(tmp_path / sub / "out")
        ck = str(tmp_path / sub / "ck")
        sdf = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1").parquet(in_dir))
        run_available_now(kernel(sdf), out, ck)
        return {r.id: (r.matched_ts, r.rid, r.value)
                for r in read_back(spark, out).collect()}

    exact = drain(lambda s: asof_enrich_stream_exact(
        s, "user_id", "ts_us", "tag", "id", ("rid", "value"),
        slack=SLACK), "exact")
    assert exact[900] == (100, 7, 3.5), exact

    o1 = drain(lambda s: asof_enrich_stream(
        s.filter(F.col("tag") != ASOF_FLUSH_TAG),
        "user_id", "ts_us", "tag", "id", ("rid", "value")), "o1")
    assert o1[900] == (None, None, None), o1  # degrade-safe, not exact


def test_asof_exact_identical_across_ordered_and_late_stagings(
        spark, tmp_path):
    """Arrival-path identity for the EXACT kernel: the same tagged
    stream drained through (a) the globally event-time-ordered
    staging and (b) the bounded-late staging must produce
    byte-identical emission SETS — and both must equal the batch
    asof_join. Counts alone can hide a wrong-match/wrong-null swap;
    this compares full rows."""
    from realtime_data_warehouse_spark.operators.joins import asof_join
    from realtime_data_warehouse_spark.streaming.runner import (
        append_final_file,
        read_back,
        run_available_now,
        staged_files_dir,
        staged_files_dir_bounded_late,
    )
    from realtime_data_warehouse_spark.streaming.stateful import (
        ASOF_FLUSH_TAG,
        asof_enrich_stream_exact,
    )

    SLACK = 40
    n, keys = 2_000, 53
    tagged = spark.range(n).select(
        (F.col("id") % keys).alias("uid"),
        (F.col("id") * 7 % 1_000).alias("ts"),
        F.when(F.pmod(F.xxhash64("id"), F.lit(3)) == 0, 0)
        .otherwise(1).cast("int").alias("tag"),
        F.col("id").alias("id"),
        F.col("id").alias("rid"),
        (F.col("id") % 97 / 10.0).alias("value"),
    ).withColumn(  # dedupe rights per (uid, ts): the tie contract
        "rn", F.expr("row_number() over (partition by uid, ts, tag "
                     "order by id desc)")
    ).filter((F.col("tag") == 1) | (F.col("rn") == 1)).drop("rn")
    flush = tagged.select("uid").distinct().select(
        "uid", F.lit(1 << 40).alias("ts"),
        F.lit(ASOF_FLUSH_TAG).alias("tag"),
        F.lit(0).cast("long").alias("id"),
        F.lit(None).cast("long").alias("rid"),
        F.lit(None).cast("double").alias("value"))

    def drain(in_dir, sub):
        out = str(tmp_path / sub / "out")
        ck = str(tmp_path / sub / "ck")
        sdf = (spark.readStream
               .schema("uid long, ts long, tag int, id long, "
                       "rid long, value double")
               .option("maxFilesPerTrigger", "1").parquet(in_dir))
        enr = asof_enrich_stream_exact(
            sdf, key_col="uid", ts_col="ts", tag_col="tag",
            id_col="id", payload_cols=("rid", "value"), slack=SLACK)
        run_available_now(enr, out, ck)
        return sorted(
            (r.uid, r.id, r.ts, r.matched_ts, r.rid, r.value)
            for r in read_back(spark, out).collect())

    ordered_dir = staged_files_dir(
        tagged.withColumn("__arr", F.col("ts")), str(tmp_path / "a"),
        n_files=3, order_col="__arr")
    append_final_file(ordered_dir, flush.withColumn(
        "__arr", F.lit(1 << 40)))
    late_dir = staged_files_dir_bounded_late(
        tagged, str(tmp_path / "b"), ts_col="ts",
        jitter_cols=("id",), slack=SLACK, n_files=4)
    append_final_file(late_dir, flush.withColumn(
        "__arr", F.lit(1 << 40)))

    got_ordered = drain(ordered_dir, "ord")
    got_late = drain(late_dir, "late")
    assert got_ordered == got_late

    lefts = tagged.filter(F.col("tag") == 1).select("uid", "id", "ts")
    rights = tagged.filter(F.col("tag") == 0).select(
        "uid", F.col("ts").alias("rts"), "rid", "value")
    batch = asof_join(lefts, rights, key="uid",
                      left_ts="ts", right_ts="rts")
    want = sorted(
        (r.uid, r.id, r.ts, r.matched_rts, r.rid, r.value)
        for r in batch.collect())
    assert got_ordered == want
