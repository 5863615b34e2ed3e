"""Streaming-executed queries in the driver's graded registry.

Each entry here runs a REAL Structured Streaming job — file-stream
source, watermark, state store, availableNow drain (the same code
path a 24/7 deployment runs, per streaming/runner.py) — and returns
the sink's contents as a batch DataFrame. The oracle is the same
ANSI SQL the batch twin matches, so the driver's hash check proves
the full chain: streaming plan ≡ batch plan ≡ portable SQL.

This is the strongest form of the reference's replay-validation
(SURVEY §5: the Flink apps were checked by replaying Kafka topics and
eyeballing Doris) — here the replay is deterministic and the check is
a value hash, not an eyeball.

Flush mechanics: append-mode window aggregation only emits a window
once the watermark passes its end, and availableNow's final no-data
batch advances the watermark to max-seen-event-time − delay. A far-
future sentinel row (filtered from the result) pushes the watermark
past every real window — the test-suite staging trick promoted into
the queries themselves.
"""

from __future__ import annotations

import os
import tempfile
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize
from ..operators import similarity as S
from ..operators.dedup import band_keys, with_shingles
from ..sources.batch import fan_out, load_table
from ..streaming.runner import (
    pinned_shuffle,
    read_back,
    run_available_now,
    run_foreach_batch,
    shuffle_for_volume,
    staged_batch_rows,
    staged_files_dir,
)
from ..streaming.stateful import delta_correct
from ..streaming.windows import EVENTS_RAW, stream_events, streaming_tumble
from .datapipe import _COS6, _SHINGLES
from .quantstats import _HH_K, _HH_ORACLE
from .registry import register


def _dirs() -> tuple[str, str, str]:
    """Fresh (in, out, checkpoint) dirs per invocation — checkpoint
    reuse across runs with re-staged input would resume offsets into
    different files and corrupt results."""
    base = tempfile.mkdtemp(prefix="rdw_streamq_")
    return (
        os.path.join(base, "in"),
        os.path.join(base, "out"),
        os.path.join(base, "ck"),
    )


_STAGE_CACHE: dict[tuple[str, str], object] = {}


def _stage_once(sf_dir: str, name: str, build):
    """Stage a replay input once per (sf_dir, input-descriptor) per
    process. Every stream_* query rewrites its source into a
    file-stream dir (often plus a collect()ed max-event-time for the
    watermark sentinel); that staging is O(input) and byte-identical
    across invocations — the driver gate, the parity suite, and bench
    all re-run the same queries — so `build(base_dir)` runs only on
    the first call and its return value (input dir(s), sentinel
    metadata) is reused afterwards. Only INPUTS are cached: out/
    checkpoint/result dirs stay per-invocation (checkpoint reuse
    against restaged files would resume offsets into different files
    and corrupt results)."""
    key = (os.path.abspath(sf_dir), name)
    if key not in _STAGE_CACHE:
        base = tempfile.mkdtemp(prefix=f"rdw_stage_{name}_")
        _STAGE_CACHE[key] = build(base)
    return _STAGE_CACHE[key]


_RESIDENT_KEYS_CACHE: dict[tuple[str, str], int] = {}

_STORE_CONF = (
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
)


from contextlib import contextmanager  # noqa: E402


@contextmanager
def _auto_store(spark: SparkSession, sf_dir: str, name: str,
                in_dir: str, key_cols):
    """State-store provider derived from the replay input, per drain
    (VERDICT r9 item 3 — the reference hand-picks its backend,
    BaseApp.java:28; ours picks from data): one HLL estimate of the
    staged input's distinct keys (memoized per (sf_dir, entry) — the
    staging is already cached, so repeat invocations pay nothing),
    then session.auto_state_store selects in-memory below the
    measured crossover and RocksDB at/above 0.8× of it. The provider
    conf is restored on exit so one entry's choice never leaks into
    the next drain.

    An EXPLICITLY configured session provider wins: when
    providerClass is already set (bench's RocksDB A/B columns, the
    scaling sweep's hand flags), auto defers — auto is the default
    for unconfigured sessions, not an override of a deliberate
    choice."""
    from ..session import auto_state_store, estimate_resident_keys  # noqa: PLC0415

    if spark.conf.get(_STORE_CONF[0], None) is not None:
        yield None  # explicit choice respected
        return
    ck = (os.path.abspath(sf_dir), name)
    if ck not in _RESIDENT_KEYS_CACHE:
        _RESIDENT_KEYS_CACHE[ck] = estimate_resident_keys(
            spark.read.parquet(in_dir), key_cols)
    prev = {k: spark.conf.get(k, None) for k in _STORE_CONF}
    chosen = auto_state_store(spark, _RESIDENT_KEYS_CACHE[ck])
    try:
        yield chosen
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _stage_events_sentinel(spark: SparkSession, sf_dir: str) -> str:
    """Shared staging for the raw-events replay: events + a far-future
    sentinel row (filtered from results) that pushes the final
    watermark past every real window. Used by every stream that
    windows the events table."""
    def build(base: str) -> str:
        in_dir = os.path.join(base, "in")
        # load_table normalizes either historical ts layout (nanos/us)
        raw = load_table(spark, sf_dir, "events")
        max_ts = raw.agg(F.max("ts")).collect()[0][0]
        sentinel = spark.createDataFrame(
            [(10**9, max_ts + timedelta(days=40), 10**9, "sentinel", 0.0, "{}")],
            EVENTS_RAW,
        )
        raw.write.mode("overwrite").parquet(in_dir)
        sentinel.coalesce(1).write.mode("append").parquet(in_dir)
        return in_dir

    return _stage_once(sf_dir, "events_sentinel", build)


# ---------------------------------------------------------------------------
# A2/A5 streaming twin — keyed tumbling window over the event stream
# ---------------------------------------------------------------------------

@register(
    "stream_traffic_page_view_window",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')              AS stt,
           strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
           strftime(date_trunc('hour', ts), '%Y-%m-%d')                        AS cur_date,
           event_type,
           count(*)                                                            AS pv,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)                   AS value_sum
    FROM events
    GROUP BY 1, 2, 3, 4
    """,
)
def stream_traffic_page_view_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwsTrafficVcChArIsNewPageViewWindow's shape (A2: keyed tumble,
    DwsTrafficVcChArIsNewPageViewWindow.java:70-106) executed as a
    genuine stream: watermarked hourly tumble over the replayed event
    feed, append-mode parquet sink, result read back after the drain.
    pv/value_sum only — exact distinct (uv) is not expressible inside
    a streaming agg (HLL twin lives in streaming_page_view_window and
    its parity test); this registry entry keeps the hash-exact subset.
    """
    _, out, ck = _dirs()
    in_dir = _stage_events_sentinel(spark, sf_dir)

    events = stream_events(spark, in_dir, watermark="1 hour")
    windowed = streaming_tumble(
        events, "ts", "1 hour", keys=["event_type"],
        aggs={
            "pv": F.count(F.lit(1)),
            "value_sum": F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
        },
    ).select("stt", "edt", "cur_date", "event_type", "pv", "value_sum")
    run_available_now(windowed, out, ck)
    return read_back(spark, out).filter(F.col("event_type") != "sentinel")


# ---------------------------------------------------------------------------
# A1+J5 streaming twin — per-sku window agg + post-agg dim enrichment
# ---------------------------------------------------------------------------

@register(
    "stream_sku_order_window",
    oracle="""
    SELECT strftime(date_trunc('day', l.l_shipdate), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(date_trunc('day', l.l_shipdate) + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
           strftime(date_trunc('day', l.l_shipdate), '%Y-%m-%d')          AS cur_date,
           l.l_partkey                                                    AS sku_id,
           p.p_name                                                       AS sku_name,
           p.p_brand                                                      AS trademark,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l.l_discount AS DECIMAL(3,2))) AS DOUBLE)  AS order_amount,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT)              AS sku_num
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2, 3, 4, 5, 6
    """,
)
def stream_sku_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwsTradeSkuOrderWindow (A1 keyed tumble + J5 dim enrichment,
    DwsTradeSkuOrderWindow.java:124-156, dim chain :72-122) run as a
    stream: watermarked per-sku daily tumble over replayed lineitem,
    then the part dim joined broadcast-static onto the *aggregates*
    after read-back — same cardinality trick as the batch twin
    (enrich per-window rows, not raw facts). Same oracle as
    dws_sku_order_window: stream ≡ batch ≡ SQL."""
    _, out, ck = _dirs()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"
    )

    def build(base: str) -> str:
        in_dir = os.path.join(base, "in")
        max_ship = li.agg(F.max("l_shipdate")).collect()[0][0]
        li.write.mode("overwrite").parquet(in_dir)
        sentinel = spark.createDataFrame(
            [(-1, 0.0, 0.0, 0.0, max_ship)], li.schema
        ).withColumn("l_shipdate", F.col("l_shipdate") + F.expr("INTERVAL 40 DAYS"))
        sentinel.coalesce(1).write.mode("append").parquet(in_dir)
        return in_dir

    in_dir = _stage_once(sf_dir, "li_sku_sentinel", build)

    # parquet TIMESTAMP_NTZ → TIMESTAMP (LTZ): watermarks only accept
    # instant-typed event time; the session pins UTC so the wall time
    # (and the stt/edt strings) are unchanged.
    sli = (
        spark.readStream.schema(li.schema).parquet(in_dir)
        .withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
        .withWatermark("l_shipdate", "1 hour")
    )
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
    agg = streaming_tumble(
        sli.withColumn("amount", price * disc), "l_shipdate", "1 day",
        keys=["l_partkey"],
        aggs={
            "order_amount": F.sum("amount").cast("double"),
            "sku_num": F.sum(F.col("l_quantity").cast("long")),
        },
    )
    run_available_now(agg, out, ck)
    part = load_table(spark, sf_dir, "part")
    return (
        read_back(spark, out)
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "inner")
        .select(
            "stt", "edt", "cur_date",
            F.col("l_partkey").alias("sku_id"),
            F.col("p_name").alias("sku_name"),
            F.col("p_brand").alias("trademark"),
            "order_amount", "sku_num",
        )
    )


# ---------------------------------------------------------------------------
# A6 streaming twin — upsert-stream delta correction, state across
# micro-batch boundaries
# ---------------------------------------------------------------------------

@register(
    "stream_a6_delta_sum",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(SUM(CASE WHEN o_orderkey % 20 = 0
                         THEN CAST(o_totalprice AS DECIMAL(14,2)) + 100
                         ELSE CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE)
               AS sum_amount
    FROM orders GROUP BY 1
    """,
)
def stream_a6_delta_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 "度量值修正" (DwsTradeSkuOrderWindow.java:158-201) executed
    with real keyed state: an upsert changelog (v1 for every order, v2
    with amount+100 for keys % 20 == 0) is replayed as TWO micro-
    batches split by version, so the applyInPandasWithState operator
    must carry per-key last-image state across the batch boundary.
    Summing the emitted deltas reproduces the latest image per key —
    the oracle aggregates that latest image directly. Deltas are cast
    back to DECIMAL(14,2) before the final sum so the comparison is
    exact, not float-accumulation-ordered."""
    _, out, ck = _dirs()
    orders = load_table(spark, sf_dir, "orders")
    amount = F.col("o_totalprice").cast("decimal(14,2)")
    base = orders.select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.lit(1).cast("long").alias("version"),
        amount.cast("double").alias("amount"),
    )
    v2 = orders.filter(F.col("o_orderkey") % 20 == 0).select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.lit(2).cast("long").alias("version"),
        (amount + 100).cast("double").alias("amount"),
    )
    in_dir = _stage_once(
        sf_dir, "a6_upsert",
        lambda staged: staged_files_dir(
            base.unionByName(v2), staged, n_files=2, order_col="version"
        ),
    )
    sdf = (
        spark.readStream.schema("id string, version long, amount double")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    # provider picked from the staged input's resident keys (r10):
    # in-memory below the measured crossover, RocksDB above
    with _auto_store(spark, sf_dir, "a6_upsert", in_dir, "id"):
        run_available_now(
            delta_correct(sdf, "id", "version", ["amount"]), out, ck)
    deltas = read_back(spark, out)
    dim = orders.select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.col("o_orderstatus").alias("status"),
    )
    return (
        deltas.join(F.broadcast(dim), "id")
        .groupBy("status")
        .agg(
            F.sum(F.col("amount").cast("decimal(14,2)")).cast("double")
            .alias("sum_amount")
        )
    )


# ---------------------------------------------------------------------------
# J2 streaming twin — stream-stream interval join with cross-batch state
# ---------------------------------------------------------------------------

@register(
    "stream_interval_join_pay_detail",
    oracle="""
    SELECT o.o_orderkey                          AS order_id,
           l.l_orderkey * 100 + l.l_linenumber   AS detail_id,
           CAST(l.l_extendedprice AS DECIMAL(12,2)) AS amount,
           strftime(o.o_orderdate, '%Y-%m-%d')   AS pay_date,
           strftime(l.l_shipdate, '%Y-%m-%d')    AS ship_date
    FROM orders o
    JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
    """,
)
def stream_interval_join_pay_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwdTradeOrderPaySucDetail's interval join (J2,
    DwdTradeOrderPaySucDetail.java:123-148) as a REAL stream-stream
    join: both sides watermarked, range predicate in the join
    condition, detail side replayed as two ship-date-ordered micro-
    batches so orders buffered in join state during batch 1 must still
    match details arriving in batch 2. Join-state GC is driven by the
    range bound (the reference's idle-state TTL analogue): an order
    row is droppable only once the detail watermark passes
    pay_ts + 30 days, and the 1-hour watermark delay keeps boundary
    rows alive across the split. Inner joins emit eagerly, so no
    sentinel is needed. Same oracle as the batch twin
    dwd_trade_pay_suc_interval: stream ≡ batch ≡ SQL."""
    from ..streaming.joins import interval_join as s_interval_join

    rundir = tempfile.mkdtemp(prefix="rdw_streamq_j2_")
    out, ck = os.path.join(rundir, "out"), os.path.join(rundir, "ck")

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderdate").cast("timestamp").alias("pay_ts"),
    )
    detail = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("d_order_id"),
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("detail_id"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("amount"),
        F.col("l_shipdate").cast("timestamp").alias("ship_ts"),
    )

    def build(base: str) -> tuple[str, str]:
        pay_dir = os.path.join(base, "pay")
        orders.write.mode("overwrite").parquet(pay_dir)
        return pay_dir, staged_files_dir(detail, base, n_files=2,
                                         order_col="ship_ts")

    pay_dir, detail_dir = _stage_once(sf_dir, "j2_pay_detail", build)

    s_pay = (
        spark.readStream.schema(orders.schema).parquet(pay_dir)
        .withWatermark("pay_ts", "1 hour")
    )
    s_detail = (
        spark.readStream.schema(detail.schema)
        .option("maxFilesPerTrigger", "1").parquet(detail_dir)
        .withWatermark("ship_ts", "1 hour")
    )
    joined = s_interval_join(
        s_pay, s_detail,
        equi=F.col("order_id") == F.col("d_order_id"),
        left_ts="pay_ts", right_ts="ship_ts",
        lower="0 seconds", upper="30 days",
    )
    # stream-stream join drains are state-store-commit bound at replay
    # batch sizes (cost ∝ partitions, measured — see pinned_shuffle);
    # pin derived from per-batch volume: pay arrives whole in batch 1,
    # detail one staged file per batch
    rows_per_batch = max(staged_batch_rows(pay_dir, one_file_per_batch=False),
                         staged_batch_rows(detail_dir))
    with pinned_shuffle(spark, shuffle_for_volume(rows_per_batch)):
        run_available_now(joined, out, ck)
    return read_back(spark, out).select(
        "order_id", "detail_id",
        F.col("amount").cast("double").alias("amount"),
        F.date_format("pay_ts", "yyyy-MM-dd").alias("pay_date"),
        F.date_format("ship_ts", "yyyy-MM-dd").alias("ship_date"),
    )


# ---------------------------------------------------------------------------
# Session-window streaming twin — watermark-closed sessions
# ---------------------------------------------------------------------------

@register(
    "stream_sessionize_user_events",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 2 HOUR
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
        SELECT *, SUM(new_s) OVER (
            PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
        ) AS sid
        FROM ordered
    )
    SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S')                    AS session_start,
           strftime(max(ts) + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S')  AS session_end,
           user_id,
           count(*)                                                  AS events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)         AS value_sum
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_sessionize_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 2-hour-gap session windows executed as a stream
    (F.session_window over a watermarked source): open sessions hold
    one partial aggregate each and close — and emit, append mode —
    when the watermark passes last-event + gap. Session state here is
    genuinely merged across rows arriving out of order within the
    watermark. Same gaps-and-islands oracle as the batch twin
    sessionize_user_events: stream ≡ batch ≡ SQL."""
    from ..streaming.windows import streaming_session

    _, out, ck = _dirs()
    in_dir = _stage_events_sentinel(spark, sf_dir)

    events = stream_events(spark, in_dir, watermark="1 hour")
    sess = streaming_session(
        events, "ts", "2 hours", keys=["user_id"],
        aggs={
            "events": F.count(F.lit(1)),
            "value_sum": F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
        },
    )
    with _auto_store(spark, sf_dir, "events_sentinel", in_dir, "user_id"):
        run_available_now(sess, out, ck)
    return read_back(spark, out).filter(F.col("user_id") != 10**9)


# ---------------------------------------------------------------------------
# A7 streaming twin — daily-UV dedup with per-key date state
# ---------------------------------------------------------------------------

@register(
    "stream_daily_uv_window",
    oracle="""
    WITH daily AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS dt FROM events
    ), firsts AS (
        SELECT user_id, min(dt) AS first_dt FROM daily GROUP BY 1
    )
    SELECT strftime(d.dt, '%Y-%m-%d') AS cur_date,
           count(*)                   AS uu_ct,
           count(CASE WHEN f.first_dt = d.dt THEN 1 END) AS new_ct
    FROM daily d JOIN firsts f USING (user_id)
    GROUP BY 1
    """,
)
def stream_daily_uv_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 daily-UV dedup (keyed last-seen-date ValueState,
    DwsTrafficHomeDetailPageViewWindow.java:83-135; new-user flag as
    in DwsUserUserLoginWindow.java:83-126) with REAL per-key state:
    events replay as three time-ordered micro-batches, so a user's
    seen-dates state must persist across batches for repeat days to be
    swallowed and the first-ever flag to fire exactly once. Daily
    unique users and new users per day, read back and aggregated;
    oracle = distinct-(user, day) + min-day in SQL."""
    from ..streaming.stateful import daily_first_event_stream

    rundir = tempfile.mkdtemp(prefix="rdw_streamq_a7_")
    out, ck = os.path.join(rundir, "out"), os.path.join(rundir, "ck")
    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_id"),
        F.unix_timestamp("ts").cast("long").alias("ts"),
    )
    in_dir = _stage_once(
        sf_dir, "a7_events_ts",
        lambda base: staged_files_dir(events, base, n_files=3, order_col="ts"),
    )
    sdf = (
        spark.readStream.schema("user_id string, ts long")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    with _auto_store(spark, sf_dir, "a7_events_ts", in_dir, "user_id"):
        run_available_now(
            daily_first_event_stream(sdf, "user_id", "ts"), out, ck)
    emitted = read_back(spark, out)
    return emitted.groupBy("dt").agg(
        F.count(F.lit(1)).alias("uu_ct"),
        F.sum("is_first_ever").alias("new_ct"),
    ).select(F.col("dt").alias("cur_date"), "uu_ct", "new_ct")


# ---------------------------------------------------------------------------
# P8 streaming twin — one-pass multi-output split (side outputs)
# ---------------------------------------------------------------------------

@register(
    "stream_log_split",
    oracle="""
    SELECT 'err' AS route, count(*) AS cnt FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT 'start', count(*) FROM events WHERE event_type = 'signup'
    UNION ALL
    SELECT 'page', count(*) FROM events WHERE event_type NOT IN ('error', 'signup')
    UNION ALL
    SELECT 'display', CAST(COALESCE(SUM(CAST(regexp_extract(props, '[0-9]+') AS INT) % 3), 0) AS BIGINT)
    FROM events WHERE event_type = 'view'
    UNION ALL
    SELECT 'action', count(*) FROM events WHERE event_type = 'click'
    """,
)
def stream_log_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwdBaseLog's side-output split (P8, DwdBaseLog.java:82-135)
    executed as a stream: raw JSON values replay as two micro-batches;
    each batch is parsed once, persisted, and fanned to five real
    parquet outputs (err/start/page + exploded display/action) inside
    one foreachBatch — Flink's one-pass side-output property, with
    append-mode writes accumulating across batches. The returned route
    cardinalities come from the five MATERIALIZED outputs, so the
    oracle check covers the parse, the routing predicates, the array
    explode, and the multi-batch append — not just an aggregate."""
    from ..operators.etl import parse_json_stream, split_log_stream
    from ..schemas import TOPIC_LOG
    from ..sources.batch import fan_out
    from ..streaming.runner import run_foreach_batch
    from .dwd import synthesize_log_json

    rundir = tempfile.mkdtemp(prefix="rdw_streamq_p8_")
    out_base, ck = os.path.join(rundir, "out"), os.path.join(rundir, "ck")
    events = fan_out(load_table(spark, sf_dir, "events"))
    in_dir = _stage_once(
        sf_dir, "p8_log_json",
        lambda base: staged_files_dir(synthesize_log_json(events), base,
                                      n_files=2),
    )
    sdf = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    parsed = parse_json_stream(sdf, TOPIC_LOG)

    def fan_batch(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            for name, route_df in split_log_stream(batch).items():
                route_df.write.mode("append").parquet(os.path.join(out_base, name))
        finally:
            batch.unpersist()

    run_foreach_batch(parsed, fan_batch, ck, output_mode="append")
    counts = [
        (
            route,
            spark.read.parquet(os.path.join(out_base, route)).count()
            # a route empty in EVERY batch never creates its dir
            if os.path.isdir(os.path.join(out_base, route)) else 0,
        )
        for route in ("err", "start", "page", "display", "action")
    ]
    return spark.createDataFrame(counts, "route string, cnt long")


# ---------------------------------------------------------------------------
# Streaming-ingest curation twins — the training-data operators run
# the way an incremental 100 TB ingest runs them: as streams.
# ---------------------------------------------------------------------------

@register(
    "stream_dedup_exact_keep_first",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           CAST(min(doc_id) AS BIGINT) AS doc_id
    FROM documents GROUP BY 1
    """,
)
def stream_dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as STREAMING INGEST: documents replayed as four
    micro-batches; each batch MERGEs into the survivor table keyed on
    the normalized-text fingerprint, ordered so the smallest doc_id
    wins ("first occurrence") regardless of how the stream is split
    into batches. This is the incremental form of dedup_exact_stats —
    a new day's crawl lands as a batch and only the keeper set
    changes; the oracle is the global min-per-fingerprint the batch
    engine computes in one shot."""
    from ..operators.text import fingerprint
    from ..streaming.sinks import upsert_batch

    _, out, ck = _dirs()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("fp"),
        (-F.col("doc_id")).alias("neg_id"),
    )
    in_dir = _stage_once(
        sf_dir, "dedup_fp",
        lambda base: staged_files_dir(docs, base, n_files=4,
                                      order_col="doc_id"),
    )
    sdf = (
        spark.readStream.schema("doc_id long, fp string, neg_id long")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    run_foreach_batch(sdf, upsert_batch(out, ["fp"], "neg_id"), ck)
    return read_back(spark, out).select("fp", "doc_id")


@register(
    "stream_quality_filter",
    tier="variant",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               t -> t <> '')) AS n_tokens,
               len(list_filter(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                           t -> t <> ''),
                   t -> list_contains(['the','a','of','and','to','in','is'], t)))
                   / len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                     t -> t <> '')) AS stop_ratio
        FROM documents
    )
    SELECT doc_id, lang, n_tokens, round(stop_ratio, 6) AS stop_ratio
    FROM scored
    WHERE n_tokens BETWEEN 20 AND 500 AND stop_ratio >= 0.01
    """,
)
def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text quality gate as stateless streaming ETL (T3: no
    watermark needed — pure per-record scoring): token-band +
    stopword-ratio filter applied inside the stream, append sink,
    read back. Same oracle as the batch twin text_quality_filter —
    stream ≡ batch ≡ SQL for the curation ingest path."""
    from ..operators.text import stopword_ratio, ws_token_count

    _, out, ck = _dirs()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    in_dir = _stage_once(
        sf_dir, "docs_quality",
        lambda base: staged_files_dir(docs, base, n_files=2,
                                      order_col="doc_id"),
    )
    sdf = spark.readStream.schema("doc_id long, lang string, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(in_dir)
    scored = sdf.select(
        "doc_id", "lang",
        ws_token_count("text").alias("n_tokens"),
        stopword_ratio("text").alias("stop_ratio_raw"),
    ).filter(
        (F.col("n_tokens").between(20, 500)) & (F.col("stop_ratio_raw") >= 0.01)
    ).select(
        "doc_id", "lang", "n_tokens",
        F.round("stop_ratio_raw", 6).alias("stop_ratio"),
    )
    run_available_now(scored, out, ck)
    return read_back(spark, out)


@register(
    "stream_pack_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           t -> t <> '') AS t
        FROM documents
    ),
    starts AS (
        SELECT doc_id, lang, t,
               unnest(range(1, len(t) + 1, 40)) AS start,
               generate_subscripts(range(1, len(t) + 1, 40), 1) - 1 AS chunk_idx
        FROM toks WHERE len(t) > 0
    ),
    chunks AS (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 4 AS shard,
               chunk_idx, len(t[start : start + 49]) AS n_tokens
        FROM starts
    ),
    packed AS (
        SELECT lang, shard, doc_id, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang, shard ORDER BY doc_id, chunk_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS st
        FROM chunks
    )
    SELECT lang, CAST(shard AS INTEGER) AS shard,
           CAST(st // 256 AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM packed GROUP BY 1, 2, 3
    """,
)
def stream_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing as a keyed stateful STREAM: chunked documents
    replayed as three micro-batches in doc order; one running
    token-offset ValueState per (lang, shard) group continues packs
    across batch boundaries (streaming/stateful.pack_stream). Same
    oracle as the batch twin pack_sequences_by_lang — the
    stream ≡ batch ≡ SQL guarantee for a custom stateful operator
    Spark's declarative surface can't express."""
    from ..operators.curation import pack_sequences  # noqa: F401  (batch twin)
    from ..operators.text import chunk_tokens, hash_bucket
    from ..streaming.stateful import pack_stream

    _, out, ck = _dirs()
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_tokens(
        docs.select("doc_id", "lang", "text"), passthrough=["lang"]
    ).withColumn("shard", hash_bucket("doc_id", 4).cast("int")).select(
        "lang", "shard", "doc_id", "chunk_idx", "n_tokens"
    )
    in_dir = _stage_once(
        sf_dir, "pack_chunks",
        lambda base: staged_files_dir(chunks, base, n_files=3,
                                      order_col="doc_id"),
    )
    sdf = spark.readStream.schema(
        "lang string, shard int, doc_id long, chunk_idx int, n_tokens int"
    ).option("maxFilesPerTrigger", "1").parquet(in_dir)
    packed = pack_stream(sdf, group_cols=("lang", "shard"))
    with _auto_store(spark, sf_dir, "pack_chunks", in_dir,
                     ["lang", "shard"]):
        run_available_now(packed, out, ck)
    return read_back(spark, out).groupBy("lang", "shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Continuous-aggregate maintenance — streaming twin of
# extras.incremental_agg_refresh via the additive-merge sink
# ---------------------------------------------------------------------------

@register(
    "stream_incremental_agg_refresh",
    oracle="""
    SELECT strftime(date_trunc('day', l_shipdate), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(date_trunc('day', l_shipdate) + INTERVAL 1 DAY,
                    '%Y-%m-%d %H:%M:%S')                                AS edt,
           strftime(date_trunc('day', l_shipdate), '%Y-%m-%d')          AS cur_date,
           l_partkey                                                    AS sku_id,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(3,2))) AS DOUBLE)  AS order_amount,
           CAST(count(*) AS BIGINT)                                     AS order_ct
    FROM lineitem GROUP BY 1, 2, 3, 4
    """,
)
def stream_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance as a REAL stream: lineitem
    replays as three ship-date-ordered micro-batches; each batch
    reduces to per-(day, sku) DECIMAL partials and the additive-merge
    sink (streaming/sinks.additive_merge_batch, with its
    applied-batch-id exactly-once ledger) folds them into the stored
    aggregate table. After the drain the stored table must equal a
    one-pass aggregate over the unsplit facts — the same oracle as
    the batch twin incremental_agg_refresh, proving the maintenance
    loop is lossless across batch boundaries."""
    from ..operators.agg import tumble
    from ..streaming.sinks import additive_merge_batch

    rundir = tempfile.mkdtemp(prefix="rdw_streamq_incr_")
    table_dir = os.path.join(rundir, "agg")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    in_dir = _stage_once(
        sf_dir, "incr_lineitem",
        lambda base: staged_files_dir(li, base, n_files=3,
                                      order_col="l_shipdate"),
    )

    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")

    def day_partials(batch: DataFrame) -> DataFrame:
        return tumble(
            batch.withColumn("amount", price * disc), "l_shipdate", "1 day",
            keys=["l_partkey"],
            aggs={
                "amount_dec": F.sum("amount"),
                "order_ct": F.count(F.lit(1)),
            },
        )

    sdf = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    )
    run_foreach_batch(
        sdf,
        additive_merge_batch(
            table_dir,
            keys=["stt", "edt", "cur_date", "l_partkey"],
            sum_cols=["amount_dec", "order_ct"],
            prepare=day_partials,
        ),
        checkpoint_dir=os.path.join(rundir, "ck"),
        output_mode="append",
    )
    stored = spark.read.parquet(table_dir)
    return stored.select(
        "stt", "edt", "cur_date",
        F.col("l_partkey").alias("sku_id"),
        F.col("amount_dec").cast("double").alias("order_amount"),
        "order_ct",
    )


# ---------------------------------------------------------------------------
# J1 left-outer streaming twin — watermark-driven null emission
# ---------------------------------------------------------------------------

@register(
    "stream_left_interval_join",
    oracle="""
    SELECT o.o_orderkey                        AS order_id,
           l.l_orderkey * 100 + l.l_linenumber AS detail_id,
           strftime(o.o_orderdate, '%Y-%m-%d') AS pay_date,
           CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END AS unmatched
    FROM orders o
    LEFT JOIN (SELECT * FROM lineitem WHERE l_orderkey % 4 = 0) l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
    """,
)
def stream_left_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1's LEFT join as a REAL stream-stream join — the semantics
    gap SURVEY §7.4.2 documents, exercised end to end: Spark emits a
    left row's null match only once the watermark PROVES no right row
    can still arrive (pay_ts + interval passed on both inputs), where
    Flink emits eagerly and retracts. Details are punctured to every
    4th order so ~3/4 of orders must surface as watermark-driven null
    rows; far-future sentinels on BOTH inputs advance the min-policy
    watermark past every real order so availableNow's final no-data
    batch flushes the unmatched state. Same relational answer as a
    batch LEFT JOIN — stream ≡ batch ≡ SQL including the NULLs."""
    from ..streaming.joins import interval_join as s_interval_join

    rundir = tempfile.mkdtemp(prefix="rdw_streamq_lj_")
    out, ck = os.path.join(rundir, "out"), os.path.join(rundir, "ck")

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderdate").cast("timestamp").alias("pay_ts"),
    )
    detail = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 4 == 0
    ).select(
        F.col("l_orderkey").alias("d_order_id"),
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("detail_id"),
        F.col("l_shipdate").cast("timestamp").alias("ship_ts"),
    )

    def build(base: str) -> tuple[str, str]:
        pay_dir = os.path.join(base, "pay")
        max_pay = orders.agg(F.max("pay_ts")).collect()[0][0]
        far = max_pay + timedelta(days=400)
        orders.write.mode("overwrite").parquet(pay_dir)
        spark.createDataFrame([(-1, far)], orders.schema).coalesce(1).write.mode(
            "append"
        ).parquet(pay_dir)
        detail_dir = staged_files_dir(detail, base, n_files=2,
                                      order_col="ship_ts")
        spark.createDataFrame([(-2, -2, far)], detail.schema).coalesce(
            1
        ).write.mode("append").parquet(detail_dir)
        return pay_dir, detail_dir

    pay_dir, detail_dir = _stage_once(sf_dir, "lj_pay_detail", build)

    s_pay = (
        spark.readStream.schema(orders.schema).parquet(pay_dir)
        .withWatermark("pay_ts", "1 hour")
    )
    s_detail = (
        spark.readStream.schema(detail.schema)
        .option("maxFilesPerTrigger", "1").parquet(detail_dir)
        .withWatermark("ship_ts", "1 hour")
    )
    joined = s_interval_join(
        s_pay, s_detail,
        equi=F.col("order_id") == F.col("d_order_id"),
        left_ts="pay_ts", right_ts="ship_ts",
        lower="0 seconds", upper="30 days", how="left",
    )
    # same commit-bound drain as the inner form — see pinned_shuffle;
    # pin derived from per-batch volume, same rule as the inner form
    rows_per_batch = max(staged_batch_rows(pay_dir, one_file_per_batch=False),
                         staged_batch_rows(detail_dir))
    with pinned_shuffle(spark, shuffle_for_volume(rows_per_batch)):
        run_available_now(joined, out, ck)
    return read_back(spark, out).filter(F.col("order_id") != -1).select(
        "order_id", "detail_id",
        F.date_format("pay_ts", "yyyy-MM-dd").alias("pay_date"),
        F.when(F.col("detail_id").isNull(), 1).otherwise(0).alias("unmatched"),
    )


# ---------------------------------------------------------------------------
# Continuous gap filling — streaming LOCF, same oracle as the batch twin
# ---------------------------------------------------------------------------

@register(
    "stream_gapfill_hourly",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               SUM(CAST(value AS DECIMAL(18,2))) AS value_sum,
               count(*) AS n
        FROM events WHERE value > 90 GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
        FROM hourly GROUP BY 1
    ),
    cal AS (
        SELECT b.event_type, unnest(generate_series(b.b0, b.b1, INTERVAL 1 HOUR)) AS bucket
        FROM bounds b
    ),
    joined AS (
        SELECT c.event_type, c.bucket,
               CASE WHEN h.value_sum IS NULL THEN 1 ELSE 0 END AS is_gapfilled,
               last_value(h.value_sum IGNORE NULLS) OVER (
                   PARTITION BY c.event_type ORDER BY c.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_sum,
               last_value(h.n IGNORE NULLS) OVER (
                   PARTITION BY c.event_type ORDER BY c.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS n
        FROM cal c LEFT JOIN hourly h USING (event_type, bucket)
    )
    SELECT event_type,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           is_gapfilled,
           CAST(value_sum AS DOUBLE) AS value_sum,
           CAST(n AS BIGINT) AS n
    FROM joined
    """,
)
def stream_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous gap filling (streaming/stateful.gapfill_locf_stream):
    the sparse hourly rollup replays as three bucket-ordered micro-
    batches, and per-key state (last bucket + last values) emits the
    missing buckets with carried-forward values — gaps SPANNING batch
    boundaries are filled from state, which a batch gapfill never
    exercises. Values ride as doubles (LOCF copies, never computes),
    so the result hash-matches the same oracle as the batch twin
    gapfill_hourly_values: stream ≡ batch ≡ SQL."""
    from ..streaming.stateful import gapfill_locf_stream

    rundir = tempfile.mkdtemp(prefix="rdw_streamq_gf_")
    out, ck = os.path.join(rundir, "out"), os.path.join(rundir, "ck")
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.filter(F.col("value") > 90)
        .groupBy(
            F.col("event_type"),
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("bucket"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            .alias("value_sum"),
            F.count(F.lit(1)).cast("double").alias("n"),
        )
    )
    in_dir = _stage_once(
        sf_dir, "gapfill_hourly",
        lambda base: staged_files_dir(hourly, base, n_files=3,
                                      order_col="bucket"),
    )
    sdf = (
        spark.readStream
        .schema("event_type string, bucket long, value_sum double, n double")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    filled = gapfill_locf_stream(sdf, "event_type", "bucket",
                                 ["value_sum", "n"], step_seconds=3600)
    with _auto_store(spark, sf_dir, "gapfill_hourly", in_dir, "event_type"):
        run_available_now(filled, out, ck)
    return read_back(spark, out).select(
        "event_type",
        F.date_format(F.timestamp_seconds("bucket"), "yyyy-MM-dd HH:mm:ss")
        .alias("bucket"),
        "is_gapfilled",
        "value_sum",
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# SCD2 history maintained incrementally by a streaming MERGE
# ---------------------------------------------------------------------------

@register(
    "stream_scd2_dim_history",
    oracle="""
    WITH chg AS (
        SELECT p_partkey, p_size, 0 AS ts, 'bootstrap-insert' AS typ FROM part
        UNION ALL
        SELECT p_partkey, p_size * 2, 1, 'update'
        FROM part WHERE p_partkey % 10000 < 500
        UNION ALL
        SELECT p_partkey, NULL, 2, 'delete'
        FROM part WHERE p_partkey % 1000 = 7
    ), v AS (
        SELECT p_partkey, p_size, ts, typ,
               lead(ts) OVER (PARTITION BY p_partkey ORDER BY ts) AS valid_to
        FROM chg
    )
    SELECT p_partkey, p_size, ts AS valid_from, valid_to,
           (valid_to IS NULL) AS is_current
    FROM v WHERE typ <> 'delete'
    """,
)
def stream_scd2_dim_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 maintenance as a REAL stream: the CDC changelog replays as
    three ts-ordered micro-batches (bootstrap / updates / deletes) and
    streaming/sinks.scd2_merge_batch folds each into the stored
    version-history table — a bootstrap applied in batch 1 must get
    its valid_to closed by batch 2's update and the update's version
    closed by batch 3's delete, against on-disk state. Same oracle as
    the batch twin plans/analytics.scd2_dim_history: matching hashes
    prove one-shot window and incremental MERGE converge."""
    from ..sources.cdc import changelog
    from ..streaming.sinks import scd2_merge_batch

    part = load_table(spark, sf_dir, "part")
    chg = changelog(part, "sku_info", "p_partkey", None, "p_size",
                    with_deletes=True)
    rows = chg.select(
        F.col("data")["p_partkey"].cast("long").alias("p_partkey"),
        F.when(F.col("type") == "delete", F.lit(None).cast("int"))
         .otherwise(F.col("data")["p_size"].cast("int")).alias("p_size"),
        F.col("ts").cast("int").alias("valid_from"),
        F.col("type").alias("typ"),
    )
    in_dir = _stage_once(
        sf_dir, "scd2_changelog",
        lambda base: staged_files_dir(rows, base, n_files=3,
                                      order_col="valid_from"),
    )
    rundir = tempfile.mkdtemp(prefix="rdw_streamq_scd2_")
    table_dir = os.path.join(rundir, "history")
    sdf = (
        spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    run_foreach_batch(
        sdf,
        scd2_merge_batch(table_dir, "p_partkey"),
        checkpoint_dir=os.path.join(rundir, "ck"),
        output_mode="append",
    )
    stored = spark.read.parquet(table_dir)
    return (
        stored.filter(F.col("typ") != "delete")
        .select("p_partkey", "p_size", "valid_from", "valid_to",
                F.col("valid_to").isNull().alias("is_current"))
    )


# ---------------------------------------------------------------------------
# Ordered funnel driven through keyed streaming state
# ---------------------------------------------------------------------------

@register(
    "stream_funnel_conversion",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_type FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
    ), s1 AS (
        SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
                      OVER (PARTITION BY user_id) AS t1
        FROM e
    ), s2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
        FROM s1
    ), s3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                      OVER (PARTITION BY user_id) AS t3
        FROM s2
    ), u AS (
        SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
        FROM s3 GROUP BY user_id
    ), c AS (
        SELECT count(t1) AS u1, count(t2) AS u2, count(t3) AS u3 FROM u
    )
    SELECT 1 AS stage_idx, 'view' AS stage, u1 AS users,
           CAST(1.0 AS DOUBLE) AS conv_from_prev
    FROM c
    UNION ALL
    SELECT 2, 'click', u2,
           CAST(CAST(CASE WHEN u1 = 0 THEN 0
                          ELSE CAST(u2 AS DOUBLE) / CAST(u1 AS DOUBLE) END
                     AS DECIMAL(10,4)) AS DOUBLE)
    FROM c
    UNION ALL
    SELECT 3, 'purchase', u3,
           CAST(CAST(CASE WHEN u2 = 0 THEN 0
                          ELSE CAST(u3 AS DOUBLE) / CAST(u2 AS DOUBLE) END
                     AS DECIMAL(10,4)) AS DOUBLE)
    FROM c
    """,
)
def stream_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered funnel as a REAL keyed-state stream: events replay
    as three event-time-ordered micro-batches and
    streaming/stateful.funnel_stream advances each user's stage
    machine across batch boundaries — a view in batch 1 must pair
    with a click in batch 2 and a purchase in batch 3 through the
    state store, not within one batch. The reader keeps each user's
    max-seq snapshot and shapes the same 3-row stage table; same
    oracle as the batch twin funnel_conversion."""
    from ..operators.state import latest_per_key
    from ..streaming.stateful import funnel_stream

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "event_type")
    )
    in_dir = _stage_once(
        sf_dir, "funnel_events",
        lambda base: staged_files_dir(ev, base, n_files=3,
                                      order_col="ts_us"),
    )
    _, out, ck = _dirs()
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    snap = funnel_stream(sdf, "user_id", "ts_us", "event_type")
    with _auto_store(spark, sf_dir, "funnel_events", in_dir, "user_id"):
        run_available_now(snap, out, ck)
    final = latest_per_key(read_back(spark, out), ["user_id"], "seq")
    c = final.agg(F.count("t1").alias("u1"), F.count("t2").alias("u2"),
                  F.count("t3").alias("u3"))

    def rate(num, den):
        r = F.when(F.col(den) == 0, F.lit(0.0)).otherwise(
            F.col(num).cast("double") / F.col(den).cast("double"))
        return r.cast("decimal(10,4)").cast("double")

    def stage(idx, name, users, conv):
        return F.struct(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"),
            F.col(users).alias("users"), conv.alias("conv_from_prev"))

    return (
        c.select(F.explode(F.array(
            stage(1, "view", "u1", F.lit(1.0)),
            stage(2, "click", "u2", rate("u2", "u1")),
            stage(3, "purchase", "u3", rate("u3", "u2")),
        )).alias("s"))
        .select("s.*")
    )


# ---------------------------------------------------------------------------
# Streaming-maintained rollup + anomaly flags (real-time alerting shape)
# ---------------------------------------------------------------------------

@register(
    "stream_anomaly_zscore",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), stats AS (
        SELECT event_type, h, c,
               count(c) OVER w AS n,
               SUM(c)   OVER w AS s,
               SUM(c*c) OVER w AS ss
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, c AS cnt,
           CAST(CAST(
               (CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt((CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n - 1 AS DOUBLE))
               AS DECIMAL(12,4)) AS DOUBLE) AS zscore
    FROM stats
    WHERE n >= 12
      AND (CAST(ss AS DOUBLE)
           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) > 0
      AND abs((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              / sqrt((CAST(ss AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     / CAST(n - 1 AS DOUBLE))) >= 2.0
    """,
)
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time alerting shape: the hourly (event_type, hour) count
    rollup is maintained INCREMENTALLY by the exactly-once additive
    merge sink across three event-time-ordered micro-batches (counts
    re-aggregate losslessly), then the trailing-24h z-score alert
    query — plans/analytics.anomaly_zscore_hourly verbatim — runs on
    the stored aggregate. A deployment evaluates the alert on the
    continuously-maintained table instead of rescanning raw events
    each time; matching the batch twin's oracle proves the maintained
    rollup is indistinguishable from a one-shot aggregate."""
    from ..streaming.sinks import additive_merge_batch

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    in_dir = _stage_once(
        sf_dir, "anomaly_events",
        lambda base: staged_files_dir(ev, base, n_files=3, order_col="ts"),
    )
    rundir = tempfile.mkdtemp(prefix="rdw_streamq_anom_")
    table_dir = os.path.join(rundir, "hourly")

    def hourly_partials(batch: DataFrame) -> DataFrame:
        return batch.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        ).agg(F.count(F.lit(1)).alias("c"))

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    run_foreach_batch(
        sdf,
        additive_merge_batch(table_dir, keys=["event_type", "h"],
                             sum_cols=["c"], prepare=hourly_partials),
        checkpoint_dir=os.path.join(rundir, "ck"),
        output_mode="append",
    )
    from pyspark.sql import Window as W

    hourly = spark.read.parquet(table_dir)
    w = W.partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
    stats = hourly.select(
        "event_type", "h", "c",
        F.count("c").over(w).alias("n"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("ss"),
    )
    cd, nd = F.col("c").cast("double"), F.col("n").cast("double")
    sd, ssd = F.col("s").cast("double"), F.col("ss").cast("double")
    var_num = ssd - sd * sd / nd
    z = (cd - sd / nd) / F.sqrt(var_num / (F.col("n") - 1).cast("double"))
    return (
        stats.filter((F.col("n") >= 12) & (var_num > 0) & (F.abs(z) >= 2.0))
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("c").alias("cnt"),
            z.cast("decimal(12,4)").cast("double").alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# OHLC bars maintained as a streaming continuous aggregate
# ---------------------------------------------------------------------------

@register(
    "stream_ohlc_daily_bars",
    oracle="""
    WITH ranked AS (
        SELECT event_type, date_trunc('day', ts) AS day, value,
               row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts, event_id)      AS rn_open,
               row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_close
        FROM events
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(CAST(max(CASE WHEN rn_open = 1 THEN value END)
                AS DECIMAL(18,4)) AS DOUBLE)  AS open,
           CAST(CAST(max(value) AS DECIMAL(18,4)) AS DOUBLE) AS high,
           CAST(CAST(min(value) AS DECIMAL(18,4)) AS DOUBLE) AS low,
           CAST(CAST(max(CASE WHEN rn_close = 1 THEN value END)
                AS DECIMAL(18,4)) AS DOUBLE)  AS close,
           count(*) AS n_ticks
    FROM ranked GROUP BY event_type, day
    """,
)
def stream_ohlc_daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars as a streaming continuous aggregate: min/max over
    tie-broken (ts, event_id, value) structs are re-aggregable
    monoids, so the additive-merge sink (extended with merge_aggs)
    maintains open/close/high/low across micro-batches with NO
    retraction or ordered replay requirement — a bar whose day
    straddles batch boundaries merges correctly even if a later batch
    carries an earlier tick. Same oracle as the batch twin
    plans/analytics.ohlc_daily_bars."""
    from ..streaming.sinks import additive_merge_batch

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value")
    in_dir = _stage_once(
        sf_dir, "ohlc_events",
        lambda base: staged_files_dir(ev, base, n_files=3, order_col="ts"),
    )
    rundir = tempfile.mkdtemp(prefix="rdw_streamq_ohlc_")
    table_dir = os.path.join(rundir, "bars")

    def bar_partials(batch: DataFrame) -> DataFrame:
        return batch.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        ).agg(
            F.min(F.struct("ts", "event_id", "value")).alias("open_tick"),
            F.max(F.struct("ts", "event_id", "value")).alias("close_tick"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).alias("n_ticks"),
        )

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    run_foreach_batch(
        sdf,
        additive_merge_batch(
            table_dir, keys=["event_type", "day"], sum_cols=["n_ticks"],
            prepare=bar_partials,
            merge_aggs={"open_tick": F.min, "close_tick": F.max,
                        "high": F.max, "low": F.min},
        ),
        checkpoint_dir=os.path.join(rundir, "ck"),
        output_mode="append",
    )
    bars = spark.read.parquet(table_dir)
    dec4 = lambda c: c.cast("decimal(18,4)").cast("double")  # noqa: E731
    return bars.select(
        "event_type", F.date_format("day", "yyyy-MM-dd").alias("day"),
        dec4(F.col("open_tick")["value"]).alias("open"),
        dec4(F.col("high")).alias("high"),
        dec4(F.col("low")).alias("low"),
        dec4(F.col("close_tick")["value"]).alias("close"),
        "n_ticks",
    )


# ---------------------------------------------------------------------------
# Retention cohorts from a streaming-maintained distinct-activity table
# ---------------------------------------------------------------------------

@register(
    "stream_retention_cohorts",
    oracle="""
    WITH su AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), act AS (
        SELECT e.user_id, su.cohort,
               CAST(floor(date_diff('day', CAST(su.cohort AS DATE),
                                    CAST(e.ts AS DATE)) / 7.0) AS INT)
                   AS week_offset
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE e.ts >= su.cohort
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week, week_offset,
           count(DISTINCT user_id) AS active_users
    FROM act WHERE week_offset BETWEEN 0 AND 5
    GROUP BY cohort, week_offset
    """,
)
def stream_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention as a stream: COUNT(DISTINCT) is not additive, so the
    maintained object is the DISTINCT (cohort, offset, user) activity
    table — the upsert MERGE dedupes on the full key per micro-batch
    (idempotent under replay, no ledger needed), and the distinct
    count becomes a plain count at read time. Cohort assignment joins
    each batch against the static signup extraction (stream-static
    broadcast, reference J3 shape). Same oracle as the batch twin
    retention_cohorts."""
    from ..streaming.sinks import upsert_batch

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort"))
    )
    in_dir = _stage_once(
        sf_dir, "retention_events",
        lambda base: staged_files_dir(ev, base, n_files=3, order_col="ts"),
    )
    rundir = tempfile.mkdtemp(prefix="rdw_streamq_ret_")
    table_dir = os.path.join(rundir, "activity")

    base_sink = upsert_batch(
        table_dir, keys=["cohort_week", "week_offset", "user_id"],
        order_col="one")

    def sink(batch: DataFrame, batch_id: int) -> None:
        act = (
            batch.join(F.broadcast(su), "user_id")
            .filter(F.col("ts") >= F.col("cohort"))
            .withColumn(
                "week_offset",
                F.floor(F.datediff(F.col("ts").cast("date"),
                                   F.col("cohort").cast("date"))
                        / F.lit(7.0)).cast("int"))
            .filter(F.col("week_offset").between(0, 5))
            .select(
                F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
                "week_offset", "user_id", F.lit(1).alias("one"))
            .distinct()
        )
        base_sink(act, batch_id)

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    run_foreach_batch(sdf, sink, checkpoint_dir=os.path.join(rundir, "ck"),
                      output_mode="append")
    return (
        spark.read.parquet(table_dir)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


# ---------------------------------------------------------------------------
# Continuous data-quality monitoring — the dq_orders_expectations twin
# ---------------------------------------------------------------------------

@register(
    "stream_dq_violations_daily",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               SUM(CASE WHEN NOT COALESCE(value <= 150, FALSE)
                        THEN 1 ELSE 0 END) AS v_value_le_150,
               SUM(CASE WHEN NOT COALESCE(value >= 0, FALSE)
                        THEN 1 ELSE 0 END) AS v_value_nonneg,
               SUM(CASE WHEN NOT COALESCE(
                        event_type IN ('signup','click','error',
                                       'view','purchase'), FALSE)
                        THEN 1 ELSE 0 END) AS v_type_domain,
               count(*) AS n
        FROM events GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, c.check_name,
           CAST(CASE c.check_name
                WHEN 'value_le_150' THEN v_value_le_150
                WHEN 'value_nonneg' THEN v_value_nonneg
                ELSE v_type_domain END AS BIGINT) AS violations,
           CAST(n AS BIGINT) AS n_rows
    FROM daily
    CROSS JOIN (SELECT unnest(['value_le_150', 'value_nonneg',
                               'type_domain']) AS check_name) c
    """,
)
def stream_dq_violations_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous data-quality monitoring: per-day violation counts
    for a row-predicate expectation suite, maintained INCREMENTALLY
    by the exactly-once additive merge sink — violation counts are
    additive partials, so the stored quality dashboard re-aggregates
    losslessly across micro-batches and never rescans history (the
    streaming twin of dq_orders_expectations' row-predicate pass;
    uniqueness/FK checks need keyed state and live in
    stream_dedup_incremental's family instead). Matching the batch
    oracle proves the maintained monitor equals a one-shot audit."""
    from ..streaming.sinks import additive_merge_batch

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value")
    in_dir = _stage_once(
        sf_dir, "dq_events",
        lambda base: staged_files_dir(ev, base, n_files=3, order_col="ts"),
    )
    rundir = tempfile.mkdtemp(prefix="rdw_streamq_dq_")
    table_dir = os.path.join(rundir, "daily_dq")

    def dq_partials(batch: DataFrame) -> DataFrame:
        def viol(cond):
            return F.sum(F.when(F.coalesce(cond, F.lit(False)), 0)
                         .otherwise(1))
        return batch.groupBy(
            F.date_trunc("day", "ts").alias("day")
        ).agg(
            viol(F.col("value") <= 150).alias("v_value_le_150"),
            viol(F.col("value") >= 0).alias("v_value_nonneg"),
            viol(F.col("event_type").isin(
                "signup", "click", "error", "view", "purchase"))
            .alias("v_type_domain"),
            F.count(F.lit(1)).alias("n"),
        )

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    run_foreach_batch(
        sdf,
        additive_merge_batch(
            table_dir, keys=["day"],
            sum_cols=["v_value_le_150", "v_value_nonneg",
                      "v_type_domain", "n"],
            prepare=dq_partials),
        checkpoint_dir=os.path.join(rundir, "ck"),
        output_mode="append",
    )
    daily = spark.read.parquet(table_dir)
    reports = F.array(*[
        F.struct(F.lit(name).alias("check_name"),
                 F.col(col).cast("long").alias("violations"))
        for name, col in [("value_le_150", "v_value_le_150"),
                          ("value_nonneg", "v_value_nonneg"),
                          ("type_domain", "v_type_domain")]
    ])
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.explode(reports).alias("r"),
        F.col("n").cast("long").alias("n_rows"),
    ).select("day", "r.check_name", "r.violations", "n_rows")


# ---------------------------------------------------------------------------
# Native watermark-bounded stream dedup (dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------

@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_unique
    FROM events GROUP BY 1
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE watermark-bounded streaming dedup
    (`dropDuplicatesWithinWatermark`) — the built-in counterpart of
    this repo's ledgered foreachBatch dedup sinks: the state store
    keys on event_id and the WATERMARK bounds state retention (T7
    keyed-state-with-TTL semantics, expressed declaratively). Input
    is the events table with EVERY row duplicated in-file, so each
    duplicate arrives inside the watermark delay by construction and
    the native guarantee (dups within the delay are dropped) is
    total — the deduped stream's per-type counts must equal the
    pristine table's counts, which is the oracle. At 100 TB the
    state store holds only ids inside the watermark horizon —
    bounded by arrival rate × delay, not by history."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type")
    in_dir = _stage_once(
        sf_dir, "dupped_events",
        lambda base: staged_files_dir(
            ev.unionAll(ev), base, n_files=3, order_col="ts"),
    )
    rundir = tempfile.mkdtemp(prefix="rdw_streamq_ddww_")
    out_dir = os.path.join(rundir, "deduped")

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    run_available_now(sdf, out_dir,
                      checkpoint_dir=os.path.join(rundir, "ck"))
    return (
        read_back(spark, out_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


# ---------------------------------------------------------------------------
# Streaming attribution — the touch_attribution twin
# ---------------------------------------------------------------------------

@register(
    "stream_touch_attribution",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(value AS DECIMAL(18,2)) AS value,
               CASE WHEN event_type IN ('view', 'click')
                    THEN event_type END AS touch
        FROM events
    ),
    enriched AS (
        SELECT *,
               first_value(touch IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS first_touch,
               last_value(touch IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS last_touch
        FROM ordered
    ),
    conv AS (SELECT * FROM enriched WHERE event_type = 'purchase'),
    both_models AS (
        SELECT COALESCE(first_touch, 'none') AS channel,
               'first_touch' AS model, value FROM conv
        UNION ALL
        SELECT COALESCE(last_touch, 'none'), 'last_touch', value FROM conv
    )
    SELECT channel, model,
           CAST(count(*) AS BIGINT) AS conversions,
           CAST(SUM(value) AS DOUBLE) AS attributed_revenue
    FROM both_models GROUP BY 1, 2
    """,
)
def stream_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """touch_attribution as a STREAM (stateful.attribution_stream):
    per-user (first, last) touch ValueState — two strings — advanced
    across three event-time-ordered micro-batches; each conversion
    emits its attribution at arrival. The batch twin re-sorts all
    history per run; the stream sees each event once. Same oracle as
    the batch twin — converged emissions must reproduce the
    unbounded-window formulation exactly."""
    from ..streaming.stateful import attribution_stream

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value")
    in_dir = _stage_once(
        sf_dir, "attr_events",
        lambda base: staged_files_dir(ev, base, n_files=3, order_col="ts"),
    )
    rundir = tempfile.mkdtemp(prefix="rdw_streamq_attr_")
    out_dir = os.path.join(rundir, "conversions")

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("ts_long",
                    F.unix_micros(F.col("ts").cast("timestamp")))
    )
    conv = attribution_stream(
        sdf, "user_id", "ts_long", "event_id", "event_type", "value")
    with _auto_store(spark, sf_dir, "attr_events", in_dir, "user_id"):
        run_available_now(conv, out_dir,
                          checkpoint_dir=os.path.join(rundir, "ck"))
    out = read_back(spark, out_dir)
    models = out.select(
        F.explode(F.array(
            F.struct(F.col("first_touch").alias("channel"),
                     F.lit("first_touch").alias("model")),
            F.struct(F.col("last_touch").alias("channel"),
                     F.lit("last_touch").alias("model")),
        )).alias("m"),
        F.col("value").cast("decimal(18,2)").alias("value"),
    )
    return (
        models.groupBy(F.col("m.channel").alias("channel"),
                       F.col("m.model").alias("model"))
        .agg(F.count(F.lit(1)).alias("conversions"),
             F.sum("value").cast("double").alias("attributed_revenue"))
    )


# ---------------------------------------------------------------------------
# J1's FULL 4-way order-wide join as chained stream-stream joins
# ---------------------------------------------------------------------------

@register(
    "stream_order_wide_join",
    tier="variant",
    # Same relational answer as the batch dwd_trade_order_detail entry
    # (one oracle family, two physical paths — stream ≡ batch ≡ SQL).
    oracle="""
    SELECT l.l_orderkey * 100 + l.l_linenumber AS id,
           l.l_orderkey                        AS order_id,
           l.l_partkey                         AS sku_id,
           CAST(l.l_quantity AS BIGINT)        AS sku_num,
           CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - l.l_discount AS DECIMAL(3,2)) AS DOUBLE) AS split_total_amount,
           o.o_custkey                         AS user_id,
           strftime(o.o_orderdate, '%Y-%m-%d') AS create_time,
           a.activity_id,
           c.coupon_id
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    LEFT JOIN (
        SELECT l_orderkey * 100 + l_linenumber AS order_detail_id,
               l_orderkey % 5                  AS activity_id
        FROM lineitem WHERE l_orderkey % 7 = 0
    ) a ON l.l_orderkey * 100 + l.l_linenumber = a.order_detail_id
    LEFT JOIN (
        SELECT l_orderkey * 100 + l_linenumber AS order_detail_id,
               l_orderkey % 3                  AS coupon_id
        FROM lineitem WHERE l_orderkey % 11 = 0
    ) c ON l.l_orderkey * 100 + l.l_linenumber = c.order_detail_id
    """,
)
def stream_order_wide_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL 4-way order-wide chain
    (DwdTradeOrderDetail.java:68-92: detail ⋈ order ⟕ activity ⟕
    coupon, idle-state TTL 5-15 s) as CHAINED STREAM-STREAM JOINS.
    All four inputs replay as independent
    file streams split into 3 time-ordered micro-batches each, so
    every join must match rows across batch boundaries from state.

    Event-time model: each CDC row carries its transaction's commit
    time — the order's o_orderdate — as all four streams' ts (the
    reference joins changelog topics of one DB transaction, which is
    why its 5 s TTL works). Each hop is a windowed equi join with a
    ±1 h bound: the bound IS the TTL (state for a row is evicted once
    the other side's watermark passes its window), so per-key state
    is rate×2 h, not the stream's history. LEFT hops emit their null
    rows only when the watermark PROVES no match can arrive; one
    far-future sentinel per input advances the min-policy watermark
    so availableNow's final no-data batch flushes every outer state
    (same discipline as stream_left_interval_join).

    Scale: three stateful joins all keyed on order-derived ids — the
    order_id hash co-locates hop 1, the detail-id hops reuse that
    partitioning; state bounded by the window on every hop. MEASURED
    (SCALING.md `stream_order_wide`): the same chain on
    `synthetic_order_wide` drains FLAT at 36-38 s from 30k to 1M
    orders (33×, 2.2M input rows at the top size) with the exact
    expected output — n rows, ⌈n/7⌉ activity and ⌈n/11⌉ coupon
    matches — asserted at every size; the drain cost is the
    micro-batch × 3-hop state-store commit machinery, not per-row
    work, so this entry's sf0.1 wall time is a floor, not a rate."""
    return order_wide_join(spark, sf_dir, slices=3)


def order_wide_join(spark: SparkSession, sf_dir: str, slices: int) -> DataFrame:
    """`stream_order_wide_join` with each input replayed as `slices`
    time-ordered micro-batches. More slices mean smaller per-trigger
    batches and the same output; bench.py's RocksDB trigger-sizing
    ladder calls this directly."""
    from ..streaming.joins import windowed_equi_join

    rundir = tempfile.mkdtemp(prefix="rdw_streamq_owj_")
    out, ck = os.path.join(rundir, "out"), os.path.join(rundir, "ck")

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    commit_ts = orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
    )
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
    detail = li.select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("sku_id"),
        F.col("l_quantity").cast("long").alias("sku_num"),
        (price * disc).cast("double").alias("split_total_amount"),
    ).join(commit_ts, "order_id").withColumnRenamed("ts", "d_ts")
    order = orders.select(
        F.col("o_orderkey").alias("o_order_id"),
        F.col("o_custkey").alias("user_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("create_time"),
        F.col("o_orderdate").cast("timestamp").alias("o_ts"),
    )
    activity = li.filter(F.col("l_orderkey") % 7 == 0).select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber"))
        .alias("a_detail_id"),
        (F.col("l_orderkey") % 5).alias("activity_id"),
        F.col("l_orderkey").alias("order_id"),
    ).join(commit_ts, "order_id").select(
        "a_detail_id", "activity_id", F.col("ts").alias("a_ts"))
    coupon = li.filter(F.col("l_orderkey") % 11 == 0).select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber"))
        .alias("c_detail_id"),
        (F.col("l_orderkey") % 3).alias("coupon_id"),
        F.col("l_orderkey").alias("order_id"),
    ).join(commit_ts, "order_id").select(
        "c_detail_id", "coupon_id", F.col("ts").alias("c_ts"))

    def build(base: str):
        import time as _time

        # ONE boundary set for all four streams (order-date slices,
        # default terciles): per-stream repartitionByRange would cut
        # at each dataset's own quantiles, so batch k of one stream
        # could span time batch k+1 of another — a row then arrives
        # behind the min-policy watermark and is dropped (measured: 2
        # rows lost at sf0.001). Time-aligned files make batch k cover
        # the same [bk, bk+1) on every input, so nothing is ever late
        # under the 1 h delay. `slices` is the trigger-sizing knob
        # the latency SLO ladder measures (smaller per-trigger
        # batches, identical output: slices stay time-ordered so
        # watermark semantics are unchanged; the registered entry's 3
        # is the contract the oracle checks).
        row = orders.select(
            F.max("o_orderdate"),
            *[F.expr(f"percentile(unix_timestamp(o_orderdate), "
                     f"{i / slices})") for i in range(1, slices)],
        ).collect()[0]
        mx, cuts = row[0], [row[i] for i in range(1, slices)]
        far = mx + timedelta(days=400)
        dirs = {}
        for name, df, ts_col, sentinel in (
            ("detail", detail, "d_ts", (-2, -2, -2, 0, 0.0, far)),
            ("order", order, "o_ts", (-1, -1, "x", far)),
            ("activity", activity, "a_ts", (-3, -3, far)),
            ("coupon", coupon, "c_ts", (-4, -4, far)),
        ):
            d = os.path.join(base, name, "in")
            ep = F.unix_timestamp(ts_col)
            bounds = [None, *cuts, None]
            parts = []
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                cond = F.lit(True)
                if lo is not None:
                    cond = cond & (ep >= lo)
                if hi is not None:
                    cond = cond & (ep < hi)
                parts.append(df.filter(cond))
            parts.append(spark.createDataFrame([sentinel], df.schema))
            # FileStreamSource orders by mtime: stamp part files in
            # write order so file i replays as micro-batch i. Write
            # order is RECORDED by diffing the directory listing after
            # each append — inferring it from mtimes afterwards breaks
            # on coarse-mtime filesystems, where ties fall back to the
            # random UUID filename and can re-stamp batches out of
            # time order (rows then drop behind the min watermark).
            def _parts() -> set[str]:
                return {f for f in os.listdir(d)
                        if f.startswith("part-") and f.endswith(".parquet")}

            files, seen = [], set()
            for p in parts:
                p.coalesce(1).write.mode("append").parquet(d)
                new = _parts() - seen
                assert len(new) == 1, f"expected 1 new part file, got {new}"
                files.extend(new)
                seen |= new
            t0 = int(_time.time()) - len(files) - 10
            for i, f in enumerate(files):
                os.utime(os.path.join(d, f), (t0 + i, t0 + i))
            dirs[name] = d
        return dirs

    dirs = _stage_once(
        sf_dir, "owj_4way" if slices == 3 else f"owj_4way_s{slices}", build)

    def stream(name, df, ts_col):
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1").parquet(dirs[name])
            .withWatermark(ts_col, "1 hour")
        )

    s_detail = stream("detail", detail, "d_ts")
    s_order = stream("order", order, "o_ts")
    s_activity = stream("activity", activity, "a_ts")
    s_coupon = stream("coupon", coupon, "c_ts")

    # each hop's output must carry exactly ONE event-time column for
    # the next stateful operator — keep the detail side's d_ts, drop
    # the probed side's watermark column once the hop has used it
    hop1 = windowed_equi_join(
        s_detail, s_order,
        equi=F.col("order_id") == F.col("o_order_id"),
        left_ts="d_ts", right_ts="o_ts", ttl="1 hour", how="inner",
    ).drop("o_order_id", "o_ts")
    hop2 = windowed_equi_join(
        hop1, s_activity,
        equi=F.col("id") == F.col("a_detail_id"),
        left_ts="d_ts", right_ts="a_ts", ttl="1 hour", how="left",
    ).drop("a_detail_id", "a_ts")
    wide = windowed_equi_join(
        hop2, s_coupon,
        equi=F.col("id") == F.col("c_detail_id"),
        left_ts="d_ts", right_ts="c_ts", ttl="1 hour", how="left",
    ).drop("c_detail_id", "c_ts")

    # Three chained stateful joins each keep state in
    # spark.sql.shuffle.partitions stores per micro-batch, and the
    # drain cost of this query is almost ENTIRELY those commits — the
    # partition ladder measured cost ∝ partitions with
    # identical output (see streaming/runner.pinned_shuffle). The pin
    # is DERIVED from this replay's actual per-batch volume (largest
    # staged part file, footer metadata only — all four sides replay
    # maxFilesPerTrigger=1), not hand-tuned: at sf0.1 (~200k-row
    # detail terciles) this computes the ladder-optimal 8 and carries
    # to 100× the volume without retuning.
    rows_per_batch = max(staged_batch_rows(d) for d in dirs.values())
    with pinned_shuffle(spark, shuffle_for_volume(rows_per_batch)):
        run_available_now(wide, out, ck)
    # sentinels cannot reach the output (hop 1 is inner and no
    # sentinel key matches across inputs); the guard only documents it
    return read_back(spark, out).filter(F.col("order_id") >= 0).select(
        "id", "order_id", "sku_id", "sku_num", "split_total_amount",
        "user_id", "create_time", "activity_id", "coupon_id",
    )


# ---------------------------------------------------------------------------
# Streaming near-dup ingest gate
# ---------------------------------------------------------------------------

# Gate rule (deterministic, batch-split invariant): an arriving doc d
# is REJECTED iff some doc o with jaccard(d, o) >= 0.8 exists where o
# is (a) in the pre-existing corpus, or (b) an EARLIER arrival
# (smaller doc_id — arrival order is doc_id order), regardless of
# whether o itself was accepted. The earlier-arrival rule is
# deliberately non-recursive: "was this content already seen at
# ingest time", not "is it a duplicate of a kept doc" — recursive
# keep-chain semantics are the batch clustering family's job
# (dedup_clusters_converged).
_NEARDUP_GATE_ORACLE = f"""
    WITH sh AS ({_SHINGLES}),
    inv AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    pairs AS (
        SELECT a.doc_id AS d, b.doc_id AS o, count(*) AS common
        FROM inv a JOIN inv b
          ON a.s = b.s AND a.doc_id % 10 = 0
         AND (b.doc_id % 10 <> 0 OR b.doc_id < a.doc_id)
        GROUP BY 1, 2
    ),
    matched AS (
        SELECT p.d, p.o
        FROM pairs p
        JOIN (SELECT doc_id, len(sh) AS n FROM sh) sa ON p.d = sa.doc_id
        JOIN (SELECT doc_id, len(sh) AS n FROM sh) sb ON p.o = sb.doc_id
        WHERE p.common / (sa.n + sb.n - p.common) >= 0.8
    ),
    flags AS (
        SELECT d AS doc_id,
               max(CASE WHEN o % 10 <> 0 THEN 1 ELSE 0 END) AS m_corpus,
               max(CASE WHEN o % 10 = 0 THEN 1 ELSE 0 END)  AS m_earlier
        FROM matched GROUP BY 1
    )
    SELECT i.doc_id,
           f.doc_id IS NULL AS accepted,
           CASE WHEN f.m_corpus = 1 THEN 'corpus'
                WHEN f.m_earlier = 1 THEN 'earlier' END AS reject_reason
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) i
    LEFT JOIN flags f ON i.doc_id = f.doc_id
"""


@register("stream_neardup_gate", oracle=_NEARDUP_GATE_ORACLE)
def stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup ingest gate: 10% of the documents table
    (doc_id % 10 == 0) arrives as a 3-micro-batch stream and each doc
    is accepted only if it is not a near-dup (word-bigram Jaccard ≥
    0.8) of (a) the stored 90% corpus or (b) any earlier arrival.
    Output per arrival: (doc_id, accepted, reject_reason∈{corpus,
    earlier, NULL}).

    This is the incremental form of the batch near-dup family
    (dedup_minhash_lsh / decontaminate_neardup): a day's crawl lands
    as a batch and is matched against an INDEX ON STORAGE, never
    against raw history. The index is the banded-minhash bucket table
    (operators/dedup.band_keys — the same 32×4 banding the batch
    self-join uses, recall ≈ 1−5e-8 at j ≥ 0.8, false positives
    removed by exact shingle verification, so stream ≡ batch ≡ the
    exact inverted-index SQL the oracle runs):

    - build once per corpus: corpus (band_idx, band_key, doc_id) +
      (doc_id, shingles) parquet — the write-once analogue of the
      reference pre-keying HBase dim tables (HBaseUtil.java:80-103);
    - per micro-batch: batch docs → shingles → band keys, equi-join
      against corpus index ∪ seen-arrivals index ∪ the batch itself
      (earlier-id rows only), exact-verify candidates, emit verdicts,
      append the batch's bands+shingles to the seen index.

    Scale: per-batch cost is (batch bands) ⋈ (index bands) — an
    equi-join on uniform band hashes, never all-pairs; index growth
    is the arrival stream itself (bounded by retention in a real
    deployment). State lives in parquet, not the state store, so a
    10⁹-doc index is a storage fact, not a heap fact. No watermark:
    the gate is per-record w.r.t. event time (T3 pattern); ordering
    is carried by arrival (file) order, as in a Kafka-keyed topic."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)

    def build(base: str) -> dict[str, str]:
        sh = with_shingles(fan_out(corpus), "text", 2, drop_empty=True).select(
            "doc_id", "shingles")
        bands_dir = os.path.join(base, "corpus_bands")
        sh_dir = os.path.join(base, "corpus_shingles")
        sh.write.mode("overwrite").parquet(sh_dir)
        sh_back = spark.read.parquet(sh_dir)  # reuse the staged pass
        band_keys(sh_back, "doc_id").write.mode("overwrite").parquet(bands_dir)
        in_dir = staged_files_dir(incoming, os.path.join(base, "stream"),
                                  n_files=3, order_col="doc_id")
        return {"bands": bands_dir, "shingles": sh_dir, "in": in_dir}

    dirs = _stage_once(sf_dir, "neardup_gate", build)
    rundir = tempfile.mkdtemp(prefix="rdw_streamq_gate_")
    out, ck = os.path.join(rundir, "out"), os.path.join(rundir, "ck")
    seen_bands = os.path.join(rundir, "seen_bands")
    seen_sh = os.path.join(rundir, "seen_shingles")
    # initialize the seen index empty so batch 0 can read it
    empty = incoming.limit(0)
    sh0 = with_shingles(empty, "text", 2).select("doc_id", "shingles")
    sh0.write.mode("overwrite").parquet(seen_sh)
    band_keys(sh0, "doc_id").write.mode("overwrite").parquet(seen_bands)

    def gate_batch(batch: DataFrame, _bid: int) -> None:
        # side inputs re-derived from batch.sparkSession (the
        # micro-batch execution session), same discipline as
        # streaming/sinks.upsert_batch — never close over an
        # outer-session DataFrame inside foreachBatch
        sp = batch.sparkSession
        corpus_bands = sp.read.parquet(dirs["bands"])
        corpus_sh = sp.read.parquet(dirs["shingles"])
        batch = batch.persist()
        try:
            sh_b = with_shingles(batch, "text", 2, drop_empty=True).select(
                "doc_id", "shingles").persist()
            bands_b = band_keys(sh_b, "doc_id")
            # index side: corpus (always a hit source) + earlier
            # arrivals (cross-batch via the seen parquet, within-batch
            # via the earlier-id self rows)
            idx_bands = (
                corpus_bands.select(
                    F.col("doc_id").alias("o_id"), "band_idx", "band_key",
                    F.lit(True).alias("is_corpus"))
                .unionByName(sp.read.parquet(seen_bands).select(
                    F.col("doc_id").alias("o_id"), "band_idx", "band_key",
                    F.lit(False).alias("is_corpus")))
                .unionByName(bands_b.select(
                    F.col("doc_id").alias("o_id"), "band_idx", "band_key",
                    F.lit(False).alias("is_corpus")))
            )
            cands = (
                bands_b.join(
                    idx_bands,
                    (bands_b["band_idx"] == idx_bands["band_idx"])
                    & (bands_b["band_key"] == idx_bands["band_key"])
                    & (idx_bands["is_corpus"]
                       | (idx_bands["o_id"] < bands_b["doc_id"])),
                )
                .select("doc_id", "o_id", "is_corpus")
                .distinct()
            )
            idx_sh = (
                corpus_sh.unionByName(sp.read.parquet(seen_sh))
                .unionByName(sh_b)
                .select(F.col("doc_id").alias("o_id"),
                        F.col("shingles").alias("sh_o"))
            )
            verified = (
                cands.join(sh_b, "doc_id").join(idx_sh, "o_id")
            )
            common = F.size(F.array_intersect("shingles", "sh_o"))
            jac = common / (F.size("shingles") + F.size("sh_o") - common)
            flags = (
                verified.filter(jac >= 0.8)
                .groupBy("doc_id")
                .agg(F.max(F.col("is_corpus")).alias("m_corpus"))
            )
            verdict = batch.select("doc_id").join(flags, "doc_id", "left").select(
                "doc_id",
                F.col("m_corpus").isNull().alias("accepted"),
                F.when(F.col("m_corpus"), F.lit("corpus"))
                .when(~F.col("m_corpus"), F.lit("earlier"))
                .alias("reject_reason"),
            )
            verdict.write.mode("append").parquet(out)
            # grow the seen index with THIS batch's arrivals (accepted
            # or not — the gate rule is "content already seen")
            bands_b.write.mode("append").parquet(seen_bands)
            sh_b.write.mode("append").parquet(seen_sh)
            sh_b.unpersist()
        finally:
            batch.unpersist()

    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1").parquet(dirs["in"])
    )
    run_foreach_batch(sdf, gate_batch, ck)
    return read_back(spark, out)


# ---------------------------------------------------------------------------
# Streaming ANN retrieval serving
# ---------------------------------------------------------------------------

_ANN_ROUTE_ORACLE = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings)
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_COS6} AS cos_sim
    FROM v q JOIN v c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 30
    QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_COS6} DESC, c.vec_id
    ) <= 5
"""


@register("stream_ann_route", tier="variant", oracle=_ANN_ROUTE_ORACLE)
def stream_ann_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval SERVING as a stream: query vectors arrive in 3
    micro-batches and each batch gets exact top-5 cosine neighbors
    against the static corpus — the streaming twin of ann_brute_topk
    (same rounded-cosine cut, same oracle arithmetic), shaped like a
    production embedding-lookup service fed from a query log topic.

    Per batch the probe set is broadcast and the corpus is scanned
    once (brute_force_topk's plan); swapping in lsh_topk/ivf_topk
    gives the sublinear serving path with the recall trade the
    ann_lsh_recall / ann_recall_report entries measure. Append-only
    sink: results are immutable per query. No watermark — per-record
    serving, no event-time aggregation (T3)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 30).select("vec_id", "embedding")
    in_dir = _stage_once(
        sf_dir, "ann_route",
        lambda base: staged_files_dir(queries, base, n_files=3,
                                      order_col="vec_id"),
    )
    rundir = tempfile.mkdtemp(prefix="rdw_streamq_ann_")
    out, ck = os.path.join(rundir, "out"), os.path.join(rundir, "ck")

    def route_batch(batch: DataFrame, _bid: int) -> None:
        corpus = fan_out(load_table(batch.sparkSession, sf_dir, "embeddings"))
        S.brute_force_topk(corpus, batch, k=5, id_col="vec_id",
                           rank_rounded=True).write.mode("append").parquet(out)

    sdf = (
        spark.readStream
        .schema(queries.schema)
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    )
    run_foreach_batch(sdf, route_batch, ck)
    return read_back(spark, out)


# ---------------------------------------------------------------------------
# Streaming heavy hitters — Misra-Gries summary as cross-batch state
# ---------------------------------------------------------------------------

@register("stream_heavy_hitters", oracle=_HH_ORACLE)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `heavy_hitters_exact`:
    the documents table arrives as a 3-micro-batch token stream and a
    capacity-64 Misra-Gries summary persists ACROSS micro-batches via
    `streaming.sinks.mg_merge_batch` — per-batch partials (one
    mapInPandas scan, O(k) state per partition) merge into a stored
    k-row summary with the mergeable-summaries rule, under the same
    applied-batch-id ledger + rename-aside-swap exactly-once
    discipline as additive_merge_batch (kill-point-tested at all four
    in-commit crash stages, tests/test_streaming.py). The merge
    theorem makes the stored summary a provable candidate superset of
    every token with global count > n/(k+1) no matter how the stream
    was batched; at drain the ≤ k candidates are exact-re-counted over
    the corpus and thresholded — so the OUTPUT is exact and
    hash-matches the same oracle as the batch twin.

    This is the 24/7 form of the 100 TB frequent-tokens job: state is
    k counters + one exact row count regardless of stream length, the
    re-count is a filtered scan, and a restart resumes from the last
    committed summary instead of rescanning history. Reference anchor:
    none (extends the curation family — SURVEY §2.6 has no frequency
    surface)."""
    from ..streaming.sinks import mg_merge_batch

    docs = load_table(spark, sf_dir, "documents")

    def build(base: str) -> str:
        return staged_files_dir(docs.select("doc_id", "text"), base,
                                n_files=3, order_col="doc_id")

    in_dir = _stage_once(sf_dir, "hh_docs", build)
    rundir = tempfile.mkdtemp(prefix="rdw_hh_stream_")
    state, ck = os.path.join(rundir, "state"), os.path.join(rundir, "ck")

    s_toks = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
        .select(F.explode(tokenize("text")).alias("token"))
    )
    run_foreach_batch(s_toks, mg_merge_batch(state, k=_HH_K), ck,
                      output_mode="append")

    # The drained MG state is a ≤(k+1)-row parquet table; the exact
    # re-count consumes it as a BROADCAST-joined frame, so the
    # candidate set never rides the driver (an isin(list) literal is
    # bounded by k=64 but would bloat the plan if k were raised to
    # many thousands).
    # Only the scalar total crosses the driver — one row.
    mg = spark.read.parquet(state)
    # coalesce: an empty / total-less MG state sums to SQL NULL, and
    # int(None) would raise — an empty stream must read as n = 0
    n = int(mg.filter(F.col("is_total")).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n")).collect()[0]["n"])
    cand = F.broadcast(mg.filter(~F.col("is_total")).select("token"))
    thresh = n / float(_HH_K + 1)
    toks = docs.select(F.explode(tokenize("text")).alias("token"))
    return (
        toks.join(cand, "token")
        .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > F.lit(thresh))
    )


# ---------------------------------------------------------------------------
# Concurrent writers into one merge table
# ---------------------------------------------------------------------------

@register(
    "multiwriter_additive_sum",
    oracle="""
    SELECT l_suppkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def multiwriter_additive_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent commits on the driver-checked
    surface: TWO interleaved writers (threads, each its own ledgered
    additive sink with a distinct writer_id) push three disjoint
    micro-batches each into ONE merge table, concurrently — and the
    stored table must hash-match the serialized one-shot SQL
    aggregate. The commit CAS serializes the six commits (losers
    re-merge); sums ride DECIMAL through the sink so the result is
    exact and interleaving-independent; the writer_id namespace keeps
    the two queries' batch ids from colliding in the exactly-once
    ledger. Any lost update, double-apply, or torn manifest breaks
    the hash."""
    import threading

    from ..streaming.merge_table import read_table
    from ..streaming.sinks import additive_merge_batch

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_quantity")
    rundir = tempfile.mkdtemp(prefix="rdw_r11_mw_")
    table = os.path.join(rundir, "t")
    errors: list[Exception] = []

    def writer(w: int) -> None:
        try:
            fn = additive_merge_batch(
                table, keys=["l_suppkey"], sum_cols=["sum_qty"],
                writer_id=f"w{w}")
            for i in range(3):
                part = (
                    li.filter(F.pmod(F.col("l_orderkey"), F.lit(6))
                              == w * 3 + i)
                    .groupBy("l_suppkey")
                    .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                         .cast("decimal(38,2)").alias("sum_qty"))
                )
                fn(part, i)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return read_table(spark, table).select(
        "l_suppkey", F.col("sum_qty").cast("double").alias("sum_qty"))
