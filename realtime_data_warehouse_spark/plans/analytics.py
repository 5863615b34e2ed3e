"""Event-stream product analytics + warehouse-history operators.

The reference warehouse computes per-window traffic/trade summaries
(SURVEY §2.5) but stops short of the cross-event analytics every
OLAP user of such a store runs next: ordered funnels, cohort
retention, anomaly flagging over the rollups, and SCD2 dimension
history (the batch face of the reference's HBase latest-state DIM
maintenance, DimHBaseSinkFunction.java:16-105 — SCD2 is "the same
changelog, keeping every version instead of the last"). Each query
here is shaped for 100 TB:

- funnel_conversion: ONE shuffle on user_id — the three dependent
  stage timestamps are consecutive window passes over the same
  partitioning (Spark reuses the exchange), then the per-user rows
  collapse to a 3-row stage table.
- retention_cohorts: signup extraction and the activity join share
  the user_id partitioning; the week-offset matrix is tiny.
- anomaly_zscore_hourly: z-scores run over the HOURLY ROLLUP
  (types × hours), never the raw events; the trailing mean/std are
  integer-sum window frames, so Spark and DuckDB produce
  bit-identical doubles.
- scd2_dim_history: lead() over the CDC changelog keyed by the
  natural key — one shuffle, versions close themselves; a delete
  change closes the last version without emitting a row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import persisted
from ..sources.batch import load_table
from ..sources.cdc import changelog
from .registry import register

_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# Ordered funnel — view → click → purchase
# ---------------------------------------------------------------------------

@register(
    "funnel_conversion",
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
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel: first view, first click strictly after
    it, first purchase strictly after that; per-stage user counts and
    step conversion. The three dependent stage times are consecutive
    window aggregates over the SAME user_id partitioning — Spark
    plans one exchange and reuses it for all three passes and for the
    final per-user collapse, so the whole funnel is one shuffle of
    the (filtered, 3-column) events projection. No joins, no
    per-user event-list collection."""
    w = Window.partitionBy("user_id")
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
    )
    s1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w))
    s2 = s1.withColumn(
        "t2", F.min(F.when((F.col("event_type") == "click")
                           & (F.col("ts") > F.col("t1")), F.col("ts"))).over(w))
    s3 = s2.withColumn(
        "t3", F.min(F.when((F.col("event_type") == "purchase")
                           & (F.col("ts") > F.col("t2")), F.col("ts"))).over(w))
    u = s3.groupBy("user_id").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3"))
    c = u.agg(F.count("t1").alias("u1"), F.count("t2").alias("u2"),
              F.count("t3").alias("u3"))

    def rate(num, den):
        r = F.when(F.col(den) == 0, F.lit(0.0)).otherwise(
            F.col(num).cast("double") / F.col(den).cast("double"))
        return r.cast("decimal(10,4)").cast("double")

    # One row → three stage rows via explode, NOT a 3-way union: a
    # union of selects from `c` would plan three full copies of the
    # scan+window+agg pipeline (verified with .explain — 3 scans).
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
# Cohort retention — signup week × week offset
# ---------------------------------------------------------------------------

@register(
    "retention_cohorts",
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
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by the ISO week of
    their first `signup`, counted as active in each of the next 6
    week-offsets. The signup extraction and the activity join both
    hash on user_id (exchange reuse); the (cohort, offset) matrix the
    final distinct-count shuffles is weeks² — bounded regardless of
    fact size."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort"))
    )
    act = (
        ev.join(su, "user_id")
        .filter(F.col("ts") >= F.col("cohort"))
        .withColumn(
            "week_offset",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort").cast("date"))
                / F.lit(7.0)
            ).cast("int"),
        )
        .filter(F.col("week_offset").between(0, 5))
    )
    return (
        act.groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# Anomaly detection — trailing z-score over the hourly rollup
# ---------------------------------------------------------------------------

@register(
    "anomaly_zscore_hourly",
    oracle=f"""
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
    SELECT event_type, strftime(h, '{_FMT_DUCK}') AS hour, c AS cnt,
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
def anomaly_zscore_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly flags: per event_type, each hour's
    count against the mean/std of the previous (up to) 24 observed
    hours; |z| ≥ 2 rows surface. The window runs over the hourly
    ROLLUP (types × hours — thousands of rows at any fact scale),
    never raw events, and the trailing moments are integer count/sum/
    sum-of-squares frames, so the double arithmetic is the same
    expression in both engines and rounds identically to 4 dp."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(-24, -1)
    )
    stats = hourly.select(
        "event_type", "h", "c",
        F.count("c").over(w).alias("n"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("ss"),
    )
    cd = F.col("c").cast("double")
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    var_num = ssd - sd * sd / nd
    z = (cd - sd / nd) / F.sqrt(var_num / (F.col("n") - 1).cast("double"))
    return (
        stats.filter((F.col("n") >= 12) & (var_num > 0) & (F.abs(z) >= 2.0))
        .select(
            "event_type",
            F.date_format("h", _FMT_SPARK).alias("hour"),
            F.col("c").alias("cnt"),
            z.cast("decimal(12,4)").cast("double").alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# SCD2 dimension history from the CDC changelog
# ---------------------------------------------------------------------------

@register(
    "scd2_dim_history",
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
def scd2_dim_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: every change-row version of
    dim_sku_info kept with [valid_from, valid_to) bounds instead of
    the latest-state MERGE the reference's HBase sink applies
    (DimHBaseSinkFunction.java:16-105 keeps only the last put). A
    version's valid_to is simply the NEXT change's ts for the same
    key (lead over the key partition — one shuffle); a delete change
    closes the final version without emitting a row itself, so
    deleted keys end with is_current = false everywhere. Runs on the
    same deterministic changelog synthesis the DIM pipeline and its
    oracle replay (sources/cdc.py key arithmetic)."""
    part = load_table(spark, sf_dir, "part")
    chg = changelog(part, "sku_info", "p_partkey", None, "p_size",
                    with_deletes=True)
    rows = chg.select(
        F.col("data")["p_partkey"].cast("long").alias("p_partkey"),
        F.when(F.col("type") == "delete", F.lit(None).cast("int"))
         .otherwise(F.col("data")["p_size"].cast("int")).alias("p_size"),
        F.col("ts").cast("int").alias("ts"),
        F.col("type").alias("typ"),
    )
    w = Window.partitionBy("p_partkey").orderBy("ts")
    return (
        rows.withColumn("valid_to", F.lead("ts").over(w))
        .filter(F.col("typ") != "delete")
        .select(
            "p_partkey", "p_size",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


# ---------------------------------------------------------------------------
# Passage-level duplication audit (registered here so the entry lands
# past the driver's 50-entry gate window; earlier rounds' gate order
# must stay byte-stable — see registry.py import comment)
# ---------------------------------------------------------------------------

from ..sources.batch import fan_out  # noqa: E402
from .datapipe import _TOKS as __TOKS  # noqa: E402

@register(
    "passage_dedup_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {__TOKS} AS t FROM documents
    ), starts AS (
        SELECT doc_id,
               t[start : start + 39] AS passage
        FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1, 40)) AS start
              FROM toks WHERE len(t) > 0)
    ), passages AS (
        SELECT doc_id, md5(array_to_string(passage, ' ')) AS fp
        FROM starts
    ), cnt AS (
        SELECT doc_id, fp,
               count(*) OVER (PARTITION BY fp) AS corpus_cnt
        FROM passages
    )
    SELECT doc_id,
           count(*) AS n_passages,
           CAST(SUM(CASE WHEN corpus_cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_passages,
           CAST(CAST(SUM(CASE WHEN corpus_cnt > 1 THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE) AS DECIMAL(10,4)) AS DOUBLE)
               AS dup_ratio
    FROM cnt GROUP BY doc_id
    """,
)
def passage_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (sub-document) duplication audit — the
    RefinedWeb/Dolma paragraph-dedup shape: split every document into
    non-overlapping 40-token passages (text.chunk_tokens with
    stride == size, map-side explode), fingerprint each passage, and
    count corpus-wide occurrences of every fingerprint with a window
    over the fingerprint partition. Two shuffles total — one on the
    passage fingerprint (uniform by construction, it's a hash), one
    on doc_id for the per-doc rollup — and the pair space is never
    materialized; at 100 TB the fingerprint shuffle carries
    (doc_id, 16-byte fp) pairs only. The per-doc output (passage
    count, duplicated-passage count, ratio) is what a curation loop
    thresholds on to drop boilerplate-heavy documents."""
    from ..operators.text import chunk_tokens

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    passages = chunk_tokens(docs, chunk_size=40, stride=40).select(
        "doc_id", F.md5(F.col("chunk_text")).alias("fp"))
    w = Window.partitionBy("fp")
    cnt = passages.withColumn("corpus_cnt", F.count(F.lit(1)).over(w))
    dup = F.sum(F.when(F.col("corpus_cnt") > 1, 1).otherwise(0))
    return cnt.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_passages"),
        dup.alias("n_dup_passages"),
        (dup / F.count(F.lit(1)).cast("double"))
        .cast("decimal(10,4)").cast("double").alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# Irregular time series: time-weighted average (TWAP-style)
# ---------------------------------------------------------------------------

@register(
    "time_weighted_avg",
    oracle="""
    WITH nxt AS (
        SELECT event_type, value, ts,
               lead(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id)
                   AS nxt_ts
        FROM events
    ), seg AS (
        SELECT event_type,
               CAST(value * (epoch_us(nxt_ts) - epoch_us(ts)) / 1000000.0
                    AS DECIMAL(28,6)) AS vdt,
               (epoch_us(nxt_ts) - epoch_us(ts)) / 1000000.0 AS dt
        FROM nxt WHERE nxt_ts IS NOT NULL
    )
    SELECT event_type,
           CAST(CAST(CAST(SUM(vdt) AS DOUBLE)
                     / CAST(SUM(CAST(dt AS DECIMAL(20,6))) AS DOUBLE)
                AS DECIMAL(18,6)) AS DOUBLE) AS twa_value,
           count(*) AS n_segments
    FROM seg GROUP BY event_type
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over an IRREGULARLY sampled series (the
    TimescaleDB `time_weight` shape): each observation's value is
    weighted by how long it was current (duration to the next sample
    in its series — lead() per key, one shuffle; the final per-key
    rollup reuses the same partitioning). Plain AVG over irregular
    samples over-weights bursts; this is the correct aggregate for
    sensor/price series. Weighted terms are cast to DECIMAL before
    summing so the sum is order-independent and engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    nxt = ev.select(
        "event_type", "value", "ts",
        F.lead("ts").over(w).alias("nxt_ts"),
    ).filter(F.col("nxt_ts").isNotNull())
    dt = (F.unix_micros("nxt_ts") - F.unix_micros("ts")) / F.lit(1_000_000.0)
    seg = nxt.select(
        "event_type",
        (F.col("value") * dt).cast("decimal(28,6)").alias("vdt"),
        dt.cast("decimal(20,6)").alias("dt"),
    )
    return seg.groupBy("event_type").agg(
        (F.sum("vdt").cast("double") / F.sum("dt").cast("double"))
        .cast("decimal(18,6)").cast("double").alias("twa_value"),
        F.count(F.lit(1)).alias("n_segments"),
    )


# ---------------------------------------------------------------------------
# OHLC bars — open/high/low/close per key per day
# ---------------------------------------------------------------------------

@register(
    "ohlc_daily_bars",
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
def ohlc_daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick rollup: open/high/low/close per (series, day) in
    ONE aggregation pass — open and close ride along as
    min/max(struct(ts, event_id, value)) so no ranking window and no
    second shuffle is needed (the struct comparison is lexicographic
    on the unique (ts, event_id) pair, making ties deterministic).
    The oracle takes the row_number formulation of the same thing."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    tagged = ev.select(
        "event_type", day.alias("day"), "value",
        F.struct("ts", "event_id", "value").alias("tick"),
    )
    dec4 = lambda c: c.cast("decimal(18,4)").cast("double")  # noqa: E731
    return (
        tagged.groupBy("event_type", "day")
        .agg(
            dec4(F.min("tick")["value"]).alias("open"),
            dec4(F.max("value")).alias("high"),
            dec4(F.min("value")).alias("low"),
            dec4(F.max("tick")["value"]).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "event_type", F.date_format("day", "yyyy-MM-dd").alias("day"),
            "open", "high", "low", "close", "n_ticks",
        )
    )


# ---------------------------------------------------------------------------
# Decimal-exact correlation from raw power sums
# ---------------------------------------------------------------------------

@register(
    "corr_qty_price",
    oracle="""
    WITH sums AS (
        SELECT l_returnflag,
               count(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(20,6)))                  AS sx,
               SUM(CAST(l_extendedprice AS DECIMAL(20,6)))             AS sy,
               SUM(CAST(l_quantity * l_quantity AS DECIMAL(24,6)))     AS sxx,
               SUM(CAST(l_extendedprice * l_extendedprice
                        AS DECIMAL(28,4)))                             AS syy,
               SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(26,4))) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(CAST(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS DECIMAL(12,6)) AS DOUBLE) AS corr_qty_price
    FROM sums
    """,
)
def corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group WITHOUT F.corr: built from raw
    power sums whose addends are cast to DECIMAL first, so the sums
    are exact and order-independent — Spark's corr() and DuckDB's
    corr() use different streaming recurrences and disagree in the
    last ulps, which a value-hash check can't tolerate. One map-side
    partial agg per group; the six power sums travel as one row per
    group, so this scales like any sum (the same trick
    label_centroids uses for embedding sums).

    r12: fan_out before the aggregate — the six decimal power sums
    (incl. three decimal multiplies) are CPU-heavy map work that a
    single-row-group scan would run on one core; the round-robin
    exchange carries only the 3 referenced columns (pruning passes
    through it) and is a no-op on a multi-file table. Measured
    (min-of-5 interleaved): 1.98 → 1.10 s at sf0.1."""
    from ..sources.batch import fan_out

    li = fan_out(load_table(spark, sf_dir, "lineitem")
                 .select("l_returnflag", "l_quantity", "l_extendedprice"))
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q.cast("decimal(20,6)")).alias("sx"),
        F.sum(p.cast("decimal(20,6)")).alias("sy"),
        F.sum((q * q).cast("decimal(24,6)")).alias("sxx"),
        F.sum((p * p).cast("decimal(28,4)")).alias("syy"),
        F.sum((q * p).cast("decimal(26,4)")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    corr = (nd * sxy - sx * sy) / (
        F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy))
    return sums.select(
        "l_returnflag", "n",
        corr.cast("decimal(12,6)").cast("double").alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Fixed-bound histogram — distribution profiling
# ---------------------------------------------------------------------------

#: fixed bounds: o_totalprice spans ~[900, 600k] at every SF; fixed
#: bounds keep the bucketing one map-side expression (a data-derived
#: min/max would need an extra pass or an approx sketch)
_HIST_LO, _HIST_HI, _HIST_N = 0.0, 600_000.0, 24


@register(
    "revenue_histogram",
    oracle=f"""
    SELECT LEAST({_HIST_N - 1},
                 CAST(floor((o_totalprice - {_HIST_LO})
                            / ({_HIST_HI} - {_HIST_LO}) * {_HIST_N}) AS INT))
               AS bucket,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS bucket_revenue
    FROM orders
    GROUP BY 1
    """,
)
def revenue_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound equi-width histogram of order totals: bucket id is
    one map-side expression (no width_bucket builtin needed — the
    floor arithmetic is identical SQL in both engines), so the whole
    profile is a single partial-aggregated groupBy on ≤ N buckets.
    The distribution-profiling shape `profile_orders` doesn't cover
    (it does moments/extremes, not shape)."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.lit(_HIST_N - 1),
        F.floor((F.col("o_totalprice") - F.lit(_HIST_LO))
                / F.lit(_HIST_HI - _HIST_LO) * F.lit(_HIST_N)).cast("int"),
    )
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("bucket_revenue"),
    )


# ---------------------------------------------------------------------------
# Event-time temporal join — FOR SYSTEM_TIME AS OF against SCD2 history
# ---------------------------------------------------------------------------

@register(
    "scd2_point_in_time_join",
    oracle="""
    WITH chg AS (
        SELECT p_partkey, p_size, 0 AS ts, 'bootstrap-insert' AS typ FROM part
        UNION ALL
        SELECT p_partkey, p_size * 2, 1, 'update'
        FROM part WHERE p_partkey % 10000 < 500
        UNION ALL
        SELECT p_partkey, NULL, 2, 'delete'
        FROM part WHERE p_partkey % 1000 = 7
    ), hist AS (
        SELECT p_partkey, p_size, ts AS valid_from,
               lead(ts) OVER (PARTITION BY p_partkey ORDER BY ts) AS valid_to,
               typ
        FROM chg
    ), facts AS (
        SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
               CAST(l_orderkey % 3 AS INT) AS as_of_ts
        FROM lineitem
    )
    SELECT f.l_orderkey, f.l_linenumber, f.l_partkey, f.as_of_ts,
           h.p_size AS p_size_as_of,
           CAST(CAST(f.l_quantity * h.p_size AS DECIMAL(18,2)) AS DOUBLE)
               AS volume
    FROM facts f
    JOIN hist h
      ON f.l_partkey = h.p_partkey
     AND h.typ <> 'delete'
     AND h.valid_from <= f.as_of_ts
     AND (h.valid_to IS NULL OR f.as_of_ts < h.valid_to)
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time temporal join (Flink `FOR SYSTEM_TIME AS OF
    fact.ts` on a VERSIONED table — the event-time dual of the
    reference's processing-time lookup join, SURVEY J3): each fact
    row joins the dimension version whose [valid_from, valid_to)
    interval contains the fact's as-of timestamp, against the SCD2
    history scd2_dim_history builds. The as-of clock is the
    deterministic `l_orderkey % 3`, spanning the synthetic
    changelog's version epochs.

    Plan shape for 100 TB: the version history is a dimension —
    broadcast it, so facts never shuffle; the interval predicate
    evaluates inside the broadcast-hash join on the equi-key
    (partkey), never as a range join over facts. A fact whose key was
    deleted before its as-of time drops out (inner semantics), same
    as a Flink versioned-table join after a DELETE."""
    hist = scd2_dim_history(spark, sf_dir).withColumnRenamed(
        "valid_from", "vf").withColumnRenamed("valid_to", "vt")
    li = load_table(spark, sf_dir, "lineitem")
    facts = li.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
        F.pmod(F.col("l_orderkey"), F.lit(3)).cast("int").alias("as_of_ts"),
    )
    j = facts.join(
        F.broadcast(hist),
        (facts["l_partkey"] == hist["p_partkey"])
        & (F.col("vf") <= F.col("as_of_ts"))
        & (F.col("vt").isNull() | (F.col("as_of_ts") < F.col("vt"))),
    )
    return j.select(
        "l_orderkey", "l_linenumber", "l_partkey", "as_of_ts",
        F.col("p_size").alias("p_size_as_of"),
        (F.col("l_quantity") * F.col("p_size")).cast("decimal(18,2)")
        .cast("double").alias("volume"),
    )


# ---------------------------------------------------------------------------
# Fuzzy entity-matching join (cross-table PPJoin)
# ---------------------------------------------------------------------------

@register(
    "fuzzy_join_parts",
    oracle="""
    WITH lt AS (
        SELECT p_partkey, list_distinct(string_split(p_name, ' ')) AS a
        FROM part
    ), pr AS (
        SELECT p_partkey AS probe_id, list_distinct(ls[2:]) AS b
        FROM (SELECT p_partkey, string_split(p_name, ' ') AS ls
              FROM part WHERE p_partkey % 5 = 0)
    ), pairs AS (
        SELECT p_partkey, probe_id,
               len(list_intersect(a, b)) AS i,
               len(a) + len(b) - len(list_intersect(a, b)) AS u
        FROM lt CROSS JOIN pr
    )
    SELECT p_partkey, probe_id,
           CAST(CAST(i / CAST(u AS DOUBLE) AS DECIMAL(6,4)) AS DOUBLE)
               AS jaccard
    FROM pairs WHERE i >= ceil(0.6 * u)
    """,
)
def fuzzy_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution across tables: a deterministic 'dirty' probe
    list (every 5th part's name with its first word dropped) fuzzy-
    joins back to the part catalog on word-set Jaccard ≥ 0.6 via
    operators/dedup.fuzzy_set_join — PPJoin prefix blocking over the
    UNION vocabulary, exact verify. The oracle is the brute-force
    cross join (fine at sf0.01; the Spark side never materializes the
    pair space — that asymmetry is the point of the operator)."""
    from ..operators.dedup import fuzzy_set_join

    part = load_table(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    left = part.select("p_partkey", words.alias("toks"))
    probe = (
        part.filter(F.pmod(F.col("p_partkey"), F.lit(5)) == 0)
        .select(
            F.col("p_partkey").alias("probe_id"),
            F.expr("slice(split(p_name, ' '), 2, "
                   "size(split(p_name, ' ')) - 1)").alias("toks"),
        )
    )
    return fuzzy_set_join(left, probe, "p_partkey", "probe_id",
                          "toks", threshold=0.6)


# ---------------------------------------------------------------------------
# Embedding int8 quantization audit
# ---------------------------------------------------------------------------

@register(
    "embedding_int8_quantize",
    oracle="""
    WITH scaled AS (
        SELECT vec_id,
               CAST(list_max(list_transform(embedding, v -> abs(v)))
                    AS DOUBLE) / CAST(127 AS DOUBLE) AS scale,
               embedding
        FROM embeddings
    )
    SELECT vec_id,
           CAST(CAST(scale AS DECIMAL(14,8)) AS DOUBLE) AS scale,
           CAST(list_max(list_transform(
               embedding,
               v -> abs(CAST(floor(CAST(v AS DOUBLE) / scale
                                   + CAST(0.5 AS DOUBLE)) AS INT)
                        * scale - CAST(v AS DOUBLE))
           )) AS DECIMAL(14,8))::DOUBLE AS max_abs_err
    FROM scaled WHERE scale > 0
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit — the storage
    shape embedding stores ship (scale = max|v|/127, code =
    floor(v/scale + 0.5); explicit floor(+0.5) because round()
    half-way rules differ between engines). Reports per-vector scale
    and worst reconstruction error.

    Long-format plan (posexplode → per-vector max → coordinate math →
    per-vector rollup) rather than nested array lambdas: referencing
    a DERIVED scale column inside a higher-order-function lambda gets
    inlined by CollapseProject into a lambda-in-lambda expression,
    which mis-evaluates (observed: err off by ~1e-7 — a real Spark
    HOF-capture hazard). The explode form is also the honest
    distributed shape: one shuffle on vec_id serves the max, the
    join-back, and the rollup."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("idx", "val"))
    per_vec = ex.groupBy("vec_id").agg(
        (F.max(F.abs(F.col("val").cast("double"))) / F.lit(127.0))
        .alias("scale"))
    q = F.floor(F.col("val").cast("double") / F.col("scale")
                + F.lit(0.5)).cast("int")
    coord = (
        ex.join(per_vec, "vec_id")
        .filter(F.col("scale") > 0)
        .withColumn("err", F.abs(q.cast("double") * F.col("scale")
                                 - F.col("val").cast("double")))
    )
    return coord.groupBy("vec_id").agg(
        F.first("scale").cast("decimal(14,8)").cast("double").alias("scale"),
        F.max("err").cast("decimal(14,8)").cast("double").alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# k-anonymity governance audit
# ---------------------------------------------------------------------------

@register(
    "k_anonymity_audit",
    oracle="""
    SELECT c_nationkey,
           CAST(floor(c_acctbal / 1000.0) AS INT) AS balance_band,
           count(*) AS group_size
    FROM customer
    GROUP BY 1, 2
    HAVING count(*) < 5
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy/governance audit: quasi-identifier groups (nation ×
    coarse balance band) with fewer than k=5 members — the rows a
    k-anonymity release policy must suppress or generalize. One
    partial-aggregated groupBy on the quasi-identifier tuple; at
    100 TB the group count is bounded by the identifier domain, not
    the row count."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("int")
            .alias("balance_band"),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < 5)
    )


# ---------------------------------------------------------------------------
# Iterative graph analytics — damped PageRank (operators/graph.py)
# ---------------------------------------------------------------------------

#: one oracle iteration: contributions join-agg, then the damped
#: update — textually identical recurrence to operators/graph.pagerank
_PR_ITER = """
{out} AS (
    SELECT n2.node,
           CAST((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / p.n
                + CAST(COALESCE(s.s, 0) AS DOUBLE) AS DECIMAL(18,12)) AS rank
    FROM nodes n2 CROSS JOIN params p
    LEFT JOIN (
        SELECT e.dst,
               SUM(CAST(CAST(r.rank AS DOUBLE) * CAST(0.85 AS DOUBLE)
                        / CAST(od.od AS DOUBLE) AS DECIMAL(18,12))) AS s
        FROM edges e
        JOIN {src} r ON e.src = r.node
        JOIN outdeg od ON e.src = od.src
        GROUP BY e.dst
    ) s ON s.dst = n2.node
)"""


@register(
    "pagerank_bipartite_3iter",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT src, dst FROM pairs
        UNION ALL
        SELECT dst AS src, src AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    params AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
    r0 AS (
        SELECT node, CAST(CAST(1 AS DOUBLE) / p.n AS DECIMAL(18,12)) AS rank
        FROM nodes CROSS JOIN params p
    ),""" + _PR_ITER.format(out="r1", src="r0") + ","
           + _PR_ITER.format(out="r2", src="r1") + ","
           + _PR_ITER.format(out="r3", src="r2") + """
    SELECT node, CAST(rank AS DOUBLE) AS rank FROM r3
    """,
)
def pagerank_bipartite_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (3 fixed iterations) over the symmetric
    customer↔supplier trade graph — who are the structurally central
    parties in the order flow. Fixed iteration count keeps the oracle
    replayable (same policy as dedup_clusters); quantized-decimal
    ranks make every per-iteration sum exact and order-independent,
    so both engines land on identical values (operators/graph.py).
    Each iteration is the two-shuffle Pregel super-step: edge-key
    equi-join, then map-side-combined sum by destination."""
    from ..operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
            .alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
            .alias("dst"),
        )
        .distinct()
    )
    edges = persisted(pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    ranks = pagerank(edges, iterations=3, damping=0.85)
    return ranks.select("node", F.col("rank").cast("double").alias("rank"))


# ---------------------------------------------------------------------------
# Marketing attribution — first-touch / last-touch credit assignment
# ---------------------------------------------------------------------------

@register(
    "touch_attribution",
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
def touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch marketing attribution in ONE event
    scan: per-user ordered windows carry the earliest and the most
    recent prior touch (view/click) up to each event, purchases read
    both off the window, and an in-row explode unpivots the two
    models before one bounded group-by — no self-join of conversions
    against touch history (the naive plan is O(purchases × touches)
    per user; this is O(events log events) within each user
    partition). Purchases with no prior touch credit 'none'.
    Deterministic tie order: (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events")
    touch = F.when(F.col("event_type").isin("view", "click"),
                   F.col("event_type"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    conv = (
        ev.select(
            "user_id", "ts", "event_id", "event_type",
            F.col("value").cast("decimal(18,2)").alias("value"),
            touch.alias("touch"),
        )
        .withColumn("first_touch", F.first("touch", ignorenulls=True).over(w))
        .withColumn("last_touch", F.last("touch", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
    )
    models = conv.select(
        F.explode(F.array(
            F.struct(F.coalesce("first_touch", F.lit("none")).alias("channel"),
                     F.lit("first_touch").alias("model")),
            F.struct(F.coalesce("last_touch", F.lit("none")).alias("channel"),
                     F.lit("last_touch").alias("model")),
        )).alias("m"),
        "value",
    )
    return (
        models.groupBy(F.col("m.channel").alias("channel"),
                       F.col("m.model").alias("model"))
        .agg(F.count(F.lit(1)).alias("conversions"),
             F.sum("value").cast("double").alias("attributed_revenue"))
    )


@register(
    "scd2_changes_since",
    # same change model as stream_scd2_dim_history / the batch twin;
    # the predicate is the SCD2 range-scan the manifest stats serve:
    # "every version created at or after ts 1" (tombstones included —
    # a changes-feed consumer needs the closes too)
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
    SELECT p_partkey, p_size, ts AS valid_from, valid_to, typ
    FROM v WHERE ts >= 1
    """,
)
def scd2_changes_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 "changes since ts" feed through MANIFEST-STATS
    pruning (on the driver-checked surface): the
    same streamed CDC replay as stream_scd2_dim_history maintains the
    bucketed history table — whose manifest carries per-file
    valid_from min/max envelopes, gathered at commit from the same
    footer open that counts rows — and the read goes through
    merge_table.read_pruned, which opens ONLY the files whose
    envelope reaches ts >= 1 (bootstrap-only buckets skip) and
    applies the residual row filter. Hash-matching the full-history
    SQL twin proves the prune is an upper bound, never a row drop —
    the correctness side of SCALING Reading 17's bytes-read
    measurement."""
    import os
    import tempfile

    from ..streaming.merge_table import read_pruned
    from ..streaming.runner import run_foreach_batch, staged_files_dir
    from ..streaming.sinks import scd2_merge_batch
    from .streaming_queries import _stage_once

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
    rundir = tempfile.mkdtemp(prefix="rdw_r11_scd2since_")
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
    return read_pruned(spark, table_dir, "valid_from", lo=1).select(
        "p_partkey", "p_size", "valid_from", "valid_to", "typ")
