"""DWS-layer pipelines over the driver tables (SURVEY §2.5 A1–A8).

Window metric families mirror the reference's ten DWS apps; the
tumble length is scaled from 10 s to 1 day/1 hour because the
testdata spans months, but the operator shape (keyed tumbling
event-time window + partial agg + window-bound stamping) is
identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.agg import tumble
from ..operators.joins import snowflake_join
from ..operators.state import (
    first_visit_repair,
    latest_per_key,
    new_vs_returning,
)
from ..sources.batch import load_table
from .registry import register


# ---------------------------------------------------------------------------
# A1 — keyed tumbling window + snowflake dim enrichment (sku order window)
# ---------------------------------------------------------------------------

@register(
    "dws_sku_order_window",
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
def dws_sku_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwsTradeSkuOrderWindow (A1+J5): per-sku tumble + dim enrichment
    (DwsTradeSkuOrderWindow.java:124-156, dim chain :72-122). The dim
    join runs *after* aggregation — same cardinality trick as the
    reference (enrich aggregates, not raw facts) — and part is
    broadcast, so enrichment adds zero shuffles.

    r12 measured dead end (do not retry): fan_out before the tumble
    read neutral-to-worse in an interleaved A/B (plain 1.68 s vs
    fan_out 1.75 min-of-5) — the (partkey, day) partial agg barely
    collapses, so the extra exchange pays for no parallel-map win."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
    agg = tumble(
        li.withColumn("amount", price * disc), "l_shipdate", "1 day",
        keys=["l_partkey"],
        aggs={
            "order_amount": F.sum("amount").cast("double"),
            "sku_num": F.sum(F.col("l_quantity").cast("long")),
        },
    )
    enriched = snowflake_join(
        agg,
        [(part, agg["l_partkey"] == F.col("p_partkey"), ("p_partkey", "p_name", "p_brand"))],
        how="inner",
    )
    return enriched.select(
        "stt", "edt", "cur_date",
        F.col("l_partkey").alias("sku_id"),
        F.col("p_name").alias("sku_name"),
        F.col("p_brand").alias("trademark"),
        "order_amount", "sku_num",
    )


# ---------------------------------------------------------------------------
# A3 + J5 — province (nation/region) order window with distinct counts
# ---------------------------------------------------------------------------

@register(
    "dws_province_order_window",
    oracle="""
    SELECT n.n_name                                          AS province_name,
           r.r_name                                          AS region_name,
           count(DISTINCT o.o_orderkey)                      AS order_count,
           count(DISTINCT o.o_custkey)                       AS user_count,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS order_amount
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def dws_province_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwsTradeProvinceOrderWindow (A3+J5): distinct-order-set count +
    amount per province (DwsTradeProvinceOrderWindow.java:117-162),
    province dim = customer→nation→region snowflake chain, each hop
    broadcast (dims are tiny vs the fact).

    r12: fan_out on the fact side — the three broadcast probes and the
    distinct-agg partials otherwise run on the single scan core under
    a one-row-group layout; no-op on multi-file tables."""
    from ..sources.batch import fan_out

    orders = fan_out(load_table(spark, sf_dir, "orders"))
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    wide = snowflake_join(
        orders,
        [
            (customer, orders["o_custkey"] == F.col("c_custkey"), ("c_custkey", "c_nationkey")),
            (nation, F.col("c_nationkey") == F.col("n_nationkey"), ("n_nationkey", "n_name", "n_regionkey")),
            (region, F.col("n_regionkey") == F.col("r_regionkey"), ("r_regionkey", "r_name")),
        ],
        how="inner",
    )
    return (
        wide.groupBy(F.col("n_name").alias("province_name"), F.col("r_name").alias("region_name"))
        .agg(
            F.count_distinct("o_orderkey").alias("order_count"),
            F.count_distinct("o_custkey").alias("user_count"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias("order_amount"),
        )
    )


# ---------------------------------------------------------------------------
# A4/A7/P7 — home/detail daily UV via first-event-per-day dedup
# ---------------------------------------------------------------------------

@register(
    "dws_home_detail_uv_window",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d')                          AS cur_date,
           count(DISTINCT CASE WHEN event_type = 'view'  THEN user_id END) AS home_uv_ct,
           count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS good_detail_uv_ct
    FROM events
    WHERE event_type IN ('view', 'click')
    GROUP BY 1
    """,
)
def dws_home_detail_uv_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwsTrafficHomeDetailPageViewWindow (P7+A7+A4): page filter,
    per-user-per-day dedup (ValueState last-seen-date,
    DwsTrafficHomeDetailPageViewWindow.java:83-135), then daily UV
    counts. The dedup is expressed as first-event-per-(user,type,day)
    then distinct-count — one shuffle on the user key."""
    events = load_table(spark, sf_dir, "events")
    pages = events.filter(F.col("event_type").isin("view", "click"))
    # the reference's per-(user,day) ValueState dedup collapses into the
    # per-type distinct-count below (one shuffle, map-side partials)
    per_day = pages.withColumn("dt", F.to_date("ts")).groupBy("dt").agg(
        F.count_distinct(F.when(F.col("event_type") == "view", F.col("user_id"))).alias("home_uv_ct"),
        F.count_distinct(F.when(F.col("event_type") == "click", F.col("user_id"))).alias("good_detail_uv_ct"),
    )
    return per_day.select(F.date_format("dt", "yyyy-MM-dd").alias("cur_date"),
                          "home_uv_ct", "good_detail_uv_ct")


# ---------------------------------------------------------------------------
# A7 — login window: daily unique users + 7-day returning users
# ---------------------------------------------------------------------------

@register(
    "dws_user_login_window",
    oracle="""
    WITH daily AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS dt FROM events
    ), flagged AS (
        SELECT dt,
               CASE WHEN dt - lag(dt) OVER (PARTITION BY user_id ORDER BY dt) > 7
                    THEN 1 ELSE 0 END AS is_back
        FROM daily
    )
    SELECT strftime(dt, '%Y-%m-%d')          AS cur_date,
           count(*)                          AS uu_ct,
           count(CASE WHEN is_back = 1 THEN 1 END) AS back_ct
    FROM flagged GROUP BY 1
    """,
)
def dws_user_login_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwsUserUserLoginWindow (A7): daily unique users and "returning
    after >7 days" (keyed last-login state,
    DwsUserUserLoginWindow.java:83-126). Batch-exact: dedup to
    (user, day), lag over the user's day sequence."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.select("user_id", F.to_date("ts").alias("dt")).distinct()
    w = Window.partitionBy("user_id").orderBy("dt")
    flagged = daily.withColumn(
        "is_back",
        F.when(F.datediff(F.col("dt"), F.lag("dt").over(w)) > 7, 1).otherwise(0),
    )
    return flagged.groupBy("dt").agg(
        F.count(F.lit(1)).alias("uu_ct"),
        F.count(F.when(F.col("is_back") == 1, 1)).alias("back_ct"),
    ).select(F.date_format("dt", "yyyy-MM-dd").alias("cur_date"), "uu_ct", "back_ct")


# ---------------------------------------------------------------------------
# A4 — register window (global tumble, no key)
# ---------------------------------------------------------------------------

@register(
    "dws_user_register_window",
    oracle="""
    SELECT strftime(DATE '2024-01-01' + CAST(c_custkey % 365 AS INT), '%Y-%m-%d') AS cur_date,
           count(*) AS register_ct
    FROM customer GROUP BY 1
    """,
)
def dws_user_register_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwsUserUserRegisterWindow (A4): global tumbling count of
    registrations (DwsUserUserRegisterWindow.java:59-80); create_time
    synthesized from the customer key (FIXTURES.md §4)."""
    customer = load_table(spark, sf_dir, "customer")
    reg = customer.withColumn(
        "create_date",
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("c_custkey") % 365).cast("int")),
    )
    return reg.groupBy("create_date").agg(F.count(F.lit(1)).alias("register_ct")) \
        .select(F.date_format("create_date", "yyyy-MM-dd").alias("cur_date"), "register_ct")


# ---------------------------------------------------------------------------
# A7 — order window: unique vs first-ever-new users per day
# ---------------------------------------------------------------------------

@register(
    "dws_trade_order_window",
    oracle="""
    WITH daily AS (
        SELECT DISTINCT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS dt
        FROM orders
    ), firsts AS (
        SELECT user_id, dt,
               CASE WHEN dt = min(dt) OVER (PARTITION BY user_id) THEN 1 ELSE 0 END AS is_first
        FROM daily
    )
    SELECT strftime(dt, '%Y-%m-%d')                    AS cur_date,
           count(*)                                    AS order_unique_user_count,
           count(CASE WHEN is_first = 1 THEN 1 END)    AS order_new_user_count
    FROM firsts GROUP BY 1
    """,
)
def dws_trade_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwsTradeOrderWindow (A7): per-day unique ordering users + users
    whose first-ever order is that day (keyed first-order state,
    DwsTradeOrderWindow.java:48-81) via new_vs_returning."""
    orders = load_table(spark, sf_dir, "orders")
    flagged = new_vs_returning(
        orders.select(F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("ts")),
        "user_id", "ts",
    )
    return flagged.groupBy("dt").agg(
        F.count(F.lit(1)).alias("order_unique_user_count"),
        F.count(F.when(F.col("is_first_ever") == 1, 1)).alias("order_new_user_count"),
    ).select(F.date_format("dt", "yyyy-MM-dd").alias("cur_date"),
             "order_unique_user_count", "order_new_user_count")


# ---------------------------------------------------------------------------
# A6 — latest-per-key upsert view, then aggregate
# ---------------------------------------------------------------------------

@register(
    "a6_latest_per_key_sum",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(SUM(CASE WHEN o_orderkey % 20 = 0
                         THEN CAST(o_totalprice AS DECIMAL(14,2)) + 100
                         ELSE CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE) AS sum_amount,
           count(*) AS row_ct
    FROM orders GROUP BY 1
    """,
)
def a6_latest_per_key_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 "度量值修正" semantics (DwsTradeSkuOrderWindow.java:158-201):
    an upsert topic re-emits newer images per id; downstream must
    aggregate the *latest* image only. Synthesized over orders (the
    one table with a unique key): every order is v1; keys % 20 == 0
    get a v2 with amount+100. latest_per_key keeps v2, so the sum
    matches the oracle's CASE expression."""
    orders = load_table(spark, sf_dir, "orders")
    amount = F.col("o_totalprice").cast("decimal(14,2)")
    # r12 (guide §1.2 step 1): the v1∪v2 upsert stream used to union
    # two scans of orders (the single-row-group scan is 1-core, so the
    # second scan is pure serial cost); generating both images from
    # ONE scan via a version explode emits the identical row set —
    # every key a v1, %20 keys additionally a v2 with amount+100 —
    # into the same latest_per_key kernel. Oracle unchanged.
    upserts = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        amount.alias("amount"),
        F.explode(
            F.when(F.col("o_orderkey") % 20 == 0, F.array(F.lit(1), F.lit(2)))
            .otherwise(F.array(F.lit(1)))
        ).alias("version"),
    ).withColumn(
        "amount",
        F.when(F.col("version") == 2, F.col("amount") + 100)
        .otherwise(F.col("amount")),
    )
    latest = latest_per_key(upserts, ["id"], "version")
    return latest.groupBy("status").agg(
        F.sum("amount").cast("double").alias("sum_amount"),
        F.count(F.lit(1)).alias("row_ct"),
    )


# ---------------------------------------------------------------------------
# A8 — is_new repair
# ---------------------------------------------------------------------------

@register(
    "a8_is_new_repair",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS DATE) AS dt,
               CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS claim
        FROM events
    ), m AS (
        SELECT dt, claim,
               min(dt) OVER (PARTITION BY user_id) AS first_dt
        FROM e
    )
    SELECT strftime(dt, '%Y-%m-%d') AS cur_date,
           count(CASE WHEN claim = 1 THEN 1 END) AS claimed_new,
           count(CASE WHEN (CASE WHEN dt > first_dt THEN 0 ELSE claim END) = 1 THEN 1 END)
               AS fixed_new
    FROM m GROUP BY 1
    """,
)
def a8_is_new_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 is_new repair (DwdBaseLog.java:143-186): a record claiming
    is_new=1 is downgraded when the user's first-ever visit day is
    earlier. Claim synthesized as event_type='signup'."""
    events = load_table(spark, sf_dir, "events")
    claimed = events.withColumn(
        "is_new", F.when(F.col("event_type") == "signup", 1).otherwise(0)
    )
    repaired = first_visit_repair(claimed, "user_id", "ts", "is_new")
    per_day = repaired.withColumn("dt", F.to_date("ts")).groupBy("dt").agg(
        F.count(F.when(F.col("is_new") == 1, 1)).alias("claimed_new"),
        F.count(F.when(F.col("is_new_fixed") == 1, 1)).alias("fixed_new"),
    )
    return per_day.select(F.date_format("dt", "yyyy-MM-dd").alias("cur_date"),
                          "claimed_new", "fixed_new")


# ---------------------------------------------------------------------------
# A7/T12 — cart-add unique users per day (DwsTradeCartAddUuWindow)
# ---------------------------------------------------------------------------

@register(
    "dws_cart_add_uu_window",
    oracle="""
    SELECT strftime(CAST(l.l_shipdate AS DATE), '%Y-%m-%d') AS cur_date,
           count(DISTINCT o.o_custkey)                      AS cart_add_uu_ct
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def dws_cart_add_uu_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwsTradeCartAddUuWindow (A7): daily unique cart-adding users
    (keyed last-cart-date ValueState with 1-day TTL,
    DwsTradeCartAddUuWindow.java:66-111). Cart-add facts model as
    lineitem; the user arrives via the orders join — a shuffle
    hash/sort-merge join on orderkey between two fact tables, the one
    join here that is legitimately NOT broadcastable; AQE picks the
    strategy. The per-(user,day) ValueState dedup collapses into
    count_distinct (exact; partial aggregation map-side)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "inner")
    return (
        joined.withColumn("dt", F.to_date("l_shipdate"))
        .groupBy("dt")
        .agg(F.count_distinct("o_custkey").alias("cart_add_uu_ct"))
        .select(F.date_format("dt", "yyyy-MM-dd").alias("cur_date"), "cart_add_uu_ct")
    )


# ---------------------------------------------------------------------------
# A7 — payment-success window (DwsTradePaymentSucWindow)
# ---------------------------------------------------------------------------

@register(
    "dws_payment_suc_window",
    oracle="""
    WITH paid AS (
        SELECT DISTINCT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS dt
        FROM orders WHERE o_orderstatus = 'F'
    ), firsts AS (
        SELECT user_id, dt,
               CASE WHEN dt = min(dt) OVER (PARTITION BY user_id) THEN 1 ELSE 0 END AS is_first
        FROM paid
    )
    SELECT strftime(dt, '%Y-%m-%d')                      AS cur_date,
           count(*)                                      AS payment_suc_unique_user_count,
           count(CASE WHEN is_first = 1 THEN 1 END)      AS payment_new_user_count
    FROM firsts GROUP BY 1
    """,
)
def dws_payment_suc_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwsTradePaymentSucWindow (A7+P5): payment success = the
    status-gated subset of orders (the reference filters
    payment_status='1602', DwdTradeOrderPaySucDetail.java:173-189 →
    o_orderstatus='F' here); per-day unique paying users + first-ever
    payers (keyed first-payment-date state,
    DwsTradePaymentSucWindow.java:42-109). The status filter pushes
    down to the parquet scan; one shuffle on user for the
    first-ever window function, reused by the daily dedup."""
    orders = load_table(spark, sf_dir, "orders")
    paid = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("ts")
    )
    flagged = new_vs_returning(paid, "user_id", "ts")
    return flagged.groupBy("dt").agg(
        F.count(F.lit(1)).alias("payment_suc_unique_user_count"),
        F.count(F.when(F.col("is_first_ever") == 1, 1)).alias("payment_new_user_count"),
    ).select(F.date_format("dt", "yyyy-MM-dd").alias("cur_date"),
             "payment_suc_unique_user_count", "payment_new_user_count")


# ---------------------------------------------------------------------------
# A2 — composite-key traffic window (DwsTrafficVcChArIsNewPageViewWindow)
# ---------------------------------------------------------------------------

@register(
    "dws_traffic_vc_ch_ar_is_new_window",
    oracle="""
    WITH enriched AS (
        SELECT 'v3.' || CAST(user_id % 3 AS VARCHAR)  AS vc,
               ['appstore','xiaomi','huawei','web'][CAST(event_id % 4 AS INT) + 1] AS ch,
               CAST(user_id % 6 AS VARCHAR)            AS ar,
               CASE WHEN CAST(ts AS DATE) =
                    min(CAST(ts AS DATE)) OVER (PARTITION BY user_id)
                    THEN '1' ELSE '0' END              AS is_new,
               CAST(ts AS DATE)                        AS dt,
               user_id,
               CAST(regexp_extract(props, '[0-9]+') AS INT) % 5 AS k5,
               value
        FROM events
    )
    SELECT strftime(dt, '%Y-%m-%d')                       AS cur_date,
           vc, ch, ar, is_new,
           count(*)                                       AS pv,
           count(DISTINCT user_id)                        AS uv,
           count(CASE WHEN k5 = 0 THEN 1 END)             AS sv,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
    FROM enriched
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def dws_traffic_vc_ch_ar_is_new_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwsTrafficVcChArIsNewPageViewWindow (A2+A7+A8): the composite
    (vc, ch, ar, is_new) key stays separate group columns — no string
    concat key like the reference's `vc:ch:ar:isNew`
    (DwsTrafficVcChArIsNewPageViewWindow.java:99-106); Spark shuffles
    the tuple directly. is_new derives from the user's first-ever day
    (the keyed-state repair, :120-178) as a window function; sv models
    session starts via the deterministic props digit. One shuffle for
    the user window, one for the group-by — the first partitioning is
    NOT reusable for the second (different keys), same as the
    reference's keyBy(mid) → keyBy(vc,ch,ar,isNew) chain."""
    events = load_table(spark, sf_dir, "events")
    chans = F.array(*[F.lit(c) for c in ("appstore", "xiaomi", "huawei", "web")])
    from pyspark.sql import Window

    w_user = Window.partitionBy("user_id")
    enriched = events.select(
        F.concat(F.lit("v3."), (F.col("user_id") % 3).cast("string")).alias("vc"),
        F.element_at(chans, (F.col("event_id") % 4).cast("int") + 1).alias("ch"),
        (F.col("user_id") % 6).cast("string").alias("ar"),
        F.to_date("ts").alias("dt"),
        "user_id",
        (F.regexp_extract("props", "[0-9]+", 0).cast("int") % 5).alias("k5"),
        "value",
    ).withColumn(
        "is_new",
        F.when(F.col("dt") == F.min("dt").over(w_user), "1").otherwise("0"),
    )
    return enriched.groupBy("dt", "vc", "ch", "ar", "is_new").agg(
        F.count(F.lit(1)).alias("pv"),
        F.count_distinct("user_id").alias("uv"),
        F.count(F.when(F.col("k5") == 0, 1)).alias("sv"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("dur_sum"),
    ).select(
        F.date_format("dt", "yyyy-MM-dd").alias("cur_date"),
        "vc", "ch", "ar", "is_new", "pv", "uv", "sv", "dur_sum",
    )
