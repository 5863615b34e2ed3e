"""Join operators (SURVEY §2.4 J1–J6).

The reference hand-builds joins as Flink keyed state machines with
TTLs; here each is a declarative join Catalyst plans — broadcast-hash
for the dim sides (no shuffle), sort-merge/shuffle-hash for the big
fact×fact sides, with AQE skew handling. Watermarked streaming twins
are in streaming/.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# J2 — interval join (DwdTradeOrderPaySucDetail.java:123-148)
# ---------------------------------------------------------------------------

def interval_join(left: DataFrame, right: DataFrame, key: str,
                  left_ts: str, right_ts: str,
                  lower: str, upper: str,
                  how: str = "inner") -> DataFrame:
    """`l.key = r.key AND r.ts BETWEEN l.ts - lower AND l.ts + upper`
    (reference: payment.row_time BETWEEN od.row_time - 15' AND + 5'').

    Planned as an equi-join on `key` with the range as a post-join
    filter — the shuffle is on the equi key, so this scales like a
    plain join; the range predicate never forces a cartesian. In
    streaming the same expression plus watermarks on both sides is
    Spark's native stream-stream interval join."""
    lcols = {c for c in left.columns} & {c for c in right.columns} - {key}
    r = right
    for c in lcols:
        r = r.withColumnRenamed(c, f"r_{c}")
    rts = f"r_{right_ts}" if right_ts in lcols else right_ts
    cond = (
        (left[key] == r[key])
        & (F.col(rts) >= F.col(left_ts) - F.expr(f"INTERVAL {lower}"))
        & (F.col(rts) <= F.col(left_ts) + F.expr(f"INTERVAL {upper}"))
    )
    return left.join(r, cond, how).drop(r[key])


# ---------------------------------------------------------------------------
# J3 — lookup/temporal join (DwdInteractionCommentInfo.java:53-68)
# ---------------------------------------------------------------------------

def lookup_join(fact: DataFrame, dim: DataFrame, on, how: str = "left",
                projected: Sequence[str] | None = None) -> DataFrame:
    """FOR SYSTEM_TIME AS OF proc_time ≈ stream-static join against
    the current dim snapshot, broadcast (dims are small relative to
    facts; the Redis/HBase cache tier of the reference is replaced by
    the broadcast itself — SURVEY §1.1)."""
    d = dim.select(*projected) if projected else dim
    return fact.join(F.broadcast(d), on, how)


# ---------------------------------------------------------------------------
# J5 — snowflake dim enrichment chain (DwsTradeSkuOrderWindow.java:72-122)
# ---------------------------------------------------------------------------

def snowflake_join(fact: DataFrame,
                   chain: Sequence[tuple[DataFrame, str | Column, Sequence[str]]],
                   how: str = "left") -> DataFrame:
    """Sequence of stream-static left joins walking a dim hierarchy
    (sku→spu→c3→c2→c1→tm in the reference; customer→nation→region on
    the driver tables). Each dim is broadcast: 6 chained broadcast-hash
    joins = zero extra shuffles, vs the reference's 6 async RPC stages
    + Redis cache (DimAsyncFunction.java:22-91 made obsolete)."""
    out = fact
    for dim, on, projected in chain:
        d = dim.select(*projected) if projected else dim
        out = out.join(F.broadcast(d), on, how)
    return out


# ---------------------------------------------------------------------------
# J6 — lateral UDTF join lives in functions.tokenize.explode_keywords
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Skew mitigation — salted join (the explicit form of what AQE's
# skew-join split does at runtime; use when skew is known a priori,
# e.g. a "null key" or celebrity-entity hot spot at 100 TB).
# ---------------------------------------------------------------------------

def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt_buckets: int = 16, how: str = "inner") -> DataFrame:
    """Equi-join where `big`.`key` is skewed: salt the big side with a
    random bucket in [0, salt_buckets), replicate the small side
    across every bucket, and join on (key, salt). A hot key's rows
    spread over `salt_buckets` reducers instead of one straggler task.

    The salt is rand()-derived (per-row, no correctness impact for an
    equi join: every big row still meets exactly its key's small rows
    via the matching replica). Cost: small side × salt_buckets —
    acceptable precisely when the small side broadcasts or nearly
    does. Results are identical to big.join(small, key, how) for
    'inner' and 'left' ONLY — those are the supported modes: a
    'right'/'full' variant would surface each unmatched small-side
    row once per replica (salt_buckets copies), so it is rejected.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: the "
            "replicated small side would emit unmatched rows "
            f"{salt_buckets}x under right/full joins"
        )
    salted_big = big.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    replicas = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = salted_big.join(replicas, [key, "__salt"], how)
    return out.drop("__salt")


# ---------------------------------------------------------------------------
# As-of join — an operator Spark lacks natively (absent in the
# reference too, SURVEY §2.4 "not present"; first-class here because
# time-series enrichment is a core warehouse capability and DuckDB
# ships it as ASOF JOIN, giving the oracle).
# ---------------------------------------------------------------------------

def asof_join(left: DataFrame, right: DataFrame, key: str,
              left_ts: str, right_ts: str,
              direction: str = "backward",
              tolerance: str | None = None) -> DataFrame:
    """Left as-of join: for each left row, attach the single right row
    of the same `key` with the greatest `right_ts` <= `left_ts`
    (direction='backward'; 'forward' = smallest right_ts >= left_ts).
    Equal timestamps match. Unmatched left rows keep nulls.

    NOT implemented as a range join (per-row range probes explode on
    dense keys) but as the scale-canonical union-scan plan:

        union(right tagged 0, left tagged 1)
        → one hash exchange on `key` + one sort on (ts, tag)
        → running last_value(right cols, ignorenulls) per key
        → keep left rows

    One shuffle + one sort total, same cost envelope as a groupBy over
    the union — survives any key density because each partition is a
    single ordered scan, never a per-row probe. Sorting right (tag 0)
    before left (tag 1) at equal ts yields the inclusive bound; for
    'forward' the scan runs time-reversed with the same tag order.

    `tolerance` (an INTERVAL literal, e.g. '1 hour') nulls out matches
    farther than the window — left rows are kept either way, matching
    pandas.merge_asof semantics.

    Right rows must be unique per (key, right_ts): dedupe upstream
    (the match "latest right row at ts T" is otherwise ill-defined —
    DuckDB's ASOF picks one arbitrarily, which breaks hash parity).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    rcols = [c for c in right.columns if c not in (key, right_ts)]
    overlap = set(rcols) & set(left.columns)
    if overlap:
        raise ValueError(f"right payload columns collide with left: {sorted(overlap)}")

    r = right.select(
        F.col(key),
        F.col(right_ts).alias("__ats"),
        F.lit(0).alias("__tag"),
        F.col(right_ts).alias("__rts"),
        *[F.col(c) for c in rcols],
    )
    lpass = [c for c in left.columns if c not in (key, left_ts)]
    l = left.select(  # noqa: E741
        F.col(key),
        F.col(left_ts).alias("__ats"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(r.schema["__rts"].dataType).alias("__rts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in rcols],
        *[F.col(c) for c in lpass],
    )
    unioned = r.select(
        "*", *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lpass]
    ).unionByName(l)

    from pyspark.sql import Window

    ts_order = F.col("__ats").asc() if direction == "backward" else F.col("__ats").desc()
    w = (
        Window.partitionBy(key)
        .orderBy(ts_order, F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        key, "__ats", "__tag",
        F.last("__rts", ignorenulls=True).over(w).alias("__mts"),
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in rcols],
        *[F.col(c) for c in lpass],
    )
    out = filled.filter(F.col("__tag") == 1)
    if tolerance is not None:
        if direction == "backward":
            in_tol = F.col("__mts") >= F.col("__ats") - F.expr(f"INTERVAL {tolerance}")
        else:
            in_tol = F.col("__mts") <= F.col("__ats") + F.expr(f"INTERVAL {tolerance}")
        out = out.select(
            key, "__ats", "__mts",
            *[F.when(in_tol, F.col(c)).otherwise(F.lit(None)).alias(c) for c in rcols],
            *[F.col(c) for c in lpass],
        ).withColumn("__mts", F.when(in_tol, F.col("__mts")))
    return out.select(
        key,
        F.col("__ats").alias(left_ts),
        F.col("__mts").alias(f"matched_{right_ts}"),
        *[F.col(c) for c in rcols],
        *[F.col(c) for c in lpass],
    )


# ---------------------------------------------------------------------------
# Range join — point-in-interval / interval-overlap without the
# nested-loop trap (absent in the reference; first-class here because
# time-range enrichment is a core warehouse capability, and a naive
# `p BETWEEN s AND e` join plans as BroadcastNestedLoop / cartesian).
# ---------------------------------------------------------------------------

def range_join(points: DataFrame, intervals: DataFrame,
               point_col: str, start_col: str, end_col: str,
               bin_width: int, keys: list[str] | None = None,
               how: str = "inner") -> DataFrame:
    """Join each point row to every interval row whose
    `[start_col, end_col)` contains `point_col` (numeric columns —
    callers convert timestamps to epoch first, keeping full precision).

    Inner-only: the containment predicate is applied as a residual
    filter AFTER the bucket equi-join, so an outer join's unmatched
    rows (null start/end) would be silently re-dropped by the filter —
    collapsing it back to inner semantics. Rather than ship that trap,
    any non-inner `how` is rejected.

    Plan: the binning rewrite every range-join-capable engine applies.
    Intervals explode to one row per `bin_width` bucket they overlap
    (`sequence(floor(s/w), floor(e/w))`), points map to their single
    bucket, and the join becomes an EQUI-join on (bucket[, keys]) with
    the exact containment predicate as a residual filter. Catalyst
    plans a plain shuffled/broadcast hash join — never a nested loop —
    and each point meets only the intervals sharing its bucket.

    No dedup is needed: a point lives in exactly one bucket, and each
    interval appears once per bucket, so every (point, interval) pair
    joins at most once.

    Scale: the exchange key is the bucket — uniform when intervals are
    spread over the domain. `bin_width` trades replication for
    selectivity: interval rows replicate ~(len/bin_width + 1)×, while
    each point's bucket holds intervals within bin_width of it; set it
    near the median interval length so replication stays O(1) and the
    residual filter discards little. Keyed variants (`keys`) shrink
    buckets further by co-grouping on the equi-key first.
    """
    if how != "inner":
        raise ValueError(
            f"range_join supports how='inner' only, got {how!r}: the "
            "residual containment filter would drop outer-side rows"
        )
    # integer `div`, not float division: epoch-micros exceed double's
    # exact-integer range, and a one-ULP error at a bucket boundary
    # would silently drop a matching pair.
    keys = keys or []
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.expr(f"cast({start_col} as long) div {bin_width}"),
                F.expr(f"cast({end_col} as long) div {bin_width}"),
            )
        ),
    )
    pt = points.withColumn("__bin", F.expr(f"cast({point_col} as long) div {bin_width}"))
    joined = pt.join(
        iv,
        on=["__bin", *keys],
        how=how,
    ).filter(
        (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) < F.col(end_col))
    )
    return joined.drop("__bin")
