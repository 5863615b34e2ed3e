"""Windowed aggregation operators (SURVEY §2.5 A1–A5).

Every DWS app in the reference is a keyed (or global) tumbling
event-time window with an incremental reduce plus a
ProcessWindowFunction that stamps window bounds
(DwsTradeSkuOrderWindow.java:124-156). In Spark this is one
declarative `groupBy(window(ts, d), *keys).agg(...)`:

- the incremental reduce = Spark partial aggregation (map-side
  combine), automatic — no custom pre-agg operator;
- the window-bound stamping = `window.start` / `window.end`
  projected as `stt`/`edt` strings;
- `cur_date` derives from window start (event time), not wall clock,
  so results are deterministic (SURVEY §7.4.6: the reference mixes
  System.currentTimeMillis and window start; we standardize on the
  latter, as DwsTradeOrderWindow.java:102 does).

At scale: the only shuffle is the hash exchange on
(window, *keys) — identical key-space to the reference's keyBy;
AQE coalesces post-shuffle partitions. Global windows (A4) still
parallelize the partial aggregation and only merge one group's
finals, same as Flink's windowAll pre-aggregated by `reduce`.
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import fmt_date, fmt_datetime


def stamp_window_bounds(df: DataFrame, window_col: str = "window") -> DataFrame:
    """Project window struct → stt/edt datetime strings + cur_date
    (TradeSkuOrderBean stt/edt/cur_date fields,
    DwsTradeSkuOrderWindow.java:142-147)."""
    return (
        df.withColumn("stt", fmt_datetime(F.col(f"{window_col}.start")))
        .withColumn("edt", fmt_datetime(F.col(f"{window_col}.end")))
        .withColumn("cur_date", fmt_date(F.col(f"{window_col}.start")))
        .drop(window_col)
    )


def tumble(df: DataFrame, ts_col: str, duration: str,
           keys: list[str] | None = None,
           aggs: Mapping[str, Column] | None = None,
           stamp: bool = True, slide: str | None = None) -> DataFrame:
    """A1/A2/A4/A5 — tumbling (or, with `slide`, hopping) event-time
    window aggregate.

    keys=[] gives the reference's windowAll
    (DwsTradeOrderWindow.java:82); keys=[...] the keyed variant
    (DwsTradeSkuOrderWindow.java:125-130). `aggs` maps output alias →
    aggregate Column, so callers control exact output names (the
    oracle contract requires stable aliases). With `slide`, each row
    fans out to its duration/slide covering windows map-side before
    the partial phase — the shuffle still moves partials per
    (window, key).
    """
    keys = keys or []
    aggs = dict(aggs or {"row_count": F.count(F.lit(1))})
    window = (F.window(F.col(ts_col), duration, slide) if slide is not None
              else F.window(F.col(ts_col), duration))
    grouped = df.groupBy(window, *keys)
    out = grouped.agg(*[c.alias(name) for name, c in aggs.items()])
    return stamp_window_bounds(out) if stamp else out


def session_agg(df: DataFrame, ts_col: str, gap: str, keys: list[str],
                aggs: Mapping[str, Column]) -> DataFrame:
    """Session-window aggregation — events of one key belong to the
    same session while consecutive gaps stay under `gap`.

    The reference has no session windows at all (SURVEY §2.9 T6);
    Spark ships them natively (F.session_window), in batch and
    Structured Streaming alike. The batch plan is one hash exchange
    on the keys + a sort to merge overlapping raw windows — the same
    cost envelope as the gaps-and-islands SQL a user would hand-write,
    with the streaming twin for free (windows/streaming_tumble's
    session variant would use the identical expression).

    Output: keys + session_start / session_end (formatted strings,
    hash-stable under the pinned session timezone) + the aggregates.
    """
    win = F.session_window(F.col(ts_col), gap)
    grouped = df.groupBy(win, *keys).agg(*[c.alias(n) for n, c in aggs.items()])
    return grouped.select(
        F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        *keys,
        *aggs.keys(),
    )


def time_bucket_rollup(df: DataFrame, ts_col: str,
                       sum_cols: Mapping[str, Column],
                       grains: Sequence[tuple[str, str]] = (
                           ("hour", "hour"), ("day", "day"), ("month", "month"),
                       )) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: per-grain
    time_bucket aggregates where every coarser grain re-aggregates the
    NEXT-FINER grain's partials instead of rescanning the base table —
    a month bucket sums ~30 day-rows, not millions of raw rows.

    `sum_cols` must be re-aggregatable by summation (counts and sums;
    for distinct counts store HLL sketches and hll_union at the coarser
    grain — same plan shape). Output is the union of all grains with a
    `grain` discriminator and the bucket start stamped hash-stably.

    Scale: the base scan happens ONCE (the finest grain); each further
    level shuffles only the previous level's bucket rows — at 100 TB
    the hour level is the only big exchange, day/month are a few
    thousand rows. This mirrors how a hypertable refreshes materialized
    rollups, expressed as three Catalyst aggregates chained on partials.
    """
    finest_name, finest_unit = grains[0]
    level = df.groupBy(
        F.date_trunc(finest_unit, F.col(ts_col)).alias("bucket")
    ).agg(*[c.alias(n) for n, c in sum_cols.items()])
    names = list(sum_cols.keys())

    def stamped(lvl: DataFrame, grain: str) -> DataFrame:
        return lvl.select(
            F.lit(grain).alias("grain"),
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            *names,
        )

    out = stamped(level, finest_name)
    for grain_name, unit in grains[1:]:
        level = level.groupBy(
            F.date_trunc(unit, F.col("bucket")).alias("bucket")
        ).agg(*[F.sum(n).alias(n) for n in names])
        out = out.unionByName(stamped(level, grain_name))
    return out


def profile_columns(df: DataFrame, columns: Sequence[str] | None = None,
                    exact_distinct: bool = True) -> DataFrame:
    """Single-pass dataset profiler: one output row per column with
    row/null/distinct counts and stringified min/max — the first query
    anyone runs against an unfamiliar 100 TB table.

    All statistics for all columns come from ONE aggregate over ONE
    scan. With `exact_distinct` the multi-distinct aggregate plans an
    Expand (input duplicated ×columns before the shuffle — exact, and
    oracle-checkable); at warehouse scale pass exact_distinct=False to
    use HLL sketches instead: no Expand, single ungrouped partial
    per executor, the standard profiling trade.

    min/max are computed on the NATIVE type (so numeric/timestamp
    ordering is correct) and stringified afterwards, hash-stably:
    timestamps via date_format, doubles via a 2-decimal cast."""
    cols = list(columns or df.columns)
    dtypes = dict(df.dtypes)

    def stringify(expr: Column, dt: str) -> Column:
        if dt == "timestamp":
            return F.date_format(expr, "yyyy-MM-dd HH:mm:ss")
        if dt == "double":
            return expr.cast("decimal(18,2)").cast("string")
        return expr.cast("string")

    nd = F.count_distinct if exact_distinct else F.approx_count_distinct
    aggs = []
    for c in cols:
        dt = dtypes[c]
        aggs += [
            F.count(F.lit(1)).alias(f"__rows_{c}"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"__nulls_{c}"),
            nd(c).alias(f"__nd_{c}"),
            stringify(F.min(c), dt).alias(f"__min_{c}"),
            stringify(F.max(c), dt).alias(f"__max_{c}"),
        ]
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"__rows_{c}").alias("n_rows"),
            F.col(f"__nulls_{c}").alias("n_nulls"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_value"),
            F.col(f"__max_{c}").alias("max_value"),
        )
        for c in cols
    ]
    return row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def sliding(df: DataFrame, ts_col: str, duration: str, slide: str,
            keys: list[str] | None = None,
            aggs: Mapping[str, Column] | None = None) -> DataFrame:
    """Sliding (hopping) event-time window aggregate — absent from the
    reference (tumbling only) but table stakes for an analytics
    engine. Thin alias for tumble(slide=...): one implementation of
    the window-aggregate shape to keep in sync."""
    return tumble(df, ts_col, duration, keys=keys, aggs=aggs, slide=slide)


def gapfill_locf(buckets: DataFrame, bucket_col: str,
                 key_cols: Sequence[str], val_cols: Sequence[str],
                 step: str = "1 hour") -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward
    (the hypertable `time_bucket_gapfill` + `locf` pair): for each
    key, generate the dense bucket calendar between that key's first
    and last observed bucket, left-join the sparse aggregates, and
    fill holes with the most recent non-null value.

    Input is the BUCKET-AGGREGATED table (one row per key×bucket that
    has data) — the calendar explode fans out per key×bucket, never
    per raw row, so at 100 TB the gapfill works on the rollup's
    cardinality. One extra shuffle: the per-key ordered window for
    the carry-forward. Adds `is_gapfilled` per row, detected via a
    constant marker column stamped on the observed rows before the
    calendar left-join — null value columns in an OBSERVED bucket do
    not mislabel it as gapfilled (and a gapfilled flag never depends
    on which value column happens to be first)."""
    keys = list(key_cols)
    marked = buckets.withColumn("__observed", F.lit(1))
    bounds = buckets.groupBy(*keys).agg(
        F.min(bucket_col).alias("__b0"), F.max(bucket_col).alias("__b1")
    )
    cal = bounds.select(
        *keys,
        F.explode(
            F.sequence("__b0", "__b1", F.expr(f"interval {step}"))
        ).alias(bucket_col),
    )
    joined = cal.join(marked, [*keys, bucket_col], "left")
    w = (
        Window.partitionBy(*keys).orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        *keys,
        bucket_col,
        F.when(F.col("__observed").isNull(), 1).otherwise(0).alias("is_gapfilled"),
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in val_cols],
    )


def gapfill_interp(buckets: DataFrame, bucket_col: str,
                   key_cols: Sequence[str], val_col: str,
                   step: str = "1 hour") -> DataFrame:
    """Time-series gap filling by LINEAR INTERPOLATION — the other
    half of the hypertable `time_bucket_gapfill` pair (`interpolate`
    next to `locf`): each hole gets the value on the straight line
    between the surrounding observed buckets; leading/trailing holes
    (no observation on one side) fall back to the nearest observed
    value.

    Same scale shape as gapfill_locf: the calendar explode runs on
    the ROLLUP's cardinality, and the fill is two ordered windows per
    key (carry the previous observed (index, value) forward, the next
    one backward) — no self-join of the calendar against the
    observations. Interpolation weights use the dense calendar ROW
    NUMBER, not epoch arithmetic, so the weights are small exact
    integers on any engine and decimal values stay exact until one
    final double division (hash-stable across engines).

    Interpolation needs the NEXT observation, so this is inherently a
    batch/lookback verb — the streaming twin of gap filling is LOCF
    (streaming/stateful.gapfill_locf_stream), which only ever looks
    back."""
    keys = list(key_cols)
    marked = buckets.withColumn("__observed", F.lit(1))
    bounds = buckets.groupBy(*keys).agg(
        F.min(bucket_col).alias("__b0"), F.max(bucket_col).alias("__b1")
    )
    cal = bounds.select(
        *keys,
        F.explode(
            F.sequence("__b0", "__b1", F.expr(f"interval {step}"))
        ).alias(bucket_col),
    )
    joined = cal.join(marked, [*keys, bucket_col], "left").withColumn(
        "__rn",
        F.row_number().over(Window.partitionBy(*keys).orderBy(bucket_col)),
    )
    obs = F.when(
        F.col("__observed").isNotNull() & F.col(val_col).isNotNull(),
        F.struct(F.col("__rn").alias("rn"), F.col(val_col).alias("v")),
    )
    w_prev = (Window.partitionBy(*keys).orderBy("__rn")
              .rowsBetween(Window.unboundedPreceding, 0))
    w_next = (Window.partitionBy(*keys).orderBy("__rn")
              .rowsBetween(0, Window.unboundedFollowing))
    withnb = joined.select(
        *keys, bucket_col, "__rn", val_col,
        F.when(F.col("__observed").isNull(), 1).otherwise(0)
        .alias("is_gapfilled"),
        F.last(obs, ignorenulls=True).over(w_prev).alias("__p"),
        F.first(obs, ignorenulls=True).over(w_next).alias("__n"),
    )
    p_rn, p_v = F.col("__p.rn"), F.col("__p.v")
    n_rn, n_v = F.col("__n.rn"), F.col("__n.v")
    rn = F.col("__rn")
    # exact decimal numerator, ONE double division (identical on any
    # IEEE engine), stabilized by the caller's final decimal cast
    interp = (
        (p_v * (n_rn - rn) + n_v * (rn - p_rn)).cast("double")
        / (n_rn - p_rn).cast("double")
    )
    filled = (
        F.when(F.col("is_gapfilled") == 0, F.col(val_col).cast("double"))
        .when(F.col("__p").isNull(), n_v.cast("double"))
        .when(F.col("__n").isNull(), p_v.cast("double"))
        .otherwise(interp)
    )
    return withnb.select(
        *keys, bucket_col, "is_gapfilled", filled.alias(val_col),
    )


def quantile_bucket_expr(value_col: str, bounds: dict, keys: Sequence[str],
                         n_buckets: int = 1024) -> Column:
    """Per-group equi-width bucket id for the two-pass exact quantile:
    nested WHENs select each group's own (lo, hi) bounds. `bounds`
    maps group-key tuple → (lo, hi, n) — the stats-scan output. Shared
    by the histogram and bracket passes (the filter must reuse the
    IDENTICAL expression so no float-boundary row falls between them)
    and exposed so callers can ride their own aggregates on the same
    scans (see two_pass_exact_quantile docstring).

    NULL values bucket to NULL (least() would otherwise skip the NULL
    and file them under the top bucket), so they carry no rank in
    either pass; a group whose bounds are None (no non-null value, or
    an empty ungrouped input) gets no bucket at all."""
    keys = list(keys)
    v = F.col(value_col).cast("double")

    def bucket_expr(lo: float, hi: float):
        span = (hi - lo) or 1.0
        return F.when(v.isNotNull(), F.least(
            F.lit(n_buckets - 1),
            F.floor((v - F.lit(lo)) / F.lit(span)
                    * F.lit(n_buckets)).cast("long")))

    if not keys:
        lo, hi, _n = bounds[()]
        return (F.lit(None).cast("long") if lo is None
                else bucket_expr(lo, hi))
    bexpr = None
    for gk, (lo, hi, _n) in bounds.items():
        if lo is None:
            continue
        cond = None
        for kcol, kval in zip(keys, gk):
            c = F.col(kcol) == F.lit(kval)
            cond = c if cond is None else (cond & c)
        be = bucket_expr(lo, hi)
        bexpr = be if bexpr is None else F.when(cond, be).otherwise(bexpr)
        # build nested whens so each group uses its own bounds
    return F.lit(None).cast("long") if bexpr is None else bexpr


def quantile_multi_bracket(df: DataFrame, value_col: str,
                           qs: Sequence[float], keys: Sequence[str],
                           n_buckets: int, bounds: dict,
                           per_group: dict) -> DataFrame:
    """Bracket pass of the multi-quantile two-pass plan: locate every
    (group, q) target rank in the driver-held histogram (`per_group`:
    group → [(bucket, count)]), scan ONLY the target buckets, rank
    within (group, bucket) and broadcast-join each target rank out.
    Factored from two_pass_exact_quantile so callers that merged their
    own aggregates into the stats/histogram scans reuse the identical
    bracket logic (same rank convention, same bucket expression)."""
    keys = list(keys)
    v = F.col(value_col).cast("double")
    bexpr = quantile_bucket_expr(value_col, bounds, keys, n_buckets)
    hits = []  # (group_key, q, bucket, remaining_rank)
    for gk, bl in per_group.items():
        n = bounds[gk][2]
        if not n:  # group with zero non-null values: no quantile exists
            continue
        # NULL values bucket to NULL in the histogram: they carry no rank
        sbl = sorted((b, c) for b, c in bl if b is not None)
        for qq in qs:
            want = max(1, math.ceil(qq * n))
            below = 0
            for b, c in sbl:
                if below + c >= want:
                    hits.append((gk, qq, b, want - below))
                    break
                below += c
    if not hits:  # empty input (or only empty groups): empty result
        return df.select(
            *[F.col(k) for k in keys],
            F.lit(0.0).alias("q"),
            v.alias(f"{value_col}_q"),
        ).limit(0)
    cond = None
    for gk, _qq, b, _kk in {(gk, None, b, None)
                            for gk, _q2, b, _k2 in hits}:
        gcond = F.col("__b") == F.lit(b)
        for kcol, kval in zip(keys, gk):
            gcond = gcond & (F.col(kcol) == F.lit(kval))
        cond = gcond if cond is None else (cond | gcond)
    tgt = df.sparkSession.createDataFrame(
        [tuple(gk) + (qq, int(b), int(kk)) for gk, qq, b, kk in hits],
        schema=df.select(*[F.col(k) for k in keys]).schema.add(
            "q", "double").add("__tb", "long").add("__tk", "long"),
    )
    ranked = (
        df.withColumn("__b", bexpr).filter(cond)
        .withColumn("__rn", F.row_number().over(
            (Window.partitionBy(*keys, "__b") if keys
             else Window.partitionBy("__b")).orderBy(v)))
    )
    joined = ranked.join(
        F.broadcast(tgt),
        [*(ranked[k] == tgt[k] for k in keys),
         ranked["__b"] == tgt["__tb"], ranked["__rn"] == tgt["__tk"]],
    )
    return joined.select(
        *[ranked[k] for k in keys], tgt["q"],
        v.alias(f"{value_col}_q"))


def two_pass_exact_quantile(df: DataFrame, value_col: str,
                            q: float | Sequence[float],
                            keys: Sequence[str] = (),
                            n_buckets: int = 1024) -> DataFrame:
    """Exact (discrete, lower-median convention) quantile per group
    WITHOUT a global sort — the documented escape hatch for huge
    value domains where the pre-aggregated-cumulative-window plan
    (weighted_median_price) would still window over too many distinct
    values.

    Two passes over the data, both shuffle-light:
      1. one scan → per-(group, equi-width bucket) exact counts
         (map-side partials; ≤ |groups|·n_buckets rows leave the
         scan). The driver receives only this bounded histogram —
         model-parameter-sized, like kmeans_train — and locates each
         group's target bucket plus the rank remaining inside it.
      2. one scan → rows of the target buckets only (the filter
         reuses the IDENTICAL bucket expression, so no float-boundary
         row can fall between the passes), row_number per group over
         the bracket (each partition sorts ~n/n_buckets rows), pick
         the remaining rank. At 100 TB with 1024 buckets the sorted
         bracket is ~0.1% of the table.

    Rank convention: k = (n+1)//2-style lower quantile —
    k = ceil(q·n) 1-indexed, matching DuckDB quantile_disc.

    r12: `q` may be a SEQUENCE of quantiles — the min/max/count pass
    and the histogram pass are q-INDEPENDENT, so k quantiles share
    them instead of paying 2 extra scans each (guide §1.2 step 1:
    remove unnecessary passes; sketch_quantile_error's three-q
    certification dropped from 9 scans to 4). Multi-q output adds a
    `q` column: (keys…, q, {value_col}_q), one row per (group, q);
    the scalar form and its schema are byte-unchanged.

    The three stages are exposed as module helpers
    (`quantile_bucket_expr`, `quantile_multi_bracket`) so a caller
    that already scans the data for its own aggregates can RIDE the
    stats/histogram scans instead of re-reading (guide §1.2 step 1;
    sketch_quantile_error merges its sketch and conditional-count
    aggregates into these scans, 5 scans → 3)."""
    keys = list(keys)
    gb = lambda d: d.groupBy(*keys) if keys else d.groupBy()  # noqa: E731

    v = F.col(value_col).cast("double")
    stats = gb(df).agg(F.min(v).alias("lo"), F.max(v).alias("hi"),
                       F.count(v).alias("n")).collect()
    bounds = {tuple(r[k] for k in keys): (r["lo"], r["hi"], r["n"])
              for r in stats}

    bexpr = quantile_bucket_expr(value_col, bounds, keys, n_buckets)
    hist = (
        df.withColumn("__b", bexpr)
        .groupBy(*keys, "__b").agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    per_group: dict[tuple, list] = {}
    for r in hist:
        per_group.setdefault(tuple(r[k] for k in keys), []).append(
            (r["__b"], r["c"]))

    if not isinstance(q, (int, float)):
        return quantile_multi_bracket(
            df, value_col, [float(x) for x in q], keys, n_buckets,
            bounds, per_group)

    targets = {}  # group -> (bucket, remaining_rank)
    for gk, bl in per_group.items():
        n = bounds[gk][2]
        if not n:
            continue
        k = max(1, math.ceil(q * n))
        below = 0
        for b, c in sorted((b, c) for b, c in bl if b is not None):
            if below + c >= k:
                targets[gk] = (b, k - below)
                break
            below += c

    out_cols = [*keys, v.alias(f"{value_col}_q")]
    if not targets:  # empty input (or only all-NULL groups)
        return df.select(*out_cols).limit(0)

    # pass 2 — bracket rows only, bounded per-group sort
    cond = None
    rank_expr = F.lit(None).cast("long")
    for gk, (b, kk) in targets.items():
        gcond = F.col("__b") == F.lit(b)
        for kcol, kval in zip(keys, gk):
            gcond = gcond & (F.col(kcol) == F.lit(kval))
        cond = gcond if cond is None else (cond | gcond)
        rank_expr = F.when(gcond, F.lit(kk)).otherwise(rank_expr)
    bracket = (
        df.withColumn("__b", bexpr).filter(cond)
        .withColumn("__target_rank", rank_expr)
    )
    w = (Window.partitionBy(*keys) if keys
         else Window.partitionBy(F.lit(1)))
    picked = (
        bracket.withColumn("__rn", F.row_number().over(w.orderBy(v)))
        .filter(F.col("__rn") == F.col("__target_rank"))
    )
    return picked.select(*out_cols)
