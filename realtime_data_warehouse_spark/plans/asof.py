"""Event-time as-of enrichment as a keyed-state stream, under three
arrival contracts.

Every entry replays the same tagged view/purchase stream (views are
the reference side) and emits each purchase enriched with the user's
latest view at-or-before it. All three hash-match the same DuckDB
native `ASOF LEFT JOIN` oracle, which proves each kernel reproduces
the batch join exactly on its own arrival path:

1. strict per-key event-time order (`stream_asof_enrich`) — O(1)
   latest-right state, exact;
2. arbitrary cross-key disorder, per-key order kept
   (`stream_asof_disordered`) — same kernel, exact, because state is
   keyed;
3. bounded per-key LATENESS (`stream_asof_late`) — rows arrive up to
   `slack` event-time out of order WITHIN a key. The O(1) kernel can
   only degrade safely there (a late left emits unmatched — pinned by
   test_asof_enrich_stream_bounded_lateness_degrades_safely);
   `stateful.asof_enrich_stream_exact` instead buffers a bounded right
   HISTORY plus the undecided lefts and emits each left only when the
   key's frontier (max event time seen − slack) passes it, so every
   emission is the true backward-inclusive match. Reference anchor:
   T1 bounded out-of-orderness (DwsTradeSkuOrderWindow.java:213-221)
   is precisely this slack — the reference buffers in its watermark
   machinery, we buffer in keyed state.

Why contract 2 needs its own replay: the other staged replays deliver
GLOBAL event-time order (range-split on the time column), stronger
than what a 100 TB Kafka replay guarantees. A keyed topic gives
per-partition (hence per-key) order and NOTHING across keys;
`runner.staged_files_dir_keyed` stages exactly that — batch k holds
every key's k-th rank range, whatever the absolute timestamps.
Contract 3's staging (`runner.staged_files_dir_bounded_late`) makes
the lateness real: arrival position = event time + deterministic
jitter in [0, slack), range-split into micro-batches, so batches
interleave views and purchases up to an hour out of event-time order.

The disordered and late entries are tier "variant": further physical
arrival paths of `stream_asof_enrich`, kept as correctness evidence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.batch import load_table
from ..streaming.runner import (
    append_final_file,
    read_back,
    run_available_now,
    staged_files_dir,
    staged_files_dir_bounded_late,
    staged_files_dir_keyed,
)
from ..streaming.stateful import (
    ASOF_FLUSH_TAG,
    asof_enrich_stream,
    asof_enrich_stream_exact,
)
from .registry import register
from .streaming_queries import _auto_store, _dirs, _stage_once

_ASOF_STREAM_ORACLE = """
    WITH views AS (
        SELECT user_id, ts, max(event_id) AS view_event_id,
               max_by(value, event_id) AS view_value
        FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ),
    purchases AS (
        SELECT user_id, ts, event_id FROM events
        WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id,
           p.user_id  AS user_id,
           v.view_event_id AS view_event_id,
           CAST(date_diff('microsecond', v.ts, p.ts) AS BIGINT) AS gap_us,
           v.view_value AS view_value
    FROM purchases p
    ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND v.ts <= p.ts
"""

#: one hour of bounded per-key lateness, in microseconds (the tagged
#: stream's clock) — large enough that thousands of events genuinely
#: reorder at sf0.01+, small enough that per-key buffered state stays
#: a slack window, not history.
_SLACK_US = 3_600_000_000

#: column roles of the tagged stream, shared by both kernels
_ASOF_COLS = {"key_col": "user_id", "ts_col": "ts_us", "tag_col": "tag",
              "id_col": "id", "payload_cols": ("rid", "value")}


def _tagged_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tagged view (tag 0) / purchase (tag 1) stream: views
    deduped per (user, ts) to max event_id — the tie discipline both
    engines share."""
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("rid"),
             F.expr("max_by(value, event_id)").alias("value"))
        .select("user_id", F.unix_micros("ts").alias("ts_us"),
                F.lit(0).alias("tag"), F.col("rid").alias("id"),
                "rid", "value")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("ts_us"),
                F.lit(1).alias("tag"), F.col("event_id").alias("id"),
                F.lit(None).cast("long").alias("rid"),
                F.lit(None).cast("double").alias("value"))
    )
    return views.unionByName(purchases)


def _drain(spark: SparkSession, sf_dir: str, stage: str, in_dir: str,
           schema, kernel) -> DataFrame:
    """Replay the staged `in_dir` one file per micro-batch through
    `kernel`, drain it, and read the enriched purchases back in the
    oracle's shape."""
    _, out, ck = _dirs()
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    enriched = kernel(sdf)
    with _auto_store(spark, sf_dir, stage, in_dir, "user_id"):
        run_available_now(enriched, out, ck)
    return read_back(spark, out).select(
        F.col("id").alias("purchase_id"),
        "user_id",
        F.col("rid").alias("view_event_id"),
        (F.col("ts_us") - F.col("matched_ts")).alias("gap_us"),
        F.col("value").alias("view_value"),
    )


@register("stream_asof_enrich", oracle=_ASOF_STREAM_ORACLE)
def stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time as-of join as a KEYED-STATE STREAM
    (`streaming/stateful.asof_enrich_stream`): views (the reference
    side) and purchases replay interleaved in one event-time-ordered
    3-micro-batch stream, and each purchase is emitted enriched with
    the user's latest view at-or-before it — across batch boundaries,
    through a last-right-row ValueState (a view in batch 1 must match
    a purchase in batch 3 via the state store). Left semantics:
    never-viewed purchasers emit with null view columns.

    The batch twin is `operators.joins.asof_join`
    (union + one-shuffle ordered window scan — entry
    `asof_last_error`); this is its 24/7 form, where history is never
    re-sorted and state is one row per key. The oracle is DuckDB's
    NATIVE `ASOF LEFT JOIN` — a third, independent formulation of the
    same semantics (window scan / keyed state / merge asof) that all
    three must agree on. Views are deduped to one row per (user, ts)
    (max event_id, its value) because an as-of match among equal-ts
    right rows is otherwise ill-defined — the same uniqueness contract
    the batch operator documents. Reference anchor: extends J-family
    (SURVEY §2.4); the reference has no as-of surface."""
    tagged = _tagged_events(spark, sf_dir)
    in_dir = _stage_once(
        sf_dir, "asof_tagged",
        lambda base: staged_files_dir(tagged, base, n_files=3,
                                      order_col="ts_us"),
    )
    return _drain(spark, sf_dir, "asof_tagged", in_dir, tagged.schema,
                  lambda sdf: asof_enrich_stream(sdf, **_ASOF_COLS))


@register("stream_asof_disordered", tier="variant",
          oracle=_ASOF_STREAM_ORACLE)
def stream_asof_disordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`stream_asof_enrich`'s twin on the keyed (cross-key-disordered)
    replay: same tagged view/purchase stream, same keyed-state kernel
    (`streaming/stateful.asof_enrich_stream`), same DuckDB ASOF
    oracle — but micro-batch k now carries each USER's k-th slice of
    events instead of the global k-th time range, so batches mix
    early and late absolute timestamps across users. State is keyed,
    so the answer must not move; the oracle hash is the proof."""
    tagged = _tagged_events(spark, sf_dir)
    in_dir = _stage_once(
        sf_dir, "asof_tagged_keyed",
        lambda base: staged_files_dir_keyed(
            tagged, base, key_col="user_id",
            order_col=("ts_us", "tag", "id"), n_files=3),
    )
    return _drain(spark, sf_dir, "asof_tagged_keyed", in_dir,
                  tagged.schema,
                  lambda sdf: asof_enrich_stream(sdf, **_ASOF_COLS))


@register("stream_asof_late", tier="variant",
          oracle=_ASOF_STREAM_ORACLE)
def stream_asof_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment, EXACT under bounded per-key lateness (module
    docstring, contract 3): the tagged stream replays through the
    bounded-late staging (arrival = event time + hash-jitter < 1 h),
    the watermark-buffered kernel holds undecided rows until the
    per-key frontier passes them, and an end-of-stream punctuation
    batch (stateful.ASOF_FLUSH_TAG) flushes the final slack window.
    Output hash must equal the SAME DuckDB ASOF oracle as the ordered
    and disordered twins — the proof the buffering is exact, not
    merely convergent."""
    tagged = _tagged_events(spark, sf_dir)

    def build(base: str) -> str:
        in_dir = staged_files_dir_bounded_late(
            tagged, base, ts_col="ts_us", jitter_cols=("id", "tag"),
            slack=_SLACK_US, n_files=4)
        flush = (
            tagged.select("user_id").distinct()
            .select("user_id",
                    F.lit(1 << 62).alias("ts_us"),
                    F.lit(ASOF_FLUSH_TAG).alias("tag"),
                    F.lit(0).cast("long").alias("id"),
                    F.lit(None).cast("long").alias("rid"),
                    F.lit(None).cast("double").alias("value"),
                    F.lit(1 << 62).alias("__arr"))
        )
        append_final_file(in_dir, flush)
        return in_dir

    in_dir = _stage_once(sf_dir, "asof_tagged_late", build)
    return _drain(
        spark, sf_dir, "asof_tagged_late", in_dir,
        "user_id long, ts_us long, tag int, id long, rid long, value double",
        lambda sdf: asof_enrich_stream_exact(sdf, **_ASOF_COLS,
                                             slack=_SLACK_US))
