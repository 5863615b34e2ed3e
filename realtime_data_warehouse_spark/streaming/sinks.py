"""Streaming sinks (SURVEY §2.2 K1–K7).

File-backed analogues of the reference's Kafka / Doris / HBase sinks.
Every sink here is a foreachBatch function usable with
runner.run_foreach_batch, plus the plain append sink in runner.py:

- K1/K3/K4 append        → runner.run_available_now (parquet append)
- K2 dynamic routing     → route_by_column: one write partitioned by
                           the per-row `sink_table` column — Spark's
                           version of topic-per-record
                           (FlinkSinkUtil.java:35-50).
- K5 upsert sink         → upsert_batch: MERGE-style latest-per-key
                           table maintenance (upsert-kafka,
                           SQLUtil.java:46-54).
- K6 dim upsert+delete   → dim_upsert_batch: apply CDC ops incl.
                           deletes (DimHBaseSinkFunction.java:16-105).
- K7 console             → writeStream.format("console"), no helper
                           needed.

Scale note — since round 9 every MERGE sink here rides
`merge_table.BucketedMergeTable`: stored rows are hash-bucketed by
merge key into flat bucket-named parquet files and each micro-batch
rewrites ONLY the buckets its keys touch, under a commit-marker
roll-forward that preserves the round-7 exactly-once kill-point
guarantees (see merge_table's module docstring for the layout, crash
discipline, and the Delta/Iceberg production analogue). Per-batch cost
is O(batch + table·touched/n_buckets) instead of O(table); plain
``spark.read.parquet(table_dir)`` readers are unchanged.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.state import latest_per_key
from .merge_table import DEFAULT_BUCKETS, BucketedMergeTable


def _old_dir(table_dir: str) -> str:
    return table_dir.rstrip("/") + ".__old__"


def _recover_table(table_dir: str) -> None:
    """Crash recovery for the rename-aside swap: if a previous swap
    died between renaming the live dir aside and renaming the new dir
    in, the live dir is missing and ``.__old__`` holds the last good
    table (data + ledger) — restore it so the retried batch merges
    against full prior state instead of silently rebuilding from its
    own partials. If both exist, the swap completed and ``.__old__``
    is garbage; drop it."""
    old = _old_dir(table_dir)
    if os.path.exists(old):
        if os.path.exists(table_dir):
            shutil.rmtree(old)
        else:
            os.replace(old, table_dir)


def _swap_in(tmp: str, table_dir: str, fault=None) -> None:
    """Rename-aside swap: move the live table out of the way, rename
    the fully-written tmp dir in, then delete the old copy. At no point
    is the only copy of prior state inside a directory being deleted —
    a crash at any step is repaired by _recover_table on the next
    batch (before old→live: retry rebuilds tmp; after live aside but
    before tmp in: old is restored; after tmp in: leftover old is
    dropped).

    `fault` is the crash-injection hook the recovery tests use
    (tests/test_streaming.py round-7 kill-point suite): called with a
    stage label at each point a real crash could land; a test raises
    from it to simulate dying there, then restarts the stream and
    asserts exactly-once state. Production callers pass nothing."""
    fault = fault or (lambda _stage: None)
    old = _old_dir(table_dir)
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(table_dir):
        os.replace(table_dir, old)
        fault("after_live_aside")  # live gone, old + tmp intact
    os.replace(tmp, table_dir)
    fault("after_tmp_in")  # swap done, stale old still on disk
    if os.path.exists(old):
        shutil.rmtree(old)


def _atomic_overwrite(df: DataFrame, table_dir: str) -> None:
    """Rewrite a local parquet table we are also reading from: write to
    a sibling tmp dir, then rename-aside swap. (Delta's txn log does
    this for real; local tests only need crash-safe, not concurrent.)"""
    tmp = table_dir.rstrip("/") + ".__new__"
    df.write.mode("overwrite").parquet(tmp)
    _swap_in(tmp, table_dir)


def upsert_batch(table_dir: str, keys: Sequence[str], order_col: str,
                 n_buckets: int | None = None,
                 expected_rows: int | None = None,
                 target_rows_per_bucket: int | None = None,
                 stats_cols: Sequence[str] | None = None):
    """K5 — upsert-sink foreachBatch: new batch rows overwrite older
    rows with the same key (latest `order_col` wins), exactly the
    consumer-visible semantics of the reference's upsert-kafka topics.
    Bucketed: only the key-touched buckets rewrite; the merge is
    idempotent (replays re-dedup to the same table), so no ledger.
    Sizing: `expected_rows` derives the initial bucket count
    (merge_table.buckets_for_rows); growth doubles it as the table
    outgrows `target_rows_per_bucket` either way (round 10).
    """
    def fn(batch: DataFrame, batch_id: int) -> None:
        _recover_table(table_dir)

        def merge(cur, rows):
            merged = rows if cur is None else cur.unionByName(rows)
            return latest_per_key(merged, keys, order_col)

        BucketedMergeTable(
            table_dir, keys, n_buckets, expected_rows=expected_rows,
            target_rows_per_bucket=target_rows_per_bucket,
            stats_cols=stats_cols,
        ).merge(batch, merge)

    return fn


def dim_upsert_batch(warehouse_dir: str, key_expr: str = "rowkey",
                     table_col: str = "sink_table", op_col: str = "type",
                     target_rows_per_bucket: int | None = None):
    """K6 — config-routed dim maintenance: for each sink_table in the
    batch, upsert insert/update/bootstrap rows and apply deletes
    (DimHBaseSinkFunction.java:53-105: Put vs Delete by op). One dim
    table = one parquet dir under warehouse_dir.

    Put/Delete resolve in stream (ts) order WITHIN the batch, like the
    reference's per-record HBase sink: the max-ts row per rowkey wins,
    and the key disappears only if that winning row is the delete — a
    delete followed by a later re-insert of the same rowkey in one
    micro-batch keeps the re-inserted row (applying all deletes last
    would wrongly drop it).

    Bucketed per table: a CDC batch touching a handful of rowkeys
    rewrites only their buckets (the HBase analogy made literal — a
    Put touches a region, not the table). A batch that WIDENS the
    schema (bootstrap adds columns) triggers merge_table's one-time
    full rewrite so stored files stay schema-uniform."""
    def fn(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            for (tbl,) in batch.select(table_col).distinct().collect():
                tdir = os.path.join(warehouse_dir, tbl)
                _recover_table(tdir)
                rows = batch.filter(F.col(table_col) == tbl).drop(table_col)

                def merge(cur, incoming):
                    merged = incoming if cur is None else cur.unionByName(
                        incoming, allowMissingColumns=True)
                    merged = latest_per_key(merged, [key_expr], "ts")
                    return merged.filter(F.col(op_col) != "delete")

                BucketedMergeTable(
                    tdir, [key_expr],
                    target_rows_per_bucket=target_rows_per_bucket,
                ).merge(rows, merge)
        finally:
            batch.unpersist()

    return fn


def additive_merge_batch(table_dir: str, keys: Sequence[str],
                         sum_cols: Sequence[str], prepare=None,
                         merge_aggs: dict | None = None, fault=None,
                         target_rows_per_bucket: int | None = None,
                         writer_id: str | None = None):
    """Continuous-aggregate maintenance sink: each micro-batch's rows
    are reduced to PARTIAL aggregates (`prepare`, e.g. a per-day
    tumble) and merged into the stored aggregate table by summation —
    additive aggs re-aggregate losslessly, so the stored table always
    equals a full recompute without ever rescanning earlier batches
    (the materialized-view refresh loop, streaming form of
    plans/extras.incremental_agg_refresh).

    Additive merge is NOT naturally idempotent: a retried micro-batch
    would double-count. An applied-batch-id ledger provides the
    exactly-once guard — the same transaction-id dedup a Delta MERGE
    txn log (or the reference's 2PC Kafka sink,
    FlinkSinkUtil.java:29-31) supplies in production. Since round 9
    the merge is BUCKETED (merge_table.BucketedMergeTable): only the
    buckets holding the batch's group keys re-aggregate and rewrite,
    and the ledger moves under the engine's commit-marker
    roll-forward, which preserves the invariant the old
    inside-the-tmp-dir ledger gave — visible data from a batch
    implies the ledger contains that batch before the next merge
    reads. A replayed already-ledgered batch still EXECUTES its plan
    (noop sink) so a stateful upstream commits its state version —
    the engine owns that path now.

    That replay-exactness claim is TESTED through every kill point,
    not just between batches: `fault` fires at the same four stage
    labels the round-7 suite kills at (after_data_write /
    after_live_aside / after_tmp_in / after_ledger_write — see
    merge_table.merge for where each lands in the marker protocol);
    the suite kills the query at each point on both state-store
    providers, restarts from the same checkpoint, and asserts the
    merged table equals the batch recompute — no double-apply, no
    lost batch (tests/test_streaming.py).

    MULTI-WRITER note (round 11): the ledger namespace is per TABLE,
    but foreachBatch batch ids are per QUERY — two different
    streaming queries feeding one additive table would collide on
    ids ("batch 0" from writer B would read as a replay of writer
    A's batch 0 and silently skip). Pass a distinct ``writer_id``
    per query to namespace the ledger ids (Delta's appId/txn
    version discipline); single-query tables need nothing."""
    def fn(batch: DataFrame, batch_id: int) -> None:
        _recover_table(table_dir)
        partial = prepare(batch) if prepare is not None else batch

        def merge(cur, rows):
            merged = rows if cur is None else cur.unionByName(rows)
            # sum is the additive default; merge_aggs extends the sink
            # to any re-aggregable monoid (min/max over values or
            # tie-broken structs — the open/close of an OHLC bar),
            # which is exactly the set of aggregates a continuous
            # aggregate can maintain without retraction support
            return merged.groupBy(*keys).agg(
                *[F.sum(c).alias(c) for c in sum_cols],
                *[mk(c).alias(c) for c, mk in (merge_aggs or {}).items()],
            )

        BucketedMergeTable(
            table_dir, list(keys),
            target_rows_per_bucket=target_rows_per_bucket,
        ).merge(partial, merge,
                batch_id=(f"{writer_id}-{batch_id}" if writer_id
                          else batch_id),
                ledgered=True, fault=fault)

    return fn


def mg_merge_batch(state_dir: str, k: int, token_col: str = "token",
                   fault=None):
    """Streaming Misra-Gries maintenance sink — the keyed-state form of
    plans/quantstats.heavy_hitters_exact's pass 1: each micro-batch is
    reduced to per-partition capacity-k MG summaries (one mapInPandas
    scan, O(k) state per partition) plus an exact per-partition row
    count, and the collected partials (≤ (k+1)·partitions rows —
    model-parameter-sized) merge into a persisted capacity-k summary
    with the Agarwal-et-al. mergeable-summaries rule: add counts, then
    subtract the (k+1)-th largest and drop non-positive. The merge
    theorem carries the batch guarantee across batches: after ANY
    sequence of merges over n total rows, every token with global
    count > n/(k+1) survives in the stored summary, so the summary is
    always a provable candidate superset for the exact re-count at
    drain.

    MG merge is NOT idempotent (a replayed batch would re-subtract and
    re-add), so the sink reuses additive_merge_batch's exactly-once
    discipline verbatim: applied-batch-id ledger written inside the
    new state dir BEFORE the rename-aside swap, crash recovery on
    entry, ledger-skip path still EXECUTING the batch plan through a
    noop sink (the round-7 lesson: a stateful upstream only commits
    its state-store version when the plan runs), and the same `fault`
    kill-point hook so the recovery suite can kill it mid-commit.

    Stored state layout: one parquet dir with rows
    (token string NULL-for-total, cnt long, is_total boolean) — the
    summary plus the exact running row count n; state is O(k)
    regardless of stream length, read/written driver-side because it
    IS model-parameter-sized (contrast the O(table) merge sinks
    above)."""
    import numpy as np
    import pandas as pd

    fault = fault or (lambda _stage: None)

    def _ledger(d: str) -> str:
        return os.path.join(d, "_applied_batches")

    def _mg_trim(acc: "pd.Series", cap: int) -> "pd.Series":
        if len(acc) > cap:
            thr = int(acc.nlargest(cap + 1).iloc[-1])
            acc = acc - thr
            acc = acc[acc > 0]
        return acc

    def fn(batch: DataFrame, batch_id: int) -> None:
        _recover_table(state_dir)
        applied: set[str] = set()
        if os.path.exists(_ledger(state_dir)):
            with open(_ledger(state_dir)) as fh:
                applied = set(fh.read().split())
        if str(batch_id) in applied:
            batch.write.format("noop").mode("overwrite").save()
            return

        def partials(batches):
            acc = pd.Series(dtype="int64")
            total = 0
            for pdf in batches:
                if not len(pdf):
                    continue
                total += len(pdf)
                vc = pdf[token_col].value_counts()
                acc = _mg_trim(acc.add(vc, fill_value=0).astype("int64"), k)
            yield pd.DataFrame({
                "token": np.append(acc.index.to_numpy(dtype=object), [None]),
                "cnt": np.append(acc.to_numpy(dtype=np.int64),
                                 np.int64(total)),
                "is_total": np.append(np.zeros(len(acc), dtype=bool),
                                      [True]),
            })

        part = (
            batch.select(F.col(token_col).alias(token_col))
            .mapInPandas(partials,
                         schema=f"{token_col} string, cnt long, "
                                "is_total boolean")
            .toPandas()
        )
        acc = pd.Series(dtype="int64")
        n = 0
        if os.path.exists(state_dir):
            cur = pd.read_parquet(state_dir)
            n = int(cur.loc[cur["is_total"], "cnt"].sum())
            summ = cur[~cur["is_total"]]
            acc = pd.Series(summ["cnt"].to_numpy(dtype="int64"),
                            index=summ[token_col].to_numpy(dtype=object))
        n += int(part.loc[part["is_total"], "cnt"].sum())
        # add ALL partials, then one trim: the trim subtracts its
        # threshold from every entry and at least k+1 entries carry it,
        # so each decrement D removes ≥ (k+1)·D counted mass — the same
        # potential argument as pairwise merging, giving total
        # undercount ≤ n/(k+1) across the whole batch history
        batch_counts = (part[~part["is_total"]]
                        .groupby(token_col)["cnt"].sum())
        acc = _mg_trim(
            acc.add(batch_counts, fill_value=0).astype("int64"), k)

        tmp = state_dir.rstrip("/") + ".__new__"
        os.makedirs(tmp, exist_ok=True)
        out = pd.DataFrame({
            token_col: np.append(acc.index.to_numpy(dtype=object), [None]),
            "cnt": np.append(acc.to_numpy(dtype=np.int64), np.int64(n)),
            "is_total": np.append(np.zeros(len(acc), dtype=bool), [True]),
        })
        out.to_parquet(os.path.join(tmp, "part-0.parquet"))
        fault("after_data_write")
        with open(_ledger(tmp), "w") as fh:
            fh.write("\n".join(sorted({*applied, str(batch_id)})) + "\n")
        fault("after_ledger_write")
        _swap_in(tmp, state_dir, fault)

    return fn


def route_by_column(out_dir: str, table_col: str = "sink_table"):
    """K2 — dynamic destination per record: a single partitioned write
    fans the batch out to out_dir/<sink_table>=<v>/ directories. At
    scale this is one job regardless of route count — no per-topic
    loop, no driver-side switch (vs the reference's per-record topic
    selection)."""
    def fn(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").partitionBy(table_col).parquet(out_dir)

    return fn


def split_sink(out_base: str, routes: dict[str, F.Column]):
    """P8 — one parsed stream fanned to N filtered outputs (the
    reference's side-output split, DwdBaseLog.java:82-135) inside a
    single foreachBatch: the batch is persisted once, each route is a
    filter over the cached batch, so the source is read once per batch
    — same single-pass property as Flink side outputs.
    """
    def fn(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            for name, predicate in routes.items():
                (batch.filter(predicate)
                 .write.mode("append")
                 .parquet(os.path.join(out_base, name)))
        finally:
            batch.unpersist()

    return fn


def kafka_sink(sdf: DataFrame, brokers: str, topic: str,
               checkpoint_dir: str, value_col: str = "value"):
    """K1 — fixed-topic Kafka sink (FlinkSinkUtil.java:22-33). Returns
    the configured DataStreamWriter; callers .start() it. Delivery is
    at-least-once per attempt with exactly-once end-to-end via the
    checkpointed offsets + an idempotent/upsert consumer (the
    reference used transactional 2PC; Spark's equivalent contract is
    checkpoint + idempotent sink). The Kafka jars may be absent in the
    test container — building the writer is lazy and touches no
    broker until start()."""
    out = sdf.select(F.col(value_col).cast("string").alias("value"))
    return (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )


def kafka_dynamic_sink(sdf: DataFrame, brokers: str, checkpoint_dir: str,
                       topic_col: str = "sink_table",
                       value_col: str = "value"):
    """K2 — per-record topic routing (FlinkSinkUtil.java:35-50, fed by
    DwdBaseDb.java:131-145): Spark's Kafka sink honors a `topic`
    column per row natively, so dynamic routing is a projection, not a
    custom sink. File-backed twin: route_by_column."""
    out = sdf.select(
        F.col(topic_col).cast("string").alias("topic"),
        F.col(value_col).cast("string").alias("value"),
    )
    return (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("checkpointLocation", checkpoint_dir)
    )


def scd2_merge_batch(table_dir: str, key_col: str,
                     version_col: str = "valid_from",
                     closed_col: str = "valid_to",
                     op_col: str = "typ",
                     target_rows_per_bucket: int | None = None,
                     stats_cols: Sequence[str] | None = None):
    """SCD type-2 maintenance foreachBatch: each micro-batch of change
    rows (key, attrs…, valid_from, op) is merged into a version-history
    table — the streaming face of plans/analytics.scd2_dim_history,
    and the history-keeping sibling of dim_upsert_batch's latest-state
    MERGE (reference DimHBaseSinkFunction.java:16-105 keeps only the
    last put; SCD2 keeps them all with validity bounds).

    Merge discipline:
    - only keys PRESENT in the batch are re-windowed: their stored
      versions union the incoming rows and valid_to is recomputed as
      lead(valid_from) per key — and since round 9 "untouched keys
      carried over verbatim" is physical, not an anti join: the
      bucketed engine never even READS buckets without a batch key
      (the Delta-MERGE "only matched files rewrite" behavior in plain
      parquet). Within a touched bucket, resident keys absent from
      the batch re-window to themselves (lead over unchanged
      versions), so the slice merge is semantics-preserving.
    - delete changes persist as tombstone rows so a later batch's
      lead() still sees the close; readers filter op != 'delete'.
    - retries are idempotent WITHOUT a ledger: a version's identity is
      (key, valid_from) and re-merging the same change rows
      dropDuplicates to the identical table (contrast
      additive_merge_batch, whose sums need the batch-id ledger)."""
    from pyspark.sql import Window

    def fn(batch: DataFrame, batch_id: int) -> None:
        _recover_table(table_dir)
        # the null valid_to MUST carry the version column's own type:
        # valid_to is lead(version_col) in the stored table, so a
        # hardcoded narrower cast (the pre-round-11 "int") made the
        # schema-evolution TYPE probe flag every batch of a
        # long-versioned table as an evolution — silently forcing the
        # O(table) full rewrite on every micro-batch (found by the
        # round-11 Zipf ladder reading O(n) instead of flat)
        vt = {f.name: f.dataType for f in batch.schema.fields}[version_col]
        incoming = batch.withColumn(closed_col, F.lit(None).cast(vt))

        def merge(cur, rows):
            touched = rows if cur is None \
                else cur.unionByName(rows.select(cur.columns))
            w = Window.partitionBy(key_col).orderBy(version_col)
            return (
                touched.dropDuplicates([key_col, version_col])
                .withColumn(closed_col, F.lead(version_col).over(w))
            )

        BucketedMergeTable(
            table_dir, [key_col],
            target_rows_per_bucket=target_rows_per_bucket,
            # manifest stats on the version column by default: the
            # SCD2 history range-scan ("changes since ts") is exactly
            # the query manifest data skipping serves (round 11)
            stats_cols=(stats_cols if stats_cols is not None
                        else [version_col]),
        ).merge(incoming, merge)

    return fn
