"""SparkSession factory tuned for this engine.

Defaults follow the scale guidance: AQE on (runtime re-plan,
partition coalescing, skew-join handling), shuffle partitions sized
to the local core count (the driver runs local[$SPARK_GRAFT_CPUS]),
UTC session timezone so window bounds / date strings are
hash-stable against the DuckDB oracle (reference pins +08:00 in
DateFormatUtil.java:21; we pin UTC — the fixed-zone requirement is
what matters, not the zone itself).

The driver heap is sized to the host: a quarter of physical memory
(or of the cgroup limit, when lower), floored at Spark's 1g default
and capped at 48g; `SPARK_GRAFT_DRIVER_MEM` overrides it verbatim. In
local mode that one JVM also hosts the executors, while the Python
workers, pytest and DuckDB share the rest of the host; a heap sized
past physical memory lets the kernel's OOM killer end the JVM
mid-run, which shows as a run of Py4J `ConnectionRefusedError`s.

On a real cluster the same builder applies; only master/memory
change. Every operator in this package is written against the
multi-executor model (no driver-side collect loops, broadcast for
small dims, partial aggregation) so local[N] → 1000 executors is a
config change, not a code change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


#: cgroup v2 and v1 memory limits; either may be absent or "max".
_CGROUP_MEMORY_LIMITS = ("/sys/fs/cgroup/memory.max",
                         "/sys/fs/cgroup/memory/memory.limit_in_bytes")


def _physical_memory_bytes() -> int:
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            total = min(total, int(limit))
    return total


def default_driver_memory() -> str:
    """`spark.driver.memory` for this host: `SPARK_GRAFT_DRIVER_MEM`
    verbatim when set, else 25% of physical memory in whole MiB (the
    JVM's own MaxRAMPercentage default), within [1g, 48g]."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    mib = _physical_memory_bytes() // 4 // 2**20
    return f"{min(max(mib, 1024), 48 * 1024)}m"


def get_spark(app_name: str = "realtime_data_warehouse_spark",
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        # The driver testdata has shipped events.ts BOTH as INT64
        # TIMESTAMP(NANOS) (rounds 1-2) and as timestamp[us] (round 3).
        # nanosAsLong makes the nanos layout readable (Spark's micros
        # TimestampType cannot represent it); sources.batch.load_table
        # and streaming.windows.events_ts_schema then normalize either
        # layout to a session-tz timestamp — `ts div 1000` truncation
        # matches DuckDB's ns→µs read, so oracle hashes line up.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate turns explode(expensive_expr) into a
        # pushed-down Filter that re-derives the expression several
        # times per row (size(...)>0 AND isnotnull(...)); with
        # interpreted HOF shingle pipelines that filter costs more than
        # the whole query (16 s vs 2.5 s for the LSH shingle index at
        # sf0.1). We pre-filter explicitly where it matters
        # (with_shingles drop_empty), so the inferred filter only hurts.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Spark 4 bundles RocksDB (JNI jar ships in the distribution) — no
#: extra dependency. Verified runnable in this container (round 6).
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession, enabled: bool = True) -> None:
    """Opt the session's NEXT streaming queries into the RocksDB state
    store (the provider is read per query start, so flipping this
    between starts is safe; running queries keep their provider).

    Why it exists: the default HDFSBackedStateStoreProvider keeps every
    key's state deserialized ON-HEAP per executor — fine for the test
    replays (≤150k keys), the first casualty at the stated 10⁹-key
    design point (state must fit executor heap or the job dies in GC).
    RocksDB keeps state off-heap + local-disk with an in-memory
    block cache, the same architecture Flink's production RocksDB
    backend uses for exactly this reason — state bounded by disk, not
    heap. Measured drain cost of the swap on the A6/A7 replays is in
    BENCH `streaming_throughput` (`*_rocksdb` entries): a constant
    per-batch/per-key overhead at toy scale that buys orders of
    magnitude of state headroom at the design point. The crossover
    is measured, not theoretical (SCALING.md §5): by 1M keys the
    in-memory store's full-map maintenance bends the A7 drain
    super-linear (tail 1.24) while the identical RocksDB drain stays
    linear and absolutely faster (122.5 s vs 175.1 s; A6 106.0 vs
    122.1 s) — prefer this provider for any stream whose key
    cardinality can reach 10⁶.

    Changelog checkpointing keeps commit cost proportional to the
    per-batch delta instead of snapshotting the full store every
    batch — the right default for long-running jobs and a no-op for
    tiny replays."""
    if enabled:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            ROCKSDB_STATE_PROVIDER,
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # r12 (guide §1.2 step 3, measured): with tracking ON (the
        # default) every put/delete pays a prior get so the store can
        # maintain its numRowsTotal metric — pure metric overhead that
        # doubles JNI calls on write-heavy state. OFF on the 4-way
        # join chain (3 stateful ops, ~300k rows/batch, min-of-3
        # interleaved): drain 27.8→26.8 / 31.0→28.6 / 33.2→29.4 s,
        # per-batch p50 5.6→5.4 / 6.9→5.1 / 6.7→6.1 s. Costs only the
        # numRowsTotal progress metric (reads -1), which nothing in
        # this engine consumes.
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
            "false",
        )
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
        )


#: Measured in-memory→RocksDB crossover in RESIDENT STATE KEYS
#: (SCALING.md Readings 5 & 8, round 8): the default HDFS-backed
#: store's per-commit full-map snapshot bends keyed drains
#: super-linear as resident keys approach 10⁶ (gapfill tail 1.22,
#: funnel 1.30, A7 1.24 across the 300k→1M decade), while the
#: identical RocksDB drains hold tails 1.02-1.05 and are absolutely
#: faster AT 1M (gapfill 341.0 vs 380.4 s, funnel 258.7 vs 269.2, A7
#: 122.5 vs 175.1). Below the crossover the in-memory store wins by a
#: constant (no JNI/serde per access), so the switch point is the
#: measured intersection, not zero.
STATE_STORE_KEY_CROSSOVER = 1_000_000

#: The auto switch fires at 0.8× the measured crossover, for two
#: compounding reasons: (1) the resident-key count arrives as an HLL
#: estimate (±5% rsd default — a true-1M corpus was measured reading
#: 925,738, under an exact 1M threshold); (2) the cost of switching
#: early is a small constant (RocksDB below the crossover: A6 36.4 vs
#: 37.5 s at 300k) while the cost of switching late is the
#: SUPERLINEAR in-memory snapshot regime (gapfill 380 vs 341 s at 1M
#: and worsening with every further decade) — with asymmetric risk,
#: bias the switch toward the safe side by more than the estimator's
#: error band.
STATE_STORE_SWITCH_MARGIN = 0.8


def auto_state_store(spark: SparkSession, resident_keys: int) -> bool:
    """Choose the state-store provider from an estimated resident-key
    count — the store analogue of runner.shuffle_for_volume (round-9
    VERDICT item 3: the crossover was measured in round 8 but the
    choice stayed a hand-set flag). Returns True when RocksDB was
    selected. Same per-query-start semantics as use_rocksdb_state:
    affects queries started AFTER the call."""
    choose = resident_keys >= (STATE_STORE_KEY_CROSSOVER
                               * STATE_STORE_SWITCH_MARGIN)
    use_rocksdb_state(spark, choose)
    return choose


def estimate_resident_keys(df, key_cols) -> int:
    """Estimated distinct keys of a stateful stream's key column(s),
    from its staged/replayable input — one approx_count_distinct
    aggregate (HLL, ±5% default rsd: provider choice only needs the
    order of magnitude; the crossover spans one). At 100 TB the same
    estimate comes from a sample or the ingest catalog's stats; the
    point is that the DECISION is derived from data volume, not a
    human remembering SCALING.md."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]) \
        if len(cols) > 1 else F.col(cols[0])
    return int(df.agg(F.approx_count_distinct(key).alias("k"))
               .collect()[0]["k"])


def tune_for_scale(spark: SparkSession, target_partition_bytes: int = 128 * 1024 * 1024) -> None:
    """Knobs that matter when the same plans run against ~100 TB:

    - files.maxPartitionBytes bounds scan-task size so a 100 TB scan
      fans out instead of producing oversized partitions;
    - advisoryPartitionSizeInBytes lets AQE coalesce post-shuffle
      partitions to a spill-safe size.
    """
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target_partition_bytes))
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024 * 1024))
