"""Table maintenance verbs (the OPTIMIZE side of a lakehouse).

The bench's ingest-compaction pass and the streaming sinks both
re-lay-out parquet directories ad hoc; this module gives the verb a
first-class, crash-safe form — the local analogue of Delta
`OPTIMIZE` / Iceberg `rewrite_data_files` (unavailable in this
container, see README "Delta/Iceberg attempts").
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import SparkSession

from ..streaming.sinks import _recover_table, _swap_in


def table_bytes(table_dir: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def optimize_table(spark: SparkSession, table_dir: str,
                   target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Compact a parquet table directory to ~target-sized files.

    Reads the current layout, round-robin repartitions to
    ceil(bytes / target) output files, writes a sibling tmp dir and
    swaps it in with the same rename-aside + crash-recovery protocol
    the streaming MERGE sinks use (streaming/sinks._swap_in) — at
    every step an intact copy of the table exists on disk. Data is
    byte-identical, only re-laid-out.

    Scale note: file-count math uses on-disk (compressed) bytes, so
    post-compaction row groups land near the scan-task size
    `tune_for_scale` assumes; on a real lakehouse this verb is the
    scheduled small-file compaction every ingest pipeline runs.
    Returns the number of output files written.

    Bucketed MERGE tables (round 11): a dir carrying
    ``_table_meta.json`` is a merge table whose file NAMES encode
    (bucket, generation) — a round-robin rewrite would destroy the
    addressing, so compaction delegates to
    ``BucketedMergeTable.compact``: each bucket still served by an
    old-generation (multi-bucket) file rewrites to one
    current-generation file, under the engine's own marker/CAS
    commit and retention. Returns the number of buckets rewritten."""
    meta_path = os.path.join(table_dir.rstrip("/"), "_table_meta.json")
    if os.path.exists(meta_path):
        import json  # noqa: PLC0415

        from ..streaming.merge_table import (  # noqa: PLC0415
            BucketedMergeTable,
        )
        with open(meta_path) as fh:
            keys = json.load(fh)["keys"]
        return BucketedMergeTable(table_dir, keys).compact(spark)
    _recover_table(table_dir)
    n_files = max(1, -(-table_bytes(table_dir) // target_file_bytes))
    df = spark.read.parquet(table_dir).repartition(n_files)
    tmp = table_dir.rstrip("/") + ".__new__"
    df.write.mode("overwrite").parquet(tmp)
    _swap_in(tmp, table_dir)
    return n_files


def parquet_layout(table_dir: str) -> dict:
    """Physical-layout census of a parquet table directory, from file
    footers only (pyarrow metadata reads — no data pages): file count,
    row-group count, total data bytes, and the largest single
    row-group's on-disk bytes. Row groups are the unit that matters:
    a parquet scan can split a FILE into byte ranges, but each row
    group is consumed whole by whichever task holds its midpoint — so
    `row_groups` is the hard ceiling on non-empty scan tasks
    regardless of file count, split size, or cluster width."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    n_files = n_rg = total = max_rg = 0
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            path = os.path.join(root, f)
            n_files += 1
            total += os.path.getsize(path)
            md = pq.ParquetFile(path).metadata
            n_rg += md.num_row_groups
            for i in range(md.num_row_groups):
                max_rg = max(max_rg, md.row_group(i).total_byte_size)
    return {"files": n_files, "row_groups": n_rg, "bytes": total,
            "max_row_group_bytes": max_rg}


#: floor on useful output-file size for the under-split direction of
#: the fragmentation trigger. At warehouse scale the byte-derived file
#: count (bytes / split size) dwarfs cluster width, so this floor
#: never binds; on a small SF it stops row-light tables (a 5-row dim)
#: from being shredded into one file per core while still letting a
#: row-heavy-but-well-compressed fact reach cluster-wide scan
#: parallelism. Measured at sf0.1.
DEFAULT_MIN_FILE_BYTES = 64 * 1024

_BYTE_UNITS = {"": 1, "k": 2**10, "m": 2**20, "g": 2**30}


def parse_bytes(size: str) -> int:
    """A Spark byte-size string (`134217728b`, `256m`, `1gb`) in bytes;
    a bare number is bytes."""
    m = re.fullmatch(r"(\d+)\s*([kmg]?)b?", size.strip().lower())
    if m is None:
        raise ValueError(f"not a byte size: {size!r}")
    return int(m.group(1)) * _BYTE_UNITS[m.group(2)]


def desired_files(total_bytes: int, parallelism: int,
                  target_split_bytes: int = 128 * 1024 * 1024,
                  min_file_bytes: int = DEFAULT_MIN_FILE_BYTES) -> int:
    """How many files a healthy copy of this table holds.

    Two regimes, max-combined:
    - by size: ceil(bytes / target split) — the standard lakehouse
      sizing (files ~ one scan split each). This is the binding term
      at production scale.
    - by width: min(parallelism, ceil(bytes / min_file_bytes)) — a
      table big enough to be worth splitting should offer at least
      one split per core; tiny tables stay at ceil(bytes/floor)
      files (1 for a dim table) instead of exploding into
      `parallelism` near-empty files.
    """
    if total_bytes <= 0:
        return 1
    by_split = -(-total_bytes // target_split_bytes)
    by_width = min(max(parallelism, 1), -(-total_bytes // min_file_bytes))
    return max(1, by_split, by_width)


def needs_compaction(table_dir: str, parallelism: int,
                     target_split_bytes: int = 128 * 1024 * 1024,
                     min_file_bytes: int = DEFAULT_MIN_FILE_BYTES) -> bool:
    """Fragmentation trigger — the predicate a scheduled maintenance
    pass evaluates per table (VERDICT r12 item 1). Fires in either
    degenerate direction:

    - UNDER-SPLIT: fewer row groups than a healthy layout's file
      count. One giant row group (the classic single-bulk-write
      artifact) caps every scan of the table at one task — at
      production sizes this is exactly "a row group wider than the
      split size"; at a small SF the same rule scales down through
      desired_files' width term.
    - OVER-FRAGMENTED: more than 4x the healthy file count (the
      small-files problem: per-file open cost + driver listing).

    A table the trigger passes is left untouched, so maintenance is
    idempotent: compacting to desired_files makes both conditions
    false on the next evaluation."""
    lay = parquet_layout(table_dir)
    if lay["files"] == 0:
        return False
    want = desired_files(lay["bytes"], parallelism,
                         target_split_bytes, min_file_bytes)
    return lay["row_groups"] < want or lay["files"] > 4 * want


def maintain_table(spark: SparkSession, table_dir: str,
                   parallelism: int | None = None,
                   target_split_bytes: int | None = None,
                   min_file_bytes: int = DEFAULT_MIN_FILE_BYTES) -> int:
    """Conditional OPTIMIZE — the verb a table-maintenance schedule
    runs after every N commits: evaluate the fragmentation trigger
    and compact only when it fires. Returns files written (0 = layout
    already healthy, no Spark job ran).

    Bucketed MERGE tables delegate to BucketedMergeTable.compact,
    which carries its own trigger (files-per-bucket > 1 or
    old-generation fragments) and returns 0 when nothing is
    fragmented — same idempotence contract.

    Plain parquet dirs compact to desired_files() round-robin files
    (one row group each) under the same rename-aside crash-safe swap
    as optimize_table. parallelism defaults to the session's
    defaultParallelism, target_split_bytes to the session's
    spark.sql.files.maxPartitionBytes — the maintained layout tracks
    the split size scans will actually use."""
    meta_path = os.path.join(table_dir.rstrip("/"), "_table_meta.json")
    if os.path.exists(meta_path):
        import json  # noqa: PLC0415

        from ..streaming.merge_table import (  # noqa: PLC0415
            BucketedMergeTable,
        )
        with open(meta_path) as fh:
            keys = json.load(fh)["keys"]
        return BucketedMergeTable(table_dir, keys).compact(spark)
    if parallelism is None:
        parallelism = spark.sparkContext.defaultParallelism
    if target_split_bytes is None:
        target_split_bytes = parse_bytes(spark.conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)))
    _recover_table(table_dir)
    if not needs_compaction(table_dir, parallelism,
                            target_split_bytes, min_file_bytes):
        return 0
    want = desired_files(table_bytes(table_dir), parallelism,
                         target_split_bytes, min_file_bytes)
    df = spark.read.parquet(table_dir).repartition(want)
    tmp = table_dir.rstrip("/") + ".__new__"
    df.write.mode("overwrite").parquet(tmp)
    _swap_in(tmp, table_dir)
    return want


def _morton_interleave(bucket_cols, bits: int):
    """Bit-interleave N bucket-index columns into one Morton (Z-curve)
    code, as a pure JVM expression tree (codegen'd — no UDF). Bucket
    indexes must fit in `bits` bits each."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    n = len(bucket_cols)
    for b in range(bits):
        for i, c in enumerate(bucket_cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def zorder_table(spark: SparkSession, table_dir: str, cols: list[str],
                 target_file_bytes: int = 128 * 1024 * 1024,
                 bits_per_col: int = 12) -> int:
    """Re-cluster a parquet table along a Z-order (Morton) curve over
    `cols` — the multi-dimensional OPTIMIZE: after it, a range/point
    predicate on ANY clustered column touches only the few files and
    row groups whose min/max stats intersect it, instead of every
    file (single-column sort gives that pruning for the lead column
    only and destroys it for the rest).

    Plan shape: one min/max agg per column (tiny driver fetch, the
    only driver-side data), then a map-side equi-width bucket index
    per column, the interleave as a codegen'd bit expression, and ONE
    range-partitioned sorted write — the same single-shuffle cost as
    a plain sort, so Z-ordering is never more expensive than ORDER BY.
    Equi-width bucketing keeps the pass one-scan; for heavily skewed
    columns swap the bucket step for approxQuantile boundaries (same
    interleave), noted rather than defaulted because the extra
    quantile pass doubles scan cost.

    Crash-safe via the same rename-aside swap as optimize_table.
    Returns the number of output files."""
    from pyspark.sql import functions as F

    _recover_table(table_dir)
    df = spark.read.parquet(table_dir)
    n_files = max(1, -(-table_bytes(table_dir) // target_file_bytes))
    nbuckets = (1 << bits_per_col) - 1
    bounds = df.agg(*[f(c).alias(f"{f.__name__}_{c}")
                      for c in cols for f in (F.min, F.max)]).first()
    bucketed = []
    for c in cols:
        lo = float(bounds[f"min_{c}"])
        hi = float(bounds[f"max_{c}"])
        span = (hi - lo) or 1.0
        idx = F.least(
            F.lit(nbuckets),
            F.floor((F.col(c).cast("double") - F.lit(lo))
                    / F.lit(span) * F.lit(nbuckets)).cast("long"),
        )
        bucketed.append(idx)
    zval = _morton_interleave(bucketed, bits_per_col)
    tmp = table_dir.rstrip("/") + ".__new__"
    (df.withColumn("__z", zval)
       .repartitionByRange(n_files, "__z")
       .sortWithinPartitions("__z")
       .drop("__z")
       .write.mode("overwrite").parquet(tmp))
    _swap_in(tmp, table_dir)
    return n_files


def snapshot_table(table_dir: str, tag: str) -> str:
    """Zero-copy snapshot of a parquet table directory: hardlink every
    data file into a sibling ``.__snap_<tag>__`` dir — the poor-man's
    form of Delta/Iceberg time travel (a snapshot is a manifest of
    immutable files; hardlinks are the local-FS equivalent). O(files)
    metadata work, zero data bytes copied, and because every writer in
    this repo replaces files via whole-directory rename-aside swaps
    (never in-place appends), the linked files are immutable — the
    snapshot stays consistent while the live table moves on.

    Returns the snapshot directory (readable with spark.read.parquet).
    At 100 TB the same verb is one manifest commit; here it is one
    directory of links — reproducibility pins (what exact corpus did
    this training run read?) and pre-destructive-merge guards cost
    nothing either way."""
    snap = table_dir.rstrip("/") + f".__snap_{tag}__"
    if os.path.exists(snap):
        raise ValueError(f"snapshot tag exists: {tag}")
    os.makedirs(snap)
    for f in os.listdir(table_dir):
        src = os.path.join(table_dir, f)
        if os.path.isfile(src):
            os.link(src, os.path.join(snap, f))
    return snap


def restore_snapshot(table_dir: str, tag: str) -> None:
    """Roll the live table back to a snapshot (crash-safe: the swap is
    the same rename-aside protocol the streaming sinks use, so an
    intact copy exists at every step). The snapshot itself survives
    the restore and can be restored again."""
    snap = table_dir.rstrip("/") + f".__snap_{tag}__"
    if not os.path.exists(snap):
        raise ValueError(f"no such snapshot: {tag}")
    _recover_table(table_dir)
    tmp = table_dir.rstrip("/") + ".__new__"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    for f in os.listdir(snap):
        os.link(os.path.join(snap, f), os.path.join(tmp, f))
    _swap_in(tmp, table_dir)


def list_snapshots(table_dir: str) -> list[str]:
    base = os.path.basename(table_dir.rstrip("/"))
    parent = os.path.dirname(table_dir.rstrip("/")) or "."
    tags = []
    for d in os.listdir(parent):
        if d.startswith(base + ".__snap_") and d.endswith("__"):
            tags.append(d[len(base) + len(".__snap_"):-2])
    return sorted(tags)


def build_file_stats_index(spark: SparkSession, table_dir: str,
                           col: str) -> str:
    """Build a file-level min/max manifest for one column — the
    Iceberg/Delta data-skipping index: a tiny table with one row per
    data file `(path, num_rows, min_val, max_val)`. `pruned_scan`
    consults it to drop whole FILES before Spark even lists or opens
    them — one level above parquet row-group pruning (which still
    costs a footer read per file; at 100 TB with millions of files,
    footer reads alone are a job). Pairs with `zorder_table` /
    `optimize_table`: re-cluster first, then files have tight
    disjoint ranges and the manifest prunes hard.

    Footer stats are gathered by a DISTRIBUTED mapInPandas job over
    the file list (executors read only parquet metadata via pyarrow —
    no data pages), so index build is O(files) metadata work spread
    over the cluster, never a driver loop. The manifest itself is
    parquet at `<table>.__stats_<col>__`, rebuilt atomically via the
    same rename-aside swap as every writer here."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    files = sorted(
        os.path.join(table_dir, f) for f in os.listdir(table_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    if not files:
        raise ValueError(f"no parquet files under {table_dir}")

    def footer_stats(batches):
        import pyarrow.parquet as pq
        for pdf in batches:
            out = []
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                idx = {md.schema.column(i).name: i
                       for i in range(md.num_columns)}[col]
                mins, maxs, rows = [], [], 0
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    rows += md.row_group(rg).num_rows
                    if st is not None and st.has_min_max:
                        mins.append(st.min)
                        maxs.append(st.max)
                out.append((path, rows,
                            min(mins) if mins else None,
                            max(maxs) if maxs else None))
            yield pd.DataFrame(
                out, columns=["path", "num_rows", "min_val", "max_val"])

    sample = spark.read.parquet(table_dir).schema[col].dataType.simpleString()
    schema = (f"path string, num_rows long, "
              f"min_val {sample}, max_val {sample}")
    stats = (
        spark.createDataFrame([(p,) for p in files], "path string")
        .repartition(min(len(files), 64))
        .mapInPandas(footer_stats, schema=schema)
    )
    idx_dir = table_dir.rstrip("/") + f".__stats_{col}__"
    tmp = idx_dir + ".__new__"
    stats.coalesce(1).write.mode("overwrite").parquet(tmp)
    if os.path.exists(idx_dir):
        shutil.rmtree(idx_dir)
    os.replace(tmp, idx_dir)
    return idx_dir


def pruned_scan(spark: SparkSession, table_dir: str, col: str,
                lo, hi) -> "DataFrame":
    """Manifest-pruned read: keep only the files whose [min,max]
    envelope intersects [lo, hi], then scan just those (the residual
    filter still applies row-by-row — the manifest is an upper-bound
    prune, exactly like an Iceberg manifest evaluation). Files with
    no stats for the column are conservatively kept. The matched file
    list is manifest-sized driver data (same class as a catalog's
    partition listing), not table data."""
    from pyspark.sql import functions as F

    idx_dir = table_dir.rstrip("/") + f".__stats_{col}__"
    if not os.path.exists(idx_dir):
        raise ValueError(f"no stats index for {col}; run "
                         f"build_file_stats_index first")
    idx = spark.read.parquet(idx_dir)
    keep = [
        r.path for r in idx.filter(
            F.col("min_val").isNull()
            | ((F.col("max_val") >= F.lit(lo)) & (F.col("min_val") <= F.lit(hi)))
        ).select("path").collect()
    ]
    pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    if not keep:
        return spark.read.parquet(table_dir).filter(pred).limit(0)
    return spark.read.parquet(*keep).filter(pred)

