"""Unit tests for operator building blocks on tiny literal frames
(SURVEY §5 layer 1)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from realtime_data_warehouse_spark.functions.scalar import snake_case
from realtime_data_warehouse_spark.functions.tokenize import tokenize
from realtime_data_warehouse_spark.operators.etl import (
    cdc_etl_filter,
    prune_map_by_config,
    split_log_stream,
)
from realtime_data_warehouse_spark.operators.state import (
    first_visit_repair,
    latest_per_key,
)
from realtime_data_warehouse_spark.schemas import TOPIC_LOG
from realtime_data_warehouse_spark.sources.cdc import changelog


def test_split_log_stream_routes_and_explodes(spark):
    rows = [
        # err record
        {"common": {"mid": "m1"}, "err": {"code": "1"}, "ts": 1},
        # start record
        {"common": {"mid": "m2"}, "start": {"entry": "icon"}, "ts": 2},
        # page record with 2 displays and 1 action
        {
            "common": {"mid": "m3"},
            "page": {"page_id": "home"},
            "displays": [{"pos": "1"}, {"pos": "2"}],
            "actions": [{"aid": "fav"}],
            "ts": 3,
        },
    ]
    raw = spark.createDataFrame([(json.dumps(r),) for r in rows], "value string")
    log = raw.select(F.from_json("value", TOPIC_LOG).alias("j")).select("j.*")
    outs = split_log_stream(log)
    assert outs["err"].count() == 1
    assert outs["start"].count() == 1
    assert outs["page"].count() == 1
    # exploded: one row per display element (the reference emitted the
    # whole array per element — SURVEY §7.5.2; we emit the element)
    displays = outs["display"].collect()
    assert len(displays) == 2
    assert {r.display["pos"] for r in displays} == {"1", "2"}
    assert outs["action"].count() == 1


def test_prune_map_by_config(spark):
    df = spark.createDataFrame(
        [({"id": "1", "name": "x", "secret": "s"}, "id,name")],
        "data map<string,string>, sink_columns string",
    )
    out = prune_map_by_config(df).collect()[0]
    assert set(out.data.keys()) == {"id", "name"}


def test_cdc_changelog_and_filter(spark):
    snap = spark.createDataFrame(
        [(1, 10.0, "2024-01-01"), (20000, 20.0, "2024-01-02")],
        "id long, amount double, dt string",
    ).withColumn("dt", F.to_date("dt"))
    log = changelog(snap, "t", "id", "dt", "amount")
    rows = log.collect()
    # 2 bootstrap-inserts + 1 update (id % 10000 < 500 → ids 1 and 20000)
    types = sorted(r.type for r in rows)
    assert types == ["bootstrap-insert", "bootstrap-insert", "update", "update"]
    filtered = cdc_etl_filter(log)
    assert filtered.count() == 4  # bootstrap-insert is data, not control
    upd = [r for r in filtered.collect() if r.type == "update"][0]
    assert upd.old == {"amount": "10.0"} or upd.old == {"amount": "20.0"}
    assert float(upd.data["amount"]) == float(upd.old["amount"]) * 2


def test_latest_per_key_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, 5, 100), (1, 5, 200), (2, 1, 10)],
        "id long, version long, amount long",
    )
    out = latest_per_key(df, ["id"], "version", tiebreak=["amount"]).collect()
    got = {r.id: r.amount for r in out}
    assert got == {1: 200, 2: 10}


def test_first_visit_repair_downgrades_forged_is_new(spark):
    df = spark.createDataFrame(
        [
            (7, "2024-01-01 10:00:00", 1),   # true first visit
            (7, "2024-01-03 10:00:00", 1),   # forged claim → 0
            (8, "2024-01-02 09:00:00", 0),   # honest old-user claim stays 0
        ],
        "user_id long, ts string, is_new int",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = first_visit_repair(df, "user_id", "ts").orderBy("user_id", "ts").collect()
    assert [r.is_new_fixed for r in rows] == [1, 0, 0]


def test_tokenize_expression(spark):
    df = spark.createDataFrame([("Hello, World 42!",), ("",)], "s string")
    toks = df.select(tokenize("s").alias("t")).collect()
    assert toks[0].t == ["hello", "world", "42"]
    assert toks[1].t == []


def test_tokenize_cjk_bigram_fallback(spark):
    # IK-segmenter stand-in (round-6): Han runs → character bigrams,
    # in document order, interleaved with ASCII runs; a lone Han char
    # is its own token; ASCII-only text is byte-identical to the
    # pre-round-6 split (previous test pins that).
    df = spark.createDataFrame(
        [("深度学习 with Spark 3",), ("好",), ("mix深度mix",)], "s string"
    )
    toks = [r.t for r in df.select(tokenize("s").alias("t")).collect()]
    assert toks[0] == ["深度", "度学", "学习", "with", "spark", "3"]
    assert toks[1] == ["好"]
    assert toks[2] == ["mix", "深度", "mix"]
    # the SQL kw_split macro shares the same convention
    from realtime_data_warehouse_spark.functions.tokenize import (
        register_sql_functions,
    )

    register_sql_functions(spark)
    row = spark.sql("SELECT kw_split('深度学习 with Spark 3') AS t").collect()[0]
    assert row.t == ["深度", "度学", "学习", "with", "spark", "3"]


def test_snake_case():
    assert snake_case("skuName") == "sku_name"
    assert snake_case("orderDetailId") == "order_detail_id"
    assert snake_case("id") == "id"


def test_salted_join_matches_plain_join(spark):
    from realtime_data_warehouse_spark.operators.joins import salted_join

    # heavily skewed big side: one hot key
    big = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(5)],
        "k string, v int",
    )
    small = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("unused", "U")], "k string, label string"
    )
    got = salted_join(big, small, "k", salt_buckets=8)
    want = big.join(small, "k")
    assert got.count() == want.count() == 505
    assert got.exceptAll(want).count() == 0
    # left join keeps unmatched big rows exactly once
    big2 = big.union(spark.createDataFrame([("orphan", 1)], "k string, v int"))
    got_l = salted_join(big2, small, "k", salt_buckets=8, how="left")
    assert got_l.count() == 506
    assert got_l.filter("k = 'orphan' and label is null").count() == 1


def test_asof_join_backward_forward_and_tolerance(spark):
    from datetime import datetime

    from realtime_data_warehouse_spark.operators.joins import asof_join

    T = lambda s: datetime.fromisoformat(s)  # noqa: E731
    left = spark.createDataFrame(
        [
            (1, T("2024-01-01 10:00:00"), "a"),
            (1, T("2024-01-01 12:00:00"), "b"),
            (2, T("2024-01-01 09:00:00"), "c"),   # before any right row
            (3, T("2024-01-01 09:00:00"), "d"),   # key with no right rows
        ],
        "k int, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, T("2024-01-01 09:30:00"), 10),
            (1, T("2024-01-01 10:00:00"), 20),    # equal ts matches (inclusive)
            (1, T("2024-01-01 11:00:00"), 30),
            (2, T("2024-01-01 09:30:00"), 40),
        ],
        "k int, ts timestamp, v int",
    )

    back = {
        (r["k"], r["tag"]): r["v"]
        for r in asof_join(left, right, "k", "ts", "ts").collect()
    }
    assert back == {(1, "a"): 20, (1, "b"): 30, (2, "c"): None, (3, "d"): None}

    fwd = {
        (r["k"], r["tag"]): r["v"]
        for r in asof_join(left, right, "k", "ts", "ts", direction="forward").collect()
    }
    assert fwd == {(1, "a"): 20, (1, "b"): None, (2, "c"): 40, (3, "d"): None}

    tol = {
        (r["k"], r["tag"]): (r["v"], r["matched_ts"])
        for r in asof_join(left, right, "k", "ts", "ts", tolerance="30 minutes").collect()
    }
    # (1,"b"): last right row is 11:00, 60 min away -> nulled by tolerance
    assert tol[(1, "a")] == (20, T("2024-01-01 10:00:00"))
    assert tol[(1, "b")] == (None, None)
    assert tol[(2, "c")] == (None, None)
    # left rows are never dropped by tolerance (merge_asof semantics)
    assert len(tol) == 4


def test_range_join_matches_brute_force_and_plans_hash_join(spark):
    """Binned range join == BETWEEN nested loop on random data,
    including intervals that straddle bucket boundaries, zero-length
    intervals, and points exactly on interval ends (exclusive)."""
    import random

    from realtime_data_warehouse_spark.operators.joins import range_join

    rng = random.Random(7)
    points = [(i, rng.randrange(0, 1000)) for i in range(300)]
    ivs = []
    for j in range(60):
        s = rng.randrange(0, 990)
        ivs.append((j, s, s + rng.randrange(0, 80)))
    pdf = spark.createDataFrame(points, "pid long, p long")
    idf = spark.createDataFrame(ivs, "iid long, s long, e long")

    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(pdf, idf, "p", "s", "e", bin_width=32).collect()
    )
    want = sorted(
        (pid, iid) for pid, p in points for iid, s, e in ivs if s <= p < e
    )
    assert got == want

    plan = range_join(pdf, idf, "p", "s", "e", bin_width=32)._jdf.queryExecution().executedPlan().toString()
    # equi-join on the bucket (hash or sort-merge, both fine), never...
    assert ("HashJoin" in plan) or ("SortMergeJoin" in plan)
    for marker in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert marker not in plan


def test_range_join_keyed_variant(spark):
    from realtime_data_warehouse_spark.operators.joins import range_join

    pdf = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 5), (3, "a", 50)], "pid long, k string, p long"
    )
    idf = spark.createDataFrame(
        [(10, "a", 0, 10), (11, "b", 0, 10)], "iid long, k string, s long, e long"
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(pdf, idf, "p", "s", "e", bin_width=8, keys=["k"]).collect()
    )
    assert got == [(1, 10), (2, 11)]  # same-range interval of the other key never joins


def test_time_bucket_rollup_partials_are_lossless(spark):
    """day/month levels re-aggregate hour partials; totals must equal
    a direct aggregation of the base table at every grain."""
    from realtime_data_warehouse_spark.operators.agg import time_bucket_rollup

    rows = [
        (f"2024-0{m}-{d:02d} {h:02d}:15:00", float(m * 100 + d * 10 + h))
        for m in (1, 2) for d in (1, 2, 15) for h in (0, 5, 23)
    ]
    df = spark.createDataFrame(rows, "ts string, v double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = time_bucket_rollup(
        df, "ts", {"n": F.count(F.lit(1)), "v": F.sum(F.col("v").cast("decimal(18,2)"))}
    ).collect()
    by_grain = {}
    for r in out:
        by_grain.setdefault(r["grain"], []).append(r)
    assert len(by_grain["hour"]) == 18
    assert len(by_grain["day"]) == 6
    assert len(by_grain["month"]) == 2
    total = sum(float(r["v"]) for r in by_grain["hour"])
    for g in ("day", "month"):
        assert sum(float(r["v"]) for r in by_grain[g]) == total
        assert sum(r["n"] for r in by_grain[g]) == 18


def test_optimize_table_preserves_rows_and_compacts(spark, tmp_path):
    """operators/maintenance.optimize_table: content byte-identical,
    small-file count collapses to the target math, and a leftover
    crash artifact (.__old__) is repaired before compacting."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from realtime_data_warehouse_spark.operators.maintenance import (
        optimize_table,
        table_bytes,
    )

    tdir = str(tmp_path / "t")
    # 40 tiny files
    spark.range(0, 4000).withColumn("v", F.col("id") * 2) \
        .repartition(40).write.parquet(tdir)
    before = {(r.id, r.v) for r in spark.read.parquet(tdir).collect()}
    n_small = len([f for f in os.listdir(tdir) if f.endswith(".parquet")])
    assert n_small >= 30

    # leftover crash artifact from a hypothetical earlier swap
    shutil.copytree(tdir, tdir + ".__old__")

    n_files = optimize_table(spark, tdir, target_file_bytes=table_bytes(tdir))
    assert n_files == 1
    assert not os.path.exists(tdir + ".__old__")
    n_after = len([f for f in os.listdir(tdir) if f.endswith(".parquet")])
    assert n_after == 1
    after = {(r.id, r.v) for r in spark.read.parquet(tdir).collect()}
    assert after == before


def test_maintain_table_fragmentation_trigger(spark, tmp_path):
    """operators/maintenance.maintain_table: the fragmentation trigger
    fires on an under-split layout (one giant row group caps scan
    tasks at 1) and on an over-fragmented one (small-files), is
    idempotent (second call is a no-op returning 0), leaves healthy
    tiny tables alone, and preserves content exactly."""
    import os

    from pyspark.sql import functions as F

    from realtime_data_warehouse_spark.operators.maintenance import (
        desired_files,
        maintain_table,
        needs_compaction,
        parquet_layout,
    )

    par, floor = 8, 64 * 1024

    # UNDER-SPLIT: one file, one row group, ~megabytes of data
    t1 = str(tmp_path / "bulk")
    (spark.range(0, 200_000)
     .withColumn("pad", F.md5(F.col("id").cast("string")))
     .coalesce(1).write.parquet(t1))
    lay = parquet_layout(t1)
    assert lay["files"] == 1 and lay["row_groups"] == 1
    assert lay["bytes"] > par * floor  # big enough that width term binds
    assert needs_compaction(t1, parallelism=par, min_file_bytes=floor)
    before = {(r.id, r.pad) for r in spark.read.parquet(t1).collect()}
    n = maintain_table(spark, t1, parallelism=par, min_file_bytes=floor)
    assert n == desired_files(lay["bytes"], par, min_file_bytes=floor)
    assert n > 1
    # idempotent: healthy now, second call runs nothing
    assert not needs_compaction(t1, parallelism=par, min_file_bytes=floor)
    assert maintain_table(spark, t1, parallelism=par,
                          min_file_bytes=floor) == 0
    assert {(r.id, r.pad) for r in spark.read.parquet(t1).collect()} == before

    # OVER-FRAGMENTED: many near-empty files
    t2 = str(tmp_path / "shards")
    spark.range(0, 4000).repartition(40).write.parquet(t2)
    assert parquet_layout(t2)["files"] >= 30
    assert needs_compaction(t2, parallelism=par, min_file_bytes=floor)
    rows2 = {r.id for r in spark.read.parquet(t2).collect()}
    n2 = maintain_table(spark, t2, parallelism=par, min_file_bytes=floor)
    assert 1 <= n2 < 30
    assert not needs_compaction(t2, parallelism=par, min_file_bytes=floor)
    assert {r.id for r in spark.read.parquet(t2).collect()} == rows2
    assert not os.path.exists(t2 + ".__new__")
    assert not os.path.exists(t2 + ".__old__")

    # HEALTHY TINY TABLE: a dim-sized single file is left alone
    t3 = str(tmp_path / "dim")
    spark.range(0, 25).coalesce(1).write.parquet(t3)
    assert not needs_compaction(t3, parallelism=par, min_file_bytes=floor)
    assert maintain_table(spark, t3, parallelism=par,
                          min_file_bytes=floor) == 0


def test_zorder_table_prunes_on_both_columns(spark, tmp_path):
    """operators/maintenance.zorder_table: after Z-ordering on (x, y),
    a range predicate on EITHER column must be satisfiable from a
    strict subset of row groups (min/max stats intersect), whereas the
    single-column sorted layout keeps pruning only for its lead
    column. Content must be preserved exactly."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from realtime_data_warehouse_spark.operators.maintenance import (
        table_bytes,
        zorder_table,
    )

    # two independent uniform dimensions
    n = 200_000
    base = spark.range(0, n).select(
        (F.col("id") % 447).alias("x"),
        ((F.col("id") * 7919) % 1000).alias("y"),
        F.col("id").alias("payload"),
    )

    def candidate_row_groups(table_dir, col, lo, hi):
        total, hit = 0, 0
        for f in glob.glob(f"{table_dir}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += 1
                if st.min <= hi and st.max >= lo:
                    hit += 1
        return hit, total

    # baseline: sorted by x only (classic lead-column layout)
    lin = str(tmp_path / "linear")
    base.repartitionByRange(8, "x").sortWithinPartitions("x") \
        .write.parquet(lin)
    # z-ordered on (x, y)
    zd = str(tmp_path / "zorder")
    base.write.parquet(zd)
    # a few hundred files: enough row groups for the pruning ratios to
    # mean something, without one file per Morton code
    zorder_table(spark, zd, ["x", "y"],
                 target_file_bytes=table_bytes(zd) // 256, bits_per_col=8)

    before = {(r.x, r.y, r.payload) for r in base.collect()}
    after = {(r.x, r.y, r.payload) for r in spark.read.parquet(zd).collect()}
    assert after == before

    # y-predicate: linear layout cannot prune (every row group spans
    # all of y); z-order must prune a majority of row groups
    y_hit_lin, y_tot_lin = candidate_row_groups(lin, "y", 100, 120)
    y_hit_z, y_tot_z = candidate_row_groups(zd, "y", 100, 120)
    assert y_hit_lin == y_tot_lin, "sanity: lead-column sort spans all y"
    assert y_hit_z / y_tot_z < 0.5, (
        f"z-order failed to localize y: {y_hit_z}/{y_tot_z}"
    )
    # x-predicate must STILL prune after z-ordering
    x_hit_z, x_tot_z = candidate_row_groups(zd, "x", 100, 120)
    assert x_hit_z / x_tot_z < 0.5, (
        f"z-order lost x locality: {x_hit_z}/{x_tot_z}"
    )


def test_snapshot_restore_roundtrip_through_merges(spark, tmp_path):
    """maintenance.snapshot_table / restore_snapshot: a snapshot taken
    before destructive merges reads back the pinned state (zero-copy
    hardlinks stay consistent because writers swap whole directories),
    and restore rolls the live table back crash-safely."""
    from pyspark.sql import functions as F

    from realtime_data_warehouse_spark.operators.maintenance import (
        list_snapshots,
        restore_snapshot,
        snapshot_table,
    )
    from realtime_data_warehouse_spark.streaming.sinks import _atomic_overwrite

    tdir = str(tmp_path / "t")
    spark.range(0, 100).withColumn("v", F.col("id") * 2).write.parquet(tdir)
    v1 = {(r.id, r.v) for r in spark.read.parquet(tdir).collect()}

    snap = snapshot_table(tdir, "before_merge")
    # destructive rewrite of the live table (the merge-sink path)
    _atomic_overwrite(
        spark.range(0, 10).withColumn("v", F.lit(-1).cast("long")), tdir)
    assert {r.v for r in spark.read.parquet(tdir).collect()} == {-1}
    # snapshot still reads the pinned state
    assert {(r.id, r.v) for r in spark.read.parquet(snap).collect()} == v1
    assert list_snapshots(tdir) == ["before_merge"]

    restore_snapshot(tdir, "before_merge")
    assert {(r.id, r.v) for r in spark.read.parquet(tdir).collect()} == v1
    # snapshot survives the restore
    assert list_snapshots(tdir) == ["before_merge"]


def test_two_pass_exact_quantile_matches_sort(spark):
    """two_pass_exact_quantile == the k-th smallest by full sort, for
    grouped and global cases, across duplicate-heavy and skewed
    distributions (bucket-boundary duplicates must not migrate
    between the histogram pass and the bracket pass)."""
    import math

    from pyspark.sql import functions as F

    from realtime_data_warehouse_spark.operators.agg import (
        two_pass_exact_quantile,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        # lots of exact duplicates + a skewed tail
        F.when(F.col("id") % 7 == 0, F.lit(42.0))
        .otherwise((F.col("id") % 997).cast("double") * 1.5).alias("x"),
    )
    rows = df.collect()
    for q in (0.5, 0.9):
        got = {
            r["g"]: r["x_q"]
            for r in two_pass_exact_quantile(
                df, "x", q, keys=["g"], n_buckets=32).collect()
        }
        for g in ("0", "1", "2"):
            vals = sorted(r.x for r in rows if r.g == g)
            k = max(1, math.ceil(q * len(vals)))
            assert got[g] == vals[k - 1], (g, q)
        # global (no keys)
        allv = sorted(r.x for r in rows)
        k = max(1, math.ceil(q * len(allv)))
        gotg = two_pass_exact_quantile(df, "x", q, n_buckets=32).collect()
        assert gotg[0]["x_q"] == allv[k - 1]

    # r12 multi-q form: one histogram, k quantiles — must equal the
    # scalar calls value-for-value (grouped and global), including a
    # case where two quantiles land in the SAME bucket (0.90/0.91).
    qs = [0.1, 0.5, 0.9, 0.91]
    got_multi = {
        (r["g"], r["q"]): r["x_q"]
        for r in two_pass_exact_quantile(
            df, "x", qs, keys=["g"], n_buckets=32).collect()
    }
    assert len(got_multi) == 3 * len(qs)
    for g in ("0", "1", "2"):
        vals = sorted(r.x for r in rows if r.g == g)
        for q in qs:
            k = max(1, math.ceil(q * len(vals)))
            assert got_multi[(g, q)] == vals[k - 1], (g, q)
    got_g = {r["q"]: r["x_q"] for r in two_pass_exact_quantile(
        df, "x", qs, n_buckets=32).collect()}
    allv = sorted(r.x for r in rows)
    for q in qs:
        k = max(1, math.ceil(q * len(allv)))
        assert got_g[q] == allv[k - 1], q

    # r12 staged form: a caller composing the exposed stages itself
    # (own stats scan → own histogram scan → quantile_multi_bracket,
    # the scan-merging path sketch_quantile_error rides) must
    # reproduce two_pass_exact_quantile value-for-value.
    from pyspark.sql import functions as FF

    from realtime_data_warehouse_spark.operators.agg import (
        quantile_bucket_expr,
        quantile_multi_bracket,
    )

    v = FF.col("x").cast("double")
    stats = df.groupBy("g").agg(FF.min(v).alias("lo"),
                                FF.max(v).alias("hi"),
                                FF.count(v).alias("n")).collect()
    bounds = {(r["g"],): (r["lo"], r["hi"], r["n"]) for r in stats}
    bexpr = quantile_bucket_expr("x", bounds, ["g"], 32)
    per_group: dict = {}
    for r in (df.withColumn("__b", bexpr).groupBy("g", "__b")
              .agg(FF.count(FF.lit(1)).alias("c")).collect()):
        per_group.setdefault((r["g"],), []).append((r["__b"], r["c"]))
    got_staged = {
        (r["g"], r["q"]): r["x_q"]
        for r in quantile_multi_bracket(
            df, "x", qs, ["g"], 32, bounds, per_group).collect()
    }
    assert got_staged == got_multi


def test_two_pass_exact_quantile_empty_and_all_null_groups(spark):
    """A group with no non-null value has no quantile, and neither has
    an empty input: both yield no rows (DuckDB quantile_disc returns
    NULL there; an absent row is the two-pass operator's form)."""
    from realtime_data_warehouse_spark.operators.agg import (
        two_pass_exact_quantile,
    )

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 6)] + [("b", None)] * 3,
        "g string, x double")
    got = two_pass_exact_quantile(df, "x", [0.5], keys=["g"]).collect()
    assert [(r["g"], r["x_q"]) for r in got] == [("a", 3.0)]
    only_null = df.filter(F.col("g") == "b")
    assert two_pass_exact_quantile(
        only_null, "x", [0.5], keys=["g"]).collect() == []
    assert two_pass_exact_quantile(df.limit(0), "x", [0.5]).collect() == []
    assert two_pass_exact_quantile(df.limit(0), "x", 0.5).collect() == []


def test_two_pass_exact_quantile_ignores_nulls(spark):
    """NULLs carry no rank, as in DuckDB quantile_disc: q=1.0 over
    1..10 plus five NULLs is 10.0 (the NULLs must not land in the top
    bucket and sort ahead of the maximum)."""
    from realtime_data_warehouse_spark.operators.agg import (
        two_pass_exact_quantile,
    )

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 11)] + [(None,)] * 5, "x double")
    got = two_pass_exact_quantile(df, "x", [1.0]).collect()
    assert [(r["q"], r["x_q"]) for r in got] == [(1.0, 10.0)]
    assert two_pass_exact_quantile(df, "x", 1.0).collect()[0]["x_q"] == 10.0


def test_maintain_table_reads_split_size_with_unit_suffix(
        spark, tmp_path, monkeypatch):
    """maintain_table sizes files by the session's
    spark.sql.files.maxPartitionBytes, which may carry a unit suffix:
    `256m` is 268435456 bytes, not a parse failure."""
    from realtime_data_warehouse_spark.operators import maintenance

    seen = []

    def spy(table_dir, parallelism, target_split_bytes, min_file_bytes):
        seen.append(target_split_bytes)
        return False

    monkeypatch.setattr(maintenance, "needs_compaction", spy)
    t = str(tmp_path / "t")
    spark.range(0, 10).write.parquet(t)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "256m")
    try:
        assert maintenance.maintain_table(spark, t, parallelism=2) == 0
    finally:
        spark.conf.set(key, old)
    assert seen == [268435456]


def test_gapfill_interp_linear_and_edge_fallback(spark):
    """gapfill_interp: interior holes get the straight-line value
    between surrounding observations (multi-bucket gaps included),
    leading/trailing holes take the nearest observation, and observed
    buckets pass through untouched with is_gapfilled=0."""
    from pyspark.sql import functions as F

    from realtime_data_warehouse_spark.operators.agg import gapfill_interp

    rows = [
        # key a: observed hours 1, 4, 5 of 1970-01-01 → holes at 2, 3
        ("a", "1970-01-01 01:00:00", 10.0),
        ("a", "1970-01-01 04:00:00", 40.0),
        ("a", "1970-01-01 05:00:00", 0.0),
        # key b: single observation → calendar is just that bucket
        ("b", "1970-01-01 02:00:00", 7.0),
    ]
    buckets = spark.createDataFrame(rows, ["k", "bucket", "v"]).select(
        "k", F.to_timestamp("bucket").alias("bucket"),
        F.col("v").cast("decimal(18,2)").alias("v"))
    out = {
        (r.k, r.bucket.hour): (r.is_gapfilled, float(r.v))
        for r in gapfill_interp(buckets, "bucket", ["k"], "v").collect()
    }
    assert out == {
        ("a", 1): (0, 10.0),
        ("a", 2): (1, 20.0),   # 10 + (40-10)*1/3
        ("a", 3): (1, 30.0),
        ("a", 4): (0, 40.0),
        ("a", 5): (0, 0.0),
        ("b", 2): (0, 7.0),
    }


def test_file_stats_index_prunes_files(spark, sf_small, tmp_path):
    """Manifest-level data skipping: after range-clustering orders by
    o_orderkey into several files, a narrow key-range pruned_scan must
    (a) read strictly fewer files than the table has and (b) return
    exactly the rows a full-scan filter returns."""
    from pyspark.sql import functions as F

    from realtime_data_warehouse_spark.operators.maintenance import (
        build_file_stats_index, pruned_scan)
    from realtime_data_warehouse_spark.sources.batch import load_table

    tdir = str(tmp_path / "orders_clustered")
    (load_table(spark, sf_small, "orders")
     .repartitionByRange(8, "o_orderkey")
     .sortWithinPartitions("o_orderkey")
     .write.parquet(tdir))
    idx_dir = build_file_stats_index(spark, tdir, "o_orderkey")
    idx = {r.path: (r.min_val, r.max_val)
           for r in spark.read.parquet(idx_dir).collect()}
    n_files = len(idx)
    assert n_files == 8 and all(v[0] is not None for v in idx.values())

    lo, hi = 100, 900
    got = pruned_scan(spark, tdir, "o_orderkey", lo, hi)
    # strictly fewer files in the pruned scan's input
    scanned = {f for f in got.inputFiles()}
    assert 0 < len(scanned) < n_files
    want = (spark.read.parquet(tdir)
            .filter(F.col("o_orderkey").between(lo, hi)))
    assert sorted(r.o_orderkey for r in got.collect()) == \
        sorted(r.o_orderkey for r in want.collect())

    # empty-intersection range → empty result, zero data files touched
    none = pruned_scan(spark, tdir, "o_orderkey", -50, -10)
    assert none.count() == 0


def test_expectation_checks_count_violations(spark):
    """expect_rows is null-hostile (null predicate = violation),
    expect_unique counts copies beyond the first, expect_fk counts
    orphans including null keys."""
    from pyspark.sql import functions as F

    from realtime_data_warehouse_spark.operators.quality import (
        expect_fk, expect_rows, expect_unique, quality_report)

    child = spark.createDataFrame(
        [(1, 5.0), (1, -1.0), (2, None), (3, 2.0), (9, 4.0)],
        "k int, v double")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    rep = {
        r.check_name: (r.violations, r.n_rows)
        for r in quality_report(
            expect_rows(child, {"v_positive": F.col("v") > 0}),
            expect_unique(child, ["k"]),
            expect_fk(child, "k", parent, "pk"),
        ).collect()
    }
    assert rep["v_positive"] == (2, 5)          # -1 and the NULL both trip
    assert rep["unique(k)"] == (1, 5)           # k=1 appears twice -> 1 extra
    assert rep["fk(k->pk)"] == (1, 5)           # k=9 is an orphan


def test_bmp_decoder_matches_hand_built_golden_bytes():
    """decode_bmp pinned against a BMP spelled out byte-by-byte (NOT
    produced by encode_bmp — encoder and decoder sharing a mistaken
    convention would cancel out in a round-trip): 2x2 24-bit BI_RGB,
    bottom-up, 2 pad bytes per row. Round-trip and top-down variants
    on top."""
    import struct

    import numpy as np

    from realtime_data_warehouse_spark.operators.multimodal import (
        decode_bmp,
        decode_image,
        encode_bmp,
    )

    # pixels RGB: (y0,x0)=(1,2,3) (y0,x1)=(4,5,6)
    #             (y1,x0)=(7,8,9) (y1,x1)=(10,11,12)
    # file stores bottom-up rows in BGR with stride 8 (6 data + 2 pad)
    header = struct.pack("<2sIHHI", b"BM", 70, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, 16,
                      2835, 2835, 0, 0)
    pix = bytes([9, 8, 7, 12, 11, 10, 0, 0,      # image row y=1 (bottom)
                 3, 2, 1, 6, 5, 4, 0, 0])        # image row y=0 (top)
    golden = header + dib + pix
    img = decode_bmp(golden)
    expected = np.array([[[1, 2, 3], [4, 5, 6]],
                         [[7, 8, 9], [10, 11, 12]]], dtype=np.uint8)
    assert img.shape == (2, 2, 3) and (img == expected).all()
    # decode_image dispatches BMP to the real path
    assert (decode_image(golden) == expected).all()

    # top-down variant: negative height, rows stored in image order
    dib_td = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 24, 0, 16,
                         2835, 2835, 0, 0)
    pix_td = bytes([3, 2, 1, 6, 5, 4, 0, 0,
                    9, 8, 7, 12, 11, 10, 0, 0])
    assert (decode_bmp(header + dib_td + pix_td) == expected).all()

    # encoder round-trips through the decoder for every pad width
    rng = np.random.default_rng(7)
    for w in (5, 6, 7, 8):
        px = rng.integers(0, 256, size=(3, w, 3), dtype=np.uint8)
        assert (decode_bmp(encode_bmp(px)) == px).all()

    import pytest
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n....")


def test_wav_decoder_walks_chunks_and_matches_golden_bytes():
    """decode_wav pinned against hand-built RIFF bytes, including a
    LIST chunk BEFORE data (chunks are a walked list, not fixed
    offsets) and an odd-sized chunk (even-offset padding rule)."""
    import struct

    import numpy as np

    from realtime_data_warehouse_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    samples = np.array([0, 1000, -1000, 32767, -32768], dtype=np.int16)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    info = b"INFOx"  # odd-sized payload: next chunk starts padded
    data = samples.astype("<i2").tobytes()
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"LIST" + struct.pack("<I", len(info)) + info + b"\x00"
            + b"data" + struct.pack("<I", len(data)) + data)
    golden = b"RIFF" + struct.pack("<I", len(body)) + body
    got, rate = decode_wav(golden)
    assert rate == 8000 and got.shape == (5, 1)
    assert (got[:, 0] == samples).all()

    # stereo round-trip through the encoder
    st = np.array([[1, -1], [300, -300]], dtype=np.int16)
    got2, rate2 = decode_wav(encode_wav(st, rate=44100))
    assert rate2 == 44100 and (got2 == st).all()

    import pytest
    with pytest.raises(ValueError):
        decode_wav(b"RIFXnope")
