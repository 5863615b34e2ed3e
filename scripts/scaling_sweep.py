#!/usr/bin/env python
"""Measured scaling proof for the quadratic-risk families (round 6,
VERDICT r5 top item): every "100 TB-safe" claim through round 5 was
validated at 17 MB — argued from plan shape (bucketed candidates,
bounded state, plan pins), never from a measured curve. This sweep
runs each family on deterministic synthetic corpora at ~1×/3×/10×/30×
the sf0.1 size (plus a 100× point per corpus under --xl) and fits the
empirical cost exponent

    t(n) ∝ n^e  ⇒  e = slope of least-squares fit on (log n, log t)

so "bucketed, never all-pairs" becomes a number. Corpora are
hash-derived (sources/synthetic.py — no RNG, no time), staged once to
parquet per size (generation untimed; every timed run pays a real
scan), timings are min-of-2 full executions through the noop sink on
the tuned session (bench.py discipline: tracked persists released
between passes).

Families and why they carry quadratic risk:
- set-similarity (jaccard_pairs / containment_join /
  minhash_lsh_pairs / simhash_pairs): candidate generation could
  degenerate toward n² if prefixes/bands/blocks stop pruning;
- dedup_clusters (converged label propagation): rounds × join cost,
  rounds could grow with n;
- ANN (kmeans_train / ivf_trained_topk): train is per-iteration
  O(n·k); probe-batch search should be ~O(n/cells · probes);
- embedding near-dup blocking (cosine_near_dup_pairs): within-block
  pairs ARE quadratic when block count is fixed — measured both ways
  (blocks fixed → the documented hazard; blocks ∝ n → the documented
  remedy) so the remedy is proven, not asserted;
- keyed stateful streams (A6 delta / A7 daily-UV): drain vs key
  cardinality — per-key state machinery is the floor (measured in
  streaming/stateful.py's docstring).

Writes SCALING.json (machine-readable) and prints a markdown table;
SCALING.md at the repo root is the committed interpretation.

Usage: python scripts/scaling_sweep.py [out_json] [--quick] [--only=f1,f2]
                                       [--xl]
  --quick: smallest two sizes only (development smoke).
  --only: run just the named families and MERGE their points into an
  existing out_json (the other families' committed points are kept) —
  adding one family doesn't cost a full re-sweep.
  --xl: extend each corpus one size further — 500k docs (100x the
  served sf0.1 documents table), 200k embeddings (100x), 1M stream
  keys — and at the two largest key sizes also drain the A6/A7
  streams under the RocksDB state-store provider
  (stream_*_rocksdb families), so "RocksDB extends the same curve
  past heap" is a measured pair of points, not prose. The
  fixed-block cosine hazard is NOT run at the xl size: its
  quadratic regime is already established at 60k (86 s, tail 2.19)
  and the 200k point would be ~20 min of pure n²/blocks by
  construction. Combine with --only for the families whose tail
  exponent needs the extra decade.
"""
from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STAGE_ROOT = os.path.join(tempfile.gettempdir(), "rdw_scaling_corpora")


def main() -> int:
    out_json = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") \
        else os.path.join(REPO, "SCALING.json")
    quick = "--quick" in sys.argv
    xl = "--xl" in sys.argv and not quick
    only: set[str] | None = None
    sizes_override: list[int] | None = None
    for a in sys.argv:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
        if a.startswith("--sizes="):
            # key-count override for the stream-family blocks (keyed
            # state / journey / interval / order-wide): with the
            # point-level merge, a targeted size re-runs alone and
            # slots into the committed curve
            sizes_override = [int(x) for x in a.split("=", 1)[1].split(",")]

    def want(fam: str) -> bool:
        return only is None or fam in only

    from pyspark.sql import functions as F

    from realtime_data_warehouse_spark.cache import unpersist_all
    from realtime_data_warehouse_spark.operators import curation as C
    from realtime_data_warehouse_spark.operators import dedup as D
    from realtime_data_warehouse_spark.operators import similarity as S
    from realtime_data_warehouse_spark.session import get_spark, tune_for_scale
    from realtime_data_warehouse_spark.sources import synthetic as G
    from realtime_data_warehouse_spark.streaming.runner import (
        run_available_now,
        staged_files_dir,
    )
    from realtime_data_warehouse_spark.streaming.stateful import (
        daily_first_event_stream,
        delta_correct,
    )

    spark = get_spark("rdw-scaling")
    tune_for_scale(spark)
    os.makedirs(STAGE_ROOT, exist_ok=True)

    # Session warm-up: first-job JIT + Python-worker fork otherwise
    # lands in whichever family happens to run first (observed: a
    # kmeans_train 2k point reading 9.6 s instead of ~1.2 s when it
    # opened the session).
    spark.range(2_000_000).selectExpr("sum(id)").collect()
    _warm = F.pandas_udf("double")(lambda s: s * 1.0)
    spark.range(100_000).select(
        _warm(F.col("id").cast("double"))
    ).write.format("noop").mode("overwrite").save()

    def _stamp_write_order(d: str, parts) -> None:
        """Append each part DataFrame as one file under `d` and stamp
        strictly increasing mtimes IN RECORDED WRITE ORDER (directory
        diff after each write — mtime inference breaks on coarse-mtime
        filesystems where ties fall back to random UUID filenames), so
        FileStreamSource replays file k as micro-batch k."""
        def listing() -> set[str]:
            return {f for f in os.listdir(d)
                    if f.startswith("part-") and f.endswith(".parquet")}

        files, seen = [], set()
        for part in parts:
            part.coalesce(1).write.mode("append").parquet(d)
            new = listing() - seen
            assert len(new) == 1, f"expected 1 new part file, got {new}"
            files.extend(new)
            seen |= new
        t0 = int(time.time()) - len(files) - 10
        for i, f in enumerate(files):
            os.utime(os.path.join(d, f), (t0 + i, t0 + i))

    def staged(name: str, build_df) -> str:
        """Stage a corpus to parquet once per (name); timed runs scan
        the files like any other table."""
        d = os.path.join(STAGE_ROOT, name)
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            build_df().write.mode("overwrite").parquet(d)
        return d

    def timed(make_df, passes: int = 2) -> tuple[float, int]:
        """Min-of-N (seconds, output rows) through the noop sink."""
        best, rows = float("inf"), -1
        for _ in range(passes):
            t0 = time.perf_counter()
            df = make_df()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            unpersist_all()
        rows = make_df().count()
        unpersist_all()
        return round(best, 3), rows

    results: dict[str, dict] = {}

    def _fit_exponent(pts: list[dict]) -> float:
        xs = [math.log(p["n"]) for p in pts]
        ys = [math.log(max(p["sec"], 1e-3)) for p in pts]
        nx = len(xs)
        mx, my = sum(xs) / nx, sum(ys) / nx
        denom = sum((x - mx) ** 2 for x in xs) or 1.0
        return round(sum((x - mx) * (y - my)
                         for x, y in zip(xs, ys)) / denom, 2)

    def _merged() -> dict:
        """Current results merged POINT-level into the existing
        out_json: a targeted --only rerun of one size replaces just
        that size's point instead of dropping the family's committed
        curve; exponents refit over the merged points."""
        merged: dict[str, dict] = {}
        if os.path.exists(out_json):
            with open(out_json) as f:
                merged = json.load(f)
        for fam, data in results.items():
            old = {p["n"]: p for p in merged.get(fam, {}).get("points", [])}
            for p in data["points"]:
                old[p["n"]] = p
            pts = [old[k] for k in sorted(old)]
            merged[fam] = {"points": pts, "exponent": _fit_exponent(pts)}
        return merged

    def _flush() -> None:
        # write after EVERY point — an 80-minute sweep must not lose
        # its measurements to a late assertion (round-8 lesson: the
        # 1M gapfill partial-drain assert fired after 10 recorded
        # points, and the script only wrote at exit). Merge BEFORE
        # opening for write (open("w") truncates the very file
        # _merged() reads — the first flush of a merge run wiped the
        # committed curves and crashed on the empty JSON), and swap in
        # atomically so a kill mid-dump can't leave a torn file.
        merged = _merged()
        tmp = out_json + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
        os.replace(tmp, out_json)

    def record(family: str, size: int, sec: float, rows: int) -> None:
        results.setdefault(family, {"points": []})["points"].append(
            {"n": size, "sec": sec, "rows": rows})
        print(f"  {family} n={size}: {sec}s rows={rows}", flush=True)
        _flush()

    # ---- documents: set-similarity + clustering ------------------------
    doc_sizes = [5_000, 15_000] if quick else [5_000, 15_000, 50_000, 150_000]
    if xl:
        doc_sizes.append(500_000)
    for n in doc_sizes:
        d = staged(f"zipf_docs_{n}", lambda n=n: G.zipf_documents(
            spark, n_docs=n, doc_len=100, vocab=50_000, dup_frac=0.1))
        docs = spark.read.parquet(d).select("doc_id", "text")

        if want("jaccard_pairs"):
            record("jaccard_pairs", n, *timed(
                lambda: D.jaccard_pairs(docs, threshold=0.8)))
        if want("containment_join"):
            record("containment_join", n, *timed(
                lambda: D.containment_join(docs, t_num=9, t_den=10,
                                           postings=D.gram_postings(docs))))
        if want("minhash_lsh_pairs"):
            record("minhash_lsh_pairs", n, *timed(
                lambda: D.minhash_lsh_pairs(docs)))
        if want("simhash_pairs"):
            record("simhash_pairs", n, *timed(
                lambda: D.simhash_pairs(docs)))
        if want("simhash_recall"):
            # Round-9 VERDICT stretch: the simhash_fast_recall_gate's
            # certificate (recall vs exact Jaccard truth, the
            # plans/datapipe.py computation verbatim) as a CURVE over
            # corpus size instead of two SF spot checks. Recorded
            # rows = recall in basis points (10000 = 1.0); sec = the
            # full truth+fast+join compute.
            t0 = time.perf_counter()
            fast_pairs = (D.simhash_pairs(docs, max_hamming=8)
                          .select("doc_a", "doc_b")
                          .withColumn("hit", F.lit(1)))
            counts = {}
            for tau in (0.95, 0.80):
                truth = D.jaccard_pairs(docs, threshold=tau).select(
                    "doc_a", "doc_b")
                r = truth.join(fast_pairs, ["doc_a", "doc_b"],
                               "left").agg(
                    F.count(F.lit(1)).alias("nt"),
                    F.count("hit").alias("nf")).collect()[0]
                counts[tau] = (r["nt"], r["nf"])
            sec = round(time.perf_counter() - t0, 3)
            unpersist_all()
            for tau, (nt, nf) in counts.items():
                bp = int(round(10_000 * nf / nt)) if nt else 10_000
                print(f"  simhash_recall τ={tau} n={n}: "
                      f"{nf}/{nt} truth pairs found", flush=True)
                record(f"simhash_recall_t{int(tau * 100)}", n, sec, bp)
        if want("clusters_converged"):
            record("clusters_converged", n, *timed(
                lambda: C.min_label_propagation(
                    D.jaccard_pairs(docs, threshold=0.8), rounds="converge"),
                passes=1))
        if want("stream_neardup_gate"):
            # the round-6 streaming ingest gate on the same corpus: 90%
            # becomes the stored band index, 10% arrives as a
            # 3-micro-batch stream and is gated against index + earlier
            # arrivals. A shim dir aliases the staged corpus under the
            # table name the registry entry reads.
            from realtime_data_warehouse_spark.plans.streaming_queries import (
                stream_neardup_gate,
            )
            shim = os.path.join(STAGE_ROOT, f"shim_docs_{n}")
            os.makedirs(shim, exist_ok=True)
            link = os.path.join(shim, "documents.parquet")
            if not os.path.exists(link):
                os.symlink(d, link)

            def drain_gate(shim=shim) -> float:
                t0 = time.perf_counter()
                stream_neardup_gate(spark, shim).write.format("noop").mode(
                    "overwrite").save()
                sec = time.perf_counter() - t0
                unpersist_all()
                return sec

            drain_gate()  # untimed: stages corpus index + replay input
            record("stream_neardup_gate", n,
                   round(min(drain_gate() for _ in range(2)), 3), n // 10)

        if want("stream_heavy_hitters"):
            # round-8 MG sink at scale: the documents corpus drains as
            # a 3-micro-batch token stream through mg_merge_batch
            # (capacity-64 summary + exact count as cross-batch state,
            # exactly-once ledger), then the ≤ k stored candidates are
            # exact-re-counted — the full stream_heavy_hitters shape.
            # Output asserted EQUAL to the brute-force full-vocabulary
            # groupBy heavy-hitter set at every size (computed untimed).
            from realtime_data_warehouse_spark.functions.tokenize import (
                tokenize,
            )
            from realtime_data_warehouse_spark.streaming.runner import (
                run_foreach_batch,
            )
            from realtime_data_warehouse_spark.streaming.sinks import (
                mg_merge_batch,
            )

            _HHK = 64

            def drain_hh(d=d, n=n) -> tuple[float, int]:
                import pandas as pd  # noqa: PLC0415

                base = tempfile.mkdtemp(prefix=f"scal_hh_{n}_")
                in_dir = staged_files_dir(
                    spark.read.parquet(d).select("doc_id", "text"),
                    base, n_files=3, order_col="doc_id")
                state = os.path.join(base, "state")
                t0 = time.perf_counter()
                s = (spark.readStream.schema("doc_id long, text string")
                     .option("maxFilesPerTrigger", "1").parquet(in_dir)
                     .select(F.explode(tokenize("text")).alias("token")))
                run_foreach_batch(s, mg_merge_batch(state, k=_HHK),
                                  os.path.join(base, "ck"),
                                  output_mode="append")
                st = pd.read_parquet(state)
                n_tot = int(st.loc[st["is_total"], "cnt"].sum())
                cand = sorted(st.loc[~st["is_total"], "token"].tolist())
                toks = (spark.read.parquet(d)
                        .select(F.explode(tokenize("text")).alias("token")))
                got = {r["token"]: r["cnt"] for r in
                       toks.filter(F.col("token").isin(cand))
                       .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
                       .filter(F.col("cnt") > F.lit(n_tot / (_HHK + 1)))
                       .collect()}
                sec = time.perf_counter() - t0
                brute = {r["token"]: r["cnt"] for r in
                         toks.groupBy("token")
                         .agg(F.count(F.lit(1)).alias("cnt"))
                         .filter(F.col("cnt") > F.lit(n_tot / (_HHK + 1)))
                         .collect()}
                assert got == brute, (
                    f"stream heavy hitters diverged at n={n}: "
                    f"{len(got)} vs brute {len(brute)}")
                shutil.rmtree(base, ignore_errors=True)
                return sec, len(got)

            drain_hh()  # warm
            sec, rows = min((drain_hh() for _ in range(2)),
                            key=lambda t: t[0])
            record("stream_heavy_hitters", n, round(sec, 3), rows)

    # ---- embeddings: ANN + blocked near-dup ----------------------------
    emb_sizes = [2_000, 6_000] if quick else [2_000, 6_000, 20_000, 60_000]
    if xl:
        emb_sizes.append(200_000)
    if not any(want(f) for f in (
            "kmeans_train", "ivf_trained_search", "lsh_search",
            "cosine_neardup_blocks_fixed", "cosine_neardup_blocks_prop")):
        emb_sizes = []
    for n in emb_sizes:
        # fixed block/cell count (the hazard) ...
        d_fix = staged(f"emb_fix_{n}", lambda n=n: G.synthetic_embeddings(
            spark, n_vecs=n, n_labels=10))
        # ... and blocks ∝ n (the remedy: constant expected block size)
        d_prop = staged(f"emb_prop_{n}", lambda n=n: G.synthetic_embeddings(
            spark, n_vecs=n, n_labels=max(10, n // 200)))
        emb_fix = spark.read.parquet(d_fix)
        emb_prop = spark.read.parquet(d_prop)

        if want("lsh_search"):
            # sign-LSH bucketed top-k on the clustered (near-dup
            # regime) corpus — the geometry where bucket pruning
            # actually bites (isotropic corpora are candidate-fraction
            # bound by the (1−θ/π)^bits law; see ann_lsh_recall)
            probes_l = emb_fix.filter(F.col("vec_id") < 10)
            record("lsh_search", n, *timed(
                lambda: S.lsh_topk(emb_fix, probes_l, k=5, n_tables=2)))
        if want("kmeans_train") or want("ivf_trained_search"):
            t0 = time.perf_counter()
            centroids = S.kmeans_train(emb_fix, k=16, iters=3, quantize=6)
            if want("kmeans_train"):
                record("kmeans_train", n,
                       round(time.perf_counter() - t0, 3), 16)
            if want("ivf_trained_search"):
                probes = emb_fix.filter(F.col("vec_id") < 10)
                record("ivf_trained_search", n, *timed(
                    lambda: S.ivf_trained_topk(emb_fix, probes, centroids,
                                               k=5, n_probe=3)))
        if want("cosine_neardup_blocks_fixed") and n <= 60_000:
            # not at the xl size: quadratic regime already established
            # at 60k (86 s, tail 2.19); 200k is ~11x that by the law
            record("cosine_neardup_blocks_fixed", n, *timed(
                lambda: S.cosine_near_dup_pairs(emb_fix, threshold=0.8)))
        if want("cosine_neardup_blocks_prop"):
            record("cosine_neardup_blocks_prop", n, *timed(
                lambda: S.cosine_near_dup_pairs(emb_prop, threshold=0.8)))

    # ---- keyed stateful streams: drain vs key cardinality --------------
    key_sizes = [30_000, 100_000] if quick else [30_000, 100_000, 300_000]
    if xl:
        key_sizes.append(1_000_000)
    if sizes_override is not None:
        key_sizes = list(sizes_override)
    # RocksDB twins only at the two largest sizes: the provider's
    # value is state headroom, and two points fit the tail exponent.
    rocks_sizes = {300_000, 1_000_000} if xl else set()
    stream_fams = ("stream_a6_delta", "stream_a7_daily_uv",
                   "stream_a6_delta_rocksdb", "stream_a7_daily_uv_rocksdb",
                   "stream_a6_delta_zipf", "stream_a7_daily_uv_zipf",
                   "stream_keyed_window", "stream_keyed_window_zipf")
    if not any(want(f) for f in stream_fams):
        key_sizes = []
    for n in key_sizes:
        up_dir = ev_dir = upz_dir = evz_dir = None
        if want("stream_a6_delta") or want("stream_a6_delta_rocksdb"):
            up_dir = staged(f"upserts_{n}", lambda n=n: G.synthetic_upserts(
                spark, n_keys=n, versions=2))
        if (want("stream_a7_daily_uv") or want("stream_a7_daily_uv_rocksdb")
                or want("stream_keyed_window")):
            ev_dir = staged(f"uevents_{n}",
                            lambda n=n: G.synthetic_user_events(
                                spark, n_events=3 * n, n_users=n))
        # skew twins: SAME row count and key domain, keys drawn Zipf(1)
        # (synthetic._zipf_key — key 0 carries ~1/ln(n) of all rows).
        # Staged only when a zipf family is wanted (round-7 advice:
        # unconditional staging added O(input) writes to targeted
        # sweeps).
        if want("stream_a6_delta_zipf"):
            upz_dir = staged(f"upserts_zipf_{n}",
                             lambda n=n: G.synthetic_upserts(
                                 spark, n_keys=n, versions=2, zipf=True))
        if want("stream_a7_daily_uv_zipf") or want("stream_keyed_window_zipf"):
            evz_dir = staged(f"uevents_zipf_{n}",
                             lambda n=n: G.synthetic_user_events(
                                 spark, n_events=3 * n, n_users=n,
                                 zipf=True))

        def drain_a6(up_dir=up_dir, n=n) -> tuple[float, int]:
            base = tempfile.mkdtemp(prefix=f"scal_a6_{n}_")
            in_dir = staged_files_dir(
                spark.read.parquet(up_dir), base, n_files=3, order_col="ts")
            sdf = (spark.readStream.schema(
                "id string, ts long, amt double, fee double")
                .option("maxFilesPerTrigger", "1").parquet(in_dir))
            t0 = time.perf_counter()
            run_available_now(
                delta_correct(sdf, "id", "ts", ["amt", "fee"]),
                os.path.join(base, "out"), os.path.join(base, "ck"))
            sec = time.perf_counter() - t0
            shutil.rmtree(base, ignore_errors=True)
            return sec, 2 * n

        def drain_a7(ev_dir=ev_dir, n=n) -> tuple[float, int]:
            base = tempfile.mkdtemp(prefix=f"scal_a7_{n}_")
            in_dir = staged_files_dir(
                spark.read.parquet(ev_dir), base, n_files=3, order_col="ts_s")
            sdf = (spark.readStream.schema("uid string, ts_s long")
                   .option("maxFilesPerTrigger", "1").parquet(in_dir))
            t0 = time.perf_counter()
            run_available_now(
                daily_first_event_stream(sdf, "uid", "ts_s"),
                os.path.join(base, "out"), os.path.join(base, "ck"))
            sec = time.perf_counter() - t0
            shutil.rmtree(base, ignore_errors=True)
            return sec, 3 * n

        def drain_window(ev_dir, n=n, exp_rows: int | None = None
                         ) -> tuple[float, int]:
            # keyed tumbling window (A1 shape) at scale: per-(uid, day)
            # streaming agg state — the skew question is whether the
            # hot key's update traffic bends the drain (map-side
            # partial agg should absorb most of it before the state
            # store sees rows)
            base = tempfile.mkdtemp(prefix=f"scal_win_{n}_")
            in_dir = staged_files_dir(
                spark.read.parquet(ev_dir), base, n_files=3,
                order_col="ts_s")
            # far-future sentinel as a LAST micro-batch so the final
            # day's windows cross the 1 h watermark and flush — without
            # it the recorded time silently excluded final-window
            # emission and the output was unassertable (round-7 advice)
            far = spark.read.parquet(ev_dir).agg(
                F.max("ts_s")).collect()[0][0] + 40 * 86_400
            sent = os.path.join(in_dir, "sentinel.parquet")
            spark.createDataFrame([("-1", far)], "uid string, ts_s long") \
                .coalesce(1).write.mode("overwrite").parquet(sent + ".d")
            part = next(f for f in os.listdir(sent + ".d")
                        if f.startswith("part-") and f.endswith(".parquet"))
            os.replace(os.path.join(sent + ".d", part), sent)
            shutil.rmtree(sent + ".d", ignore_errors=True)
            os.utime(sent, (int(time.time()) + 5, int(time.time()) + 5))
            sdf = (spark.readStream.schema("uid string, ts_s long")
                   .option("maxFilesPerTrigger", "1").parquet(in_dir)
                   .select("uid", F.col("ts_s").cast("timestamp")
                           .alias("ts"))
                   .withWatermark("ts", "1 hour"))
            agg = sdf.groupBy(F.window("ts", "1 day"), "uid").agg(
                F.count(F.lit(1)).alias("n_events"))
            t0 = time.perf_counter()
            run_available_now(agg, os.path.join(base, "out"),
                              os.path.join(base, "ck"))
            sec = time.perf_counter() - t0
            rows = (spark.read.parquet(os.path.join(base, "out"))
                    .filter(F.col("uid") != "-1").count())
            if exp_rows is not None:
                assert rows == exp_rows, (
                    f"keyed window lost rows at n={n}: {rows} "
                    f"(want {exp_rows})")
            shutil.rmtree(base, ignore_errors=True)
            return sec, rows

        from realtime_data_warehouse_spark.session import use_rocksdb_state

        def drain_a6z(upz_dir=upz_dir, n=n):
            return drain_a6(up_dir=upz_dir, n=n)

        def drain_a7z(evz_dir=evz_dir, n=n):
            return drain_a7(ev_dir=evz_dir, n=n)

        def _exp_win(d: str) -> int:
            # exact expected output: distinct (uid, epoch-day) pairs —
            # window('1 day') on UTC timestamps is epoch-aligned
            return (spark.read.parquet(d)
                    .select("uid", (F.col("ts_s") / 86_400).cast("long")
                            .alias("day"))
                    .distinct().count())

        exp_win_u = _exp_win(ev_dir) if want("stream_keyed_window") else None
        exp_win_z = _exp_win(evz_dir) \
            if want("stream_keyed_window_zipf") else None

        for fam, fn in (("stream_a6_delta", drain_a6),
                        ("stream_a7_daily_uv", drain_a7),
                        ("stream_a6_delta_zipf", drain_a6z),
                        ("stream_a7_daily_uv_zipf", drain_a7z),
                        ("stream_keyed_window",
                         lambda ev_dir=ev_dir, n=n, e=exp_win_u:
                         drain_window(ev_dir, n, exp_rows=e)),
                        ("stream_keyed_window_zipf",
                         lambda evz_dir=evz_dir, n=n, e=exp_win_z:
                         drain_window(evz_dir, n, exp_rows=e))):
            if want(fam):
                fn()  # warm (stages input, forks workers)
                sec, rows = min((fn() for _ in range(2)), key=lambda t: t[0])
                record(fam, n, round(sec, 3), rows)
            rfam = fam + "_rocksdb"
            if n in rocks_sizes and want(rfam) \
                    and fam in ("stream_a6_delta", "stream_a7_daily_uv"):
                use_rocksdb_state(spark, True)
                try:
                    fn()  # warm under the provider too
                    sec, rows = min((fn() for _ in range(2)),
                                    key=lambda t: t[0])
                finally:
                    use_rocksdb_state(spark, False)
                record(rfam, n, round(sec, 3), rows)

    # ---- round-8 stateful families: gapfill / funnel / attribution / pack
    # The four keyed applyInPandasWithState operators that had pytest
    # pins but no measured exponent (VERDICT r7 item 1). One shared
    # journey corpus (synthetic_keyed_journey) drives all four —
    # per-key rank is staged as a column, so every family's expected
    # output is EXACT from one input aggregate, uniform and Zipf(1)
    # alike, and asserted at every size.
    from realtime_data_warehouse_spark.streaming.stateful import (
        asof_enrich_stream,
        attribution_stream,
        funnel_stream,
        gapfill_locf_stream,
        pack_stream,
    )

    _J_SCHEMA = ("gid long, uid long, rnk long, ts_s long, "
                 "etype string, value double")
    _GF_BASE = 1_704_067_200

    j_sizes = [30_000, 100_000] if quick else [30_000, 100_000, 300_000]
    if xl:
        j_sizes.append(1_000_000)
    if sizes_override is not None:
        j_sizes = list(sizes_override)
    j_base_fams = ("stream_gapfill", "stream_funnel",
                   "stream_attribution", "stream_pack", "stream_asof")
    # RocksDB twins at the two largest sizes only (same rationale as
    # the A6/A7 rocks rows): the uniform 1M drains bend with resident
    # state exactly like A7 did, and the provider swap is the measured
    # remedy — two points fit the tail exponent.
    j_rocks_sizes = {300_000, 1_000_000} if xl else set()
    if not any(want(f + s) for f in j_base_fams
               for s in ("", "_zipf", "_rocksdb", "_auto")):
        j_sizes = []
    elif not any(want(f + s) for f in j_base_fams
                 for s in ("", "_zipf", "_auto")):
        # Only _rocksdb twins wanted: those are measured only at
        # j_rocks_sizes (empty without --xl), so restrict the size
        # ladder to sizes that will actually be drained — otherwise
        # every size is staged and aggregated while nothing records
        # (round-9 ADVICE fix).
        j_sizes = [n for n in j_sizes if n in j_rocks_sizes]
        if not j_sizes:
            print("rocksdb journey twins need --xl (measured at "
                  "300k/1M only); nothing to do", flush=True)
    for n in j_sizes:
        for suffix, zipf in (("", False), ("_zipf", True)):
            fams = [f + suffix for f in j_base_fams]
            if not suffix:
                fams += [f + s for f in j_base_fams
                         for s in ("_rocksdb", "_auto")]
            if not any(want(f) for f in fams):
                continue
            jdir = staged(
                f"journey{'_zipf' if zipf else ''}_{n}",
                lambda n=n, zipf=zipf: G.synthetic_keyed_journey(
                    spark, n_events=3 * n, n_keys=n, zipf=zipf))
            # exact expectations, one aggregate over per-key counts:
            # d keys, ge2/ge3 funnel completions, ⌈c/4⌉ packs,
            # ⌊c/3⌋ conversions per key
            c = F.col("count")
            st = (spark.read.parquet(jdir).groupBy("uid").count().agg(
                F.count(F.lit(1)).alias("d"),
                F.sum((c >= 2).cast("long")).alias("ge2"),
                F.sum((c >= 3).cast("long")).alias("ge3"),
                F.sum(F.floor((c + 3) / 4)).alias("packs0"),
                F.sum(F.floor(c / 3)).alias("n_conv"),
                F.sum(F.floor((c + 2) / 3)).alias("n_views"),
                F.sum(c).alias("n_rows"),
            ).collect()[0])

            def drain_journey(make, check, jdir=jdir, n=n):
                base = tempfile.mkdtemp(prefix=f"scal_j_{n}_")
                in_dir = staged_files_dir(
                    spark.read.parquet(jdir), base, n_files=3,
                    order_col="gid")
                sdf = (spark.readStream.schema(_J_SCHEMA)
                       .option("maxFilesPerTrigger", "1").parquet(in_dir))
                t0 = time.perf_counter()
                run_available_now(make(sdf), os.path.join(base, "out"),
                                  os.path.join(base, "ck"))
                sec = time.perf_counter() - t0
                rows = check(spark.read.parquet(os.path.join(base, "out")))
                shutil.rmtree(base, ignore_errors=True)
                return sec, rows

            def mk_gapfill(s):
                return gapfill_locf_stream(
                    s.select(
                        F.col("uid").cast("string").alias("id"),
                        (F.lit(_GF_BASE) + F.col("rnk") * 7_200)
                        .cast("long").alias("bucket"),
                        F.col("value").alias("v"),
                        (F.col("value") * 2).alias("w"),
                    ), "id", "bucket", ["v", "w"], step_seconds=3_600)

            def ck_gapfill(out, st=st, n=n):
                r = out.agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum("is_gapfilled").alias("gf"),
                    F.sum("is_late").alias("late")).collect()[0]
                exp = 2 * st["n_rows"] - st["d"]
                assert (r["rows"], r["gf"], r["late"]) == \
                    (exp, st["n_rows"] - st["d"], 0), (
                    f"gapfill wrong at n={n}: {tuple(r)} want "
                    f"({exp}, {st['n_rows'] - st['d']}, 0)")
                return r["rows"]

            def mk_funnel(s):
                return funnel_stream(s, "uid", "ts_s", "etype")

            def ck_funnel(out, st=st, n=n):
                latest = out.groupBy("uid").agg(
                    F.max_by(F.struct("t1", "t2", "t3"), "seq").alias("s"))
                r = latest.agg(
                    F.count(F.lit(1)).alias("users"),
                    F.count("s.t1").alias("c1"),
                    F.count("s.t2").alias("c2"),
                    F.count("s.t3").alias("c3")).collect()[0]
                exp = (st["d"], st["d"], st["ge2"], st["ge3"])
                assert tuple(r) == exp, (
                    f"funnel wrong at n={n}: {tuple(r)} want {exp}")
                return r["users"]

            def mk_attr(s):
                return attribution_stream(s, "uid", "ts_s", "gid",
                                          "etype", "value")

            def ck_attr(out, st=st, n=n):
                r = out.agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(((F.col("first_touch") == "view")
                           & (F.col("last_touch") == "click"))
                          .cast("long")).alias("vc")).collect()[0]
                assert tuple(r) == (st["n_conv"], st["n_conv"]), (
                    f"attribution wrong at n={n}: {tuple(r)} want "
                    f"({st['n_conv']}, {st['n_conv']})")
                return r["rows"]

            def mk_pack(s):
                return pack_stream(
                    s.select(
                        "uid",
                        F.col("gid").alias("doc_id"),
                        F.lit(0).cast("long").alias("chunk_idx"),
                        F.lit(64).cast("long").alias("n_tokens"),
                    ), ["uid"], ("doc_id", "chunk_idx"),
                    tokens_col="n_tokens", budget=256)

            def ck_pack(out, st=st, n=n):
                r = out.agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum((F.col("pack_offset") == 0).cast("long"))
                    .alias("p0")).collect()[0]
                assert tuple(r) == (st["n_rows"], st["packs0"]), (
                    f"pack wrong at n={n}: {tuple(r)} want "
                    f"({st['n_rows']}, {st['packs0']})")
                return r["rows"]

            def mk_asof(s):
                # view rows (rnk%3==0) are the reference side; every
                # key's FIRST event is a view, so every click/purchase
                # row must come out matched — exact expected counts
                return asof_enrich_stream(
                    s.select(
                        "uid", F.col("ts_s").alias("ts"),
                        F.when(F.col("etype") == "view", 0).otherwise(1)
                        .cast("int").alias("tag"),
                        F.col("gid").alias("id"),
                        F.col("gid").alias("rid"),
                        "value",
                    ), key_col="uid", ts_col="ts", tag_col="tag",
                    id_col="id", payload_cols=("rid", "value"))

            def ck_asof(out, st=st, n=n):
                r = out.agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.count("matched_ts").alias("matched")).collect()[0]
                exp = st["n_rows"] - st["n_views"]
                assert tuple(r) == (exp, exp), (
                    f"asof wrong at n={n}: {tuple(r)} want ({exp}, {exp})")
                return r["rows"]

            for fam, make, check in (
                    (f"stream_gapfill{suffix}", mk_gapfill, ck_gapfill),
                    (f"stream_funnel{suffix}", mk_funnel, ck_funnel),
                    (f"stream_attribution{suffix}", mk_attr, ck_attr),
                    (f"stream_pack{suffix}", mk_pack, ck_pack),
                    (f"stream_asof{suffix}", mk_asof, ck_asof)):
                if want(fam):
                    drain_journey(make, check)  # warm (stages replay input)
                    sec, rows = min(
                        (drain_journey(make, check) for _ in range(2)),
                        key=lambda t: t[0])
                    record(fam, n, round(sec, 3), rows)
                if (not suffix and n in j_rocks_sizes
                        and want(fam + "_rocksdb")):
                    from realtime_data_warehouse_spark.session import (
                        use_rocksdb_state,
                    )
                    use_rocksdb_state(spark, True)
                    try:
                        drain_journey(make, check)  # warm under provider
                        sec, rows = min(
                            (drain_journey(make, check) for _ in range(2)),
                            key=lambda t: t[0])
                    finally:
                        use_rocksdb_state(spark, False)
                    record(fam + "_rocksdb", n, round(sec, 3), rows)
                # AUTO provider (round-9 VERDICT item 3): no hand-set
                # flag — the store is derived from the staged input's
                # estimated resident keys against the measured
                # crossover (session.STATE_STORE_KEY_CROSSOVER), the
                # same way shuffle_for_volume derives partitions.
                # Expected: in-memory below 1M, RocksDB at 1M, flat
                # tails across the switch.
                if (not suffix and want(fam + "_auto")
                        and fam in ("stream_gapfill", "stream_funnel")):
                    from realtime_data_warehouse_spark.session import (
                        auto_state_store,
                        estimate_resident_keys,
                        use_rocksdb_state,
                    )
                    rk = estimate_resident_keys(
                        spark.read.parquet(jdir), "uid")
                    rocks = auto_state_store(spark, rk)
                    print(f"  {fam}_auto n={n}: est_keys={rk} -> "
                          f"{'rocksdb' if rocks else 'in-memory'}",
                          flush=True)
                    try:
                        drain_journey(make, check)
                        sec, rows = min(
                            (drain_journey(make, check) for _ in range(2)),
                            key=lambda t: t[0])
                    finally:
                        use_rocksdb_state(spark, False)
                    record(fam + "_auto", n, round(sec, 3), rows)

    # ---- stream-stream interval join: drain vs order cardinality -------
    # T9's scale claim — join state bounded by (watermark delay +
    # interval width) × rate, so drain cost should be linear in rows
    # while matches span micro-batch boundaries from state.
    sj_sizes = [30_000, 100_000] if quick else [30_000, 100_000, 300_000]
    if xl:
        sj_sizes.append(1_000_000)
    if sizes_override is not None:
        sj_sizes = list(sizes_override)
    if not want("stream_interval_join"):
        sj_sizes = []
    for n in sj_sizes:
        op_dir = staged(f"orderpay_{n}", lambda n=n: G.synthetic_order_payments(
            spark, n_orders=n))
        # ONE shared time-boundary set for both sides (round-6 lesson:
        # per-stream repartitionByRange cuts at each side's own
        # quantiles, stranding rows behind the min-policy watermark).
        # Split dirs staged once per size; mtimes stamped so file k
        # replays as micro-batch k on both inputs simultaneously.
        sj_base = os.path.join(STAGE_ROOT, f"orderpay_split_{n}")
        if not os.path.exists(os.path.join(sj_base, "done")):
            df = spark.read.parquet(op_dir)
            c1, c2 = df.select(
                F.expr("percentile(ts_s, 0.3333)"),
                F.expr("percentile(ts_s, 0.6667)"),
            ).collect()[0]
            for side in ("o", "p"):
                d = os.path.join(sj_base, side, "in")
                sdf = df.filter(F.col("side") == side).drop("side")
                ts = F.col("ts_s")
                _stamp_write_order(d, [sdf.filter(ts < c1),
                                       sdf.filter((ts >= c1) & (ts < c2)),
                                       sdf.filter(ts >= c2)])
            open(os.path.join(sj_base, "done"), "w").close()

        def drain_join(sj_base=sj_base, n=n) -> tuple[float, int]:
            from realtime_data_warehouse_spark.streaming.joins import (
                interval_join,
            )
            base = tempfile.mkdtemp(prefix=f"scal_sj_{n}_")
            t0 = time.perf_counter()
            o = (spark.readStream
                 .schema("order_id string, ts_s long, amount double")
                 .option("maxFilesPerTrigger", "1")
                 .parquet(os.path.join(sj_base, "o", "in"))
                 .select(F.col("order_id"),
                         F.col("ts_s").cast("timestamp").alias("ts_o"),
                         F.col("amount").alias("o_amount"))
                 .withWatermark("ts_o", "30 minutes"))
            p = (spark.readStream
                 .schema("order_id string, ts_s long, amount double")
                 .option("maxFilesPerTrigger", "1")
                 .parquet(os.path.join(sj_base, "p", "in"))
                 .select(F.col("order_id").alias("p_order_id"),
                         F.col("ts_s").cast("timestamp").alias("ts_p"))
                 .withWatermark("ts_p", "30 minutes"))
            joined = interval_join(
                o, p, F.col("order_id") == F.col("p_order_id"),
                "ts_o", "ts_p", "0 seconds", "15 minutes")
            run_available_now(joined, os.path.join(base, "out"),
                              os.path.join(base, "ck"))
            sec = time.perf_counter() - t0
            rows = spark.read.parquet(os.path.join(base, "out")).count()
            shutil.rmtree(base, ignore_errors=True)
            return sec, rows

        drain_join()  # warm
        sec, rows = min((drain_join() for _ in range(2)),
                        key=lambda t: t[0])
        record("stream_interval_join", n, round(sec, 3), rows)

    # ---- 4-way chained stream-stream join: drain vs order cardinality --
    # The round-6 verdict's top item: stream_order_wide_join (J1 as a
    # stream — 3 stateful hops, 2 outer) was the one stream family
    # without a measured curve. Same chain shape as the registry entry
    # (plans/streaming_queries.py), inputs from synthetic_order_wide so the
    # expected output is EXACT at every size: n rows, ⌈n/7⌉ activity
    # matches, ⌈n/11⌉ coupon matches — asserted per drain.
    ow_sizes = [30_000, 100_000] if quick else [30_000, 100_000, 300_000]
    if xl:
        ow_sizes.append(1_000_000)
    if sizes_override is not None:
        ow_sizes = list(sizes_override)
    if not want("stream_order_wide"):
        ow_sizes = []
    for n in ow_sizes:
        ow_base = os.path.join(STAGE_ROOT, f"orderwide_{n}")
        if not os.path.exists(os.path.join(ow_base, "done")):
            # ONE shared boundary set for all four streams (round-6
            # lesson); timestamps are oid-derived over one day, so the
            # terciles are known constants — plus a far-future sentinel
            # file per side to push the final watermark past every
            # real window (outer-join nulls only emit once the
            # watermark proves no match can arrive)
            base_ts = 1_704_067_200
            c1, c2 = base_ts + 28_800, base_ts + 57_600
            far = base_ts + 40 * 86_400
            sentinels = {
                "detail": (-2, -2, -2, 0, 0.0, far),
                "order": (-1, -1, far),
                "activity": (-3, -3, far),
                "coupon": (-4, -4, far),
            }
            for side in ("detail", "order", "activity", "coupon"):
                df = G.synthetic_order_wide(spark, n, side)
                d = os.path.join(ow_base, side, "in")
                ts = F.col("ts_s")
                _stamp_write_order(d, [
                    df.filter(ts < c1),
                    df.filter((ts >= c1) & (ts < c2)),
                    df.filter(ts >= c2),
                    spark.createDataFrame([sentinels[side]], df.schema),
                ])
            open(os.path.join(ow_base, "done"), "w").close()

        def drain_wide(ow_base=ow_base, n=n) -> tuple[float, int]:
            from realtime_data_warehouse_spark.streaming.joins import (
                windowed_equi_join,
            )
            from realtime_data_warehouse_spark.streaming.runner import (
                read_back,
            )

            def src(side: str, schema: str, ts_out: str):
                return (spark.readStream.schema(schema)
                        .option("maxFilesPerTrigger", "1")
                        .parquet(os.path.join(ow_base, side, "in"))
                        .withColumn(ts_out, F.col("ts_s").cast("timestamp"))
                        .drop("ts_s")
                        .withWatermark(ts_out, "1 hour"))

            base = tempfile.mkdtemp(prefix=f"scal_ow_{n}_")
            t0 = time.perf_counter()
            s_d = src("detail", "id long, order_id long, sku_id long, "
                      "sku_num long, amount double, ts_s long", "d_ts")
            s_o = src("order", "o_order_id long, user_id long, ts_s long",
                      "o_ts")
            s_a = src("activity", "a_detail_id long, activity_id long, "
                      "ts_s long", "a_ts")
            s_c = src("coupon", "c_detail_id long, coupon_id long, "
                      "ts_s long", "c_ts")
            # each hop carries exactly ONE event-time column forward
            hop1 = windowed_equi_join(
                s_d, s_o, F.col("order_id") == F.col("o_order_id"),
                "d_ts", "o_ts", "1 hour", "inner").drop("o_order_id", "o_ts")
            hop2 = windowed_equi_join(
                hop1, s_a, F.col("id") == F.col("a_detail_id"),
                "d_ts", "a_ts", "1 hour", "left").drop("a_detail_id", "a_ts")
            wide = windowed_equi_join(
                hop2, s_c, F.col("id") == F.col("c_detail_id"),
                "d_ts", "c_ts", "1 hour", "left").drop("c_detail_id", "c_ts")
            run_available_now(wide, os.path.join(base, "out"),
                              os.path.join(base, "ck"))
            sec = time.perf_counter() - t0
            out = read_back(spark, os.path.join(base, "out")).filter(
                F.col("order_id") >= 0)
            rows = out.count()
            n_act = out.filter(F.col("activity_id").isNotNull()).count()
            n_cpn = out.filter(F.col("coupon_id").isNotNull()).count()
            exp_act = (n + 6) // 7
            exp_cpn = (n + 10) // 11
            assert rows == n and n_act == exp_act and n_cpn == exp_cpn, (
                f"order-wide chain lost rows at n={n}: rows={rows} "
                f"(want {n}), act={n_act} (want {exp_act}), "
                f"cpn={n_cpn} (want {exp_cpn})")
            shutil.rmtree(base, ignore_errors=True)
            return sec, rows

        drain_wide()  # warm
        sec, rows = min((drain_wide() for _ in range(2)),
                        key=lambda t: t[0])
        record("stream_order_wide", n, round(sec, 3), rows)

    # ---- exact bounded-lateness asof: the cost of exactness -------------
    # Round-10 kernel (stateful.asof_enrich_stream_exact): buffered
    # right history + undecided lefts, emits only behind the per-key
    # frontier — EXACT under bounded lateness where the O(1) kernel
    # degrades. This family prices that exactness against the
    # `stream_asof` rows above: same journey corpus, but the replay
    # is PHYSICALLY LATE (arrival = event time + hash-jitter < slack,
    # slack = 3·n_keys s ≈ 3 events/key of reorder) and a flush
    # punctuation batch closes the final window. Output exactness is
    # asserted with the same count identity (every left matches —
    # each key's first event is a view).
    ae_sizes = [30_000, 100_000] if quick else [30_000, 100_000, 300_000]
    if xl:
        ae_sizes.append(1_000_000)
    if sizes_override is not None:
        ae_sizes = list(sizes_override)
    if not want("stream_asof_exact"):
        ae_sizes = []
    for n in ae_sizes:
        from realtime_data_warehouse_spark.streaming.runner import (
            append_final_file,
            staged_files_dir_bounded_late,
        )
        from realtime_data_warehouse_spark.streaming.stateful import (
            ASOF_FLUSH_TAG,
            asof_enrich_stream_exact,
        )

        jdir = staged(
            f"journey_{n}",
            lambda n=n: G.synthetic_keyed_journey(
                spark, n_events=3 * n, n_keys=n, zipf=False))
        jc = F.col("count")
        jst = (spark.read.parquet(jdir).groupBy("uid").count().agg(
            F.sum(jc).alias("n_rows"),
            F.sum(F.floor((jc + 2) / 3)).alias("n_views"),
        ).collect()[0])
        slack = 3 * n
        tagged = spark.read.parquet(jdir).select(
            "uid", F.col("ts_s").alias("ts"),
            F.when(F.col("etype") == "view", 0).otherwise(1)
            .cast("int").alias("tag"),
            F.col("gid").alias("id"),
            F.col("gid").alias("rid"),
            "value",
        )

        def drain_exact(tagged=tagged, n=n, slack=slack, jst=jst):
            base = tempfile.mkdtemp(prefix=f"scal_ae_{n}_")
            in_dir = staged_files_dir_bounded_late(
                tagged, base, ts_col="ts", jitter_cols=("id",),
                slack=slack, n_files=3)
            flush = tagged.select("uid").distinct().select(
                "uid", F.lit(1 << 60).alias("ts"),
                F.lit(ASOF_FLUSH_TAG).alias("tag"),
                F.lit(0).cast("long").alias("id"),
                F.lit(None).cast("long").alias("rid"),
                F.lit(None).cast("double").alias("value"),
                F.lit(1 << 60).alias("__arr"))
            append_final_file(in_dir, flush)
            sdf = (spark.readStream
                   .schema("uid long, ts long, tag int, id long, "
                           "rid long, value double")
                   .option("maxFilesPerTrigger", "1").parquet(in_dir))
            enr = asof_enrich_stream_exact(
                sdf, key_col="uid", ts_col="ts", tag_col="tag",
                id_col="id", payload_cols=("rid", "value"), slack=slack)
            t0 = time.perf_counter()
            run_available_now(enr, os.path.join(base, "out"),
                              os.path.join(base, "ck"))
            sec = time.perf_counter() - t0
            out = spark.read.parquet(os.path.join(base, "out"))
            r = out.agg(
                F.count(F.lit(1)).alias("rows"),
                F.count("matched_ts").alias("matched")).collect()[0]
            exp = jst["n_rows"] - jst["n_views"]
            assert tuple(r) == (exp, exp), (
                f"asof_exact wrong at n={n}: {tuple(r)} want "
                f"({exp}, {exp})")
            shutil.rmtree(base, ignore_errors=True)
            return sec, r["rows"]

        drain_exact()  # warm (first staging + JIT)
        sec, rows = min((drain_exact() for _ in range(2)),
                        key=lambda t: t[0])
        record("stream_asof_exact", n, round(sec, 3), rows)

    # ---- bucketed merge sink: per-batch cost vs TABLE size --------------
    # Round-9 VERDICT item 1's measurement: the merge sinks' per-batch
    # cost must stop being O(table). Fixed CDC-style batch (8 distinct
    # keys — dim maintenance traffic, far fewer keys than buckets) is
    # merged into a stored table grown 10-33x; the `whole` twin is the
    # SAME engine at n_buckets=1, i.e. exactly the round-8 whole-table
    # rewrite. Expected: whole grows ~linearly with the table, bucketed
    # grows with table·touched/n_buckets (≤ 8/64 here) + constants.
    # The win REQUIRES batch keys ≪ buckets: a 10k-random-key batch
    # touches all buckets and degenerates to the full rewrite — that
    # regime is the transactional-format MERGE's job, not bucketing's.
    ms_sizes = [300_000, 1_000_000] if quick else [300_000, 1_000_000,
                                                   3_000_000]
    if xl:
        ms_sizes.append(10_000_000)
    if sizes_override is not None:
        ms_sizes = list(sizes_override)
    if not (want("merge_upsert_bucketed") or want("merge_upsert_whole")):
        ms_sizes = []
    for n in ms_sizes:
        from realtime_data_warehouse_spark.streaming.sinks import (
            upsert_batch,
        )

        base_rows = spark.range(n).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("ts"),
            (F.col("id") * 3).alias("v"))
        cdc = spark.createDataFrame(
            [(int(h * n / 9.0), 1, -1) for h in range(1, 9)],
            "k long, ts long, v long")
        for fam, nb in (("merge_upsert_bucketed", 64),
                        ("merge_upsert_whole", 1)):
            if not want(fam):
                continue
            tdir = tempfile.mkdtemp(prefix=f"scal_ms_{n}_{nb}_")
            table = os.path.join(tdir, "t")
            fn = upsert_batch(table, keys=["k"], order_col="ts",
                              n_buckets=nb)
            fn(base_rows, 0)  # untimed: builds the stored table
            secs = []
            for i in range(3):  # timed: steady-state CDC batches
                t0 = time.perf_counter()
                fn(cdc.withColumn("ts", F.lit(i + 1).cast("long")), i + 1)
                secs.append(time.perf_counter() - t0)
            got = spark.read.parquet(table)
            assert got.count() == n, f"{fam} lost rows at n={n}"
            upd = {r.k: r.v for r in got.filter(F.col("v") < 0).collect()}
            assert len(upd) == 8, f"{fam} lost updates at n={n}"
            shutil.rmtree(tdir, ignore_errors=True)
            record(fam, n, round(min(secs), 3), n)

    # ---- adaptive bucket growth (round 10): per-batch cost vs table ----
    # VERDICT r9 item 1's measurement: the fixed-64 curve above is
    # flat only while bucket SIZE stays small — at 100M rows a 64-way
    # table holds 1.5M rows/bucket and each touched-bucket rewrite
    # carries that. The adaptive engine DOUBLES the bucket count as
    # mean bucket rows pass the target (metadata-only commit, lazy
    # split-on-touch), so bucket size — and hence per-batch CDC merge
    # cost — is capped at the target whatever the table size. Tables
    # are built through the engine's own merges with NO size hint
    # (growth must fire organically), then the same fixed 8-key CDC
    # batches as the fixed-count families are timed. Expected: flat
    # across the whole ladder at the same level the fixed-64 family
    # shows while ITS bucket size is still small; the fixed-64 twin
    # re-measured at the top sizes shows the bend adaptivity removes.
    ma_sizes = [1_000_000, 3_000_000] if quick else [
        1_000_000, 3_000_000, 10_000_000, 30_000_000]
    if xl:
        ma_sizes.append(100_000_000)
    if sizes_override is not None:
        ma_sizes = list(sizes_override)
    if not want("merge_upsert_adaptive"):
        ma_sizes = []
    for n in ma_sizes:
        import json as _json

        from realtime_data_warehouse_spark.streaming.sinks import (
            upsert_batch,
        )

        tdir = tempfile.mkdtemp(prefix=f"scal_ma_{n}_")
        table = os.path.join(tdir, "t")
        fn = upsert_batch(table, keys=["k"], order_col="ts")
        # build in two merges so the growth commits happen through the
        # engine's own path (untimed)
        half = n // 2
        for b, (lo, hi) in enumerate(((0, half), (half, n))):
            fn(spark.range(lo, hi).select(
                F.col("id").alias("k"), F.lit(0).cast("long").alias("ts"),
                (F.col("id") * 3).alias("v")), b)
        with open(os.path.join(table, "_table_meta.json")) as fh:
            meta = _json.load(fh)
        nb = int(meta["n_buckets"])
        tgt = int(meta["target_rows_per_bucket"])
        assert n / nb <= tgt, (
            f"growth failed to cap bucket size: {n} rows / {nb} "
            f"buckets > target {tgt}")
        cdc = spark.createDataFrame(
            [(int(h * n / 9.0), 1, -1) for h in range(1, 9)],
            "k long, ts long, v long")
        secs = []
        for i in range(3):
            t0 = time.perf_counter()
            fn(cdc.withColumn("ts", F.lit(i + 2).cast("long")), i + 2)
            secs.append(time.perf_counter() - t0)
        got = spark.read.parquet(table)
        assert got.count() == n, f"adaptive lost rows at n={n}"
        upd = {r.k: r.v for r in got.filter(F.col("v") < 0).collect()}
        assert len(upd) == 8, f"adaptive lost updates at n={n}"
        print(f"merge_upsert_adaptive n={n}: n_buckets={nb} "
              f"(bucket ~{n // nb} rows), best {min(secs):.3f}s")
        shutil.rmtree(tdir, ignore_errors=True)
        record("merge_upsert_adaptive", n, round(min(secs), 3), n)

    # ---- skew ladder (round 11): Zipf-keyed SCD2 history merges --------
    # The adaptive ladder above is uniform SINGLE-row-per-key (max ≈
    # mean by construction — upserts dedup). This family is VERDICT
    # r10 item 2's untested corner: MULTI-row-per-key history (SCD2)
    # under Zipf(1) keys — key "0" carries ~1/ln(n_keys) of ALL rows,
    # so one bucket hot-spots long before the mean moves. The r11
    # skew trigger (max-bucket estimate > 2×target) must grow the
    # table anyway, capped at 4× the mean-derived count (one hot KEY
    # is unsplittable — more buckets cannot shrink it). Timed: 8-key
    # COLD-tail CDC batches (expected flat across the ladder — the
    # skew growth is what keeps cold buckets at target size), plus
    # one HOT-key batch per size recorded as its own family (its
    # cost is the honest irreducible O(hot-key rows), growing
    # ~n/ln(n) — the ladder documents it instead of hiding it).
    ms_sizes = [1_000_000, 3_000_000] if quick else [
        1_000_000, 3_000_000, 10_000_000, 30_000_000]
    if xl:
        ms_sizes.append(100_000_000)
    if sizes_override is not None:
        ms_sizes = list(sizes_override)
    if not want("merge_scd2_zipf"):
        ms_sizes = []
    for n in ms_sizes:
        import json as _json

        from realtime_data_warehouse_spark.streaming.sinks import (
            scd2_merge_batch,
        )

        tdir = tempfile.mkdtemp(prefix=f"scal_ms_{n}_")
        table = os.path.join(tdir, "t")
        fn = scd2_merge_batch(table, "id", version_col="ts",
                              target_rows_per_bucket=50_000)
        n_keys = max(1000, n // 10)
        src = staged(
            f"scd2_zipf_{n}",
            lambda n=n, n_keys=n_keys: G.synthetic_upserts(
                spark, n_keys=n_keys, versions=max(1, n // n_keys),
                zipf=True))
        # build through the engine's own merges (untimed) so growth —
        # mean AND skew doublings — fires organically
        src_df = spark.read.parquet(src)
        for b in range(4):
            fn(src_df.filter(F.pmod(F.xxhash64("id", "ts"),
                                    F.lit(4)) == b), b)
        with open(os.path.join(table, "_table_meta.json")) as fh:
            meta = _json.load(fh)
        nb = int(meta["n_buckets"])
        tgt = int(meta["target_rows_per_bucket"])
        mean_need = max(1, math.ceil(n / tgt))
        assert nb >= (1 << max(0, (mean_need - 1).bit_length())) or \
            nb >= 65_536, f"mean growth failed at n={n}: {nb} buckets"
        hot_rows = spark.read.parquet(table).filter(
            F.col("id") == "0").count()
        print(f"merge_scd2_zipf n={n}: n_buckets={nb} "
              f"(mean {n // nb} rows/bucket, hot key {hot_rows} rows)")

        # cold-tail CDC: 8 keys from the sparse tail (~1 version each)
        cold_keys = [str(n_keys - 1 - i * 7) for i in range(8)]
        secs = []
        for i in range(3):
            cdc = spark.createDataFrame(
                [(k, 10**9 + i, 1.0, 0.1) for k in cold_keys],
                "id string, ts long, amt double, fee double")
            t0 = time.perf_counter()
            fn(cdc, 100 + i)
            secs.append(time.perf_counter() - t0)
        got = spark.read.parquet(table)
        assert got.filter(F.col("ts") >= 10**9).count() == 24, \
            f"cold CDC rows lost at n={n}"
        record("merge_scd2_zipf", n, round(min(secs), 3), n)

        # hot-key CDC: one new version of key "0" — pays the full
        # hot-bucket (≈ hot-key) rewrite, the unsplittable residual
        hot_secs = []
        for i in range(2):
            cdc = spark.createDataFrame(
                [("0", 2 * 10**9 + i, 1.0, 0.1)],
                "id string, ts long, amt double, fee double")
            t0 = time.perf_counter()
            fn(cdc, 200 + i)
            hot_secs.append(time.perf_counter() - t0)
        shutil.rmtree(tdir, ignore_errors=True)
        record("merge_scd2_zipf_hotkey", n, round(min(hot_secs), 3),
               hot_rows)

    # ---- compaction (round 11): pre-paying split-on-touch --------------
    # A growth event is metadata-only, so the table keeps old-
    # generation files that each serve several current buckets: a
    # 1-key Get reads the whole multi-bucket file, and the first CDC
    # batch touching any child consumes the file whole and rewrites
    # ALL its children (split-on-touch — paid at merge latency).
    # optimize_table→compact rewrites every such bucket to one
    # current-generation file at MAINTENANCE time. Measured here:
    # per-Get read amplification (mean rows a 1-key lookup reads,
    # from the manifest) and an 8-key CDC batch, before vs after
    # compaction, plus the compaction cost itself. Build: two engine
    # merges with target 100k so the LAST commit's growth leaves the
    # files one generation behind the bucket count.
    mc_sizes = [3_000_000] if quick else [10_000_000, 30_000_000]
    if xl:
        mc_sizes.append(100_000_000)
    if sizes_override is not None:
        mc_sizes = list(sizes_override)
    if not want("merge_compact"):
        mc_sizes = []
    for n in mc_sizes:
        import json as _json

        from realtime_data_warehouse_spark.operators.maintenance import (
            optimize_table,
        )
        from realtime_data_warehouse_spark.streaming.sinks import (
            upsert_batch,
        )

        tdir = tempfile.mkdtemp(prefix=f"scal_mc_{n}_")
        table = os.path.join(tdir, "t")
        # size-relative target: the post-build growth always fires,
        # leaving the files exactly one generation behind the bucket
        # count — the same relative fragmentation at every ladder size
        fn = upsert_batch(table, keys=["k"], order_col="ts",
                          target_rows_per_bucket=max(25_000, n // 100))
        half = n // 2
        for b, (lo, hi) in enumerate(((0, half), (half, n))):
            fn(spark.range(lo, hi).select(
                F.col("id").alias("k"), F.lit(0).cast("long").alias("ts"),
                (F.col("id") * 3).alias("v")), b)

        def _manifest(table=table):
            with open(os.path.join(table, "_table_meta.json")) as fh:
                return _json.load(fh)

        def _get_amp(meta) -> tuple[int, float, int]:
            """(live files, mean rows a 1-key Get reads, old-gen
            file count) from the manifest."""
            import re as _re
            nb = int(meta["n_buckets"])
            per_bucket = [0] * nb
            old = 0
            for name, rows in meta["file_rows"].items():
                m = _re.match(r"^b(\d{5})-n(\d{5})-", name)
                if not m:
                    continue
                fid, gen = int(m.group(1)), int(m.group(2))
                if gen < nb:
                    old += 1
                for child in range(fid, nb, gen):
                    per_bucket[child] += rows
            return (len(meta["file_rows"]),
                    sum(per_bucket) / nb, old)

        meta0 = _manifest()
        files0, amp0, old0 = _get_amp(meta0)
        assert old0 > 0, f"build must leave old-gen files at n={n}"

        def cdc_pass(i: int) -> float:
            cdc = spark.createDataFrame(
                [(int(h * n / 9.0) + i, 10 + i, -1) for h in range(1, 9)],
                "k long, ts long, v long")
            t0 = time.perf_counter()
            fn(cdc, 100 + i)
            return time.perf_counter() - t0

        # before: each batch pays split-on-touch on fresh buckets
        pre = [cdc_pass(i) for i in range(2)]
        t0 = time.perf_counter()
        nrew = optimize_table(spark, table)
        compact_sec = time.perf_counter() - t0
        meta1 = _manifest()
        files1, amp1, old1 = _get_amp(meta1)
        assert old1 == 0, "compaction must migrate every old-gen file"
        post = [cdc_pass(100 + i) for i in range(2)]
        assert spark.read.parquet(table).count() == n
        print(f"merge_compact n={n}: files {files0}->{files1}, "
              f"get-amp {amp0:,.0f}->{amp1:,.0f} rows, old-gen "
              f"{old0}->{old1}, rewrote {nrew} buckets in "
              f"{compact_sec:.2f}s; 8-key CDC "
              f"{min(pre):.2f}s pre / {min(post):.2f}s post")
        shutil.rmtree(tdir, ignore_errors=True)
        record("merge_compact", n, round(compact_sec, 3), nrew)
        record("merge_cdc_split_on_touch", n, round(min(pre), 3), n)
        record("merge_cdc_post_compact", n, round(min(post), 3), n)

    # ---- OCC contention (round 11): what concurrent writers cost -------
    # Multi-writer arbitration is optimistic: writers overlap on the
    # Spark merge work and serialize only the commit critical section
    # (flock + version CAS); a lost race re-merges. This family
    # measures the price: the SAME 8 disjoint-key CDC batches applied
    # (a) serially by one writer and (b) by two concurrent writers
    # (4 each) into identically-built tables. Conflicts are counted.
    # Expected: concurrent ≲ serial (the Spark jobs overlap) with a
    # small retry tax when commits collide.
    mo_sizes = [3_000_000] if quick else [10_000_000]
    if sizes_override is not None:
        mo_sizes = list(sizes_override)
    if not want("merge_occ"):
        mo_sizes = []
    for n in mo_sizes:
        import threading

        from realtime_data_warehouse_spark.operators.state import (
            latest_per_key,
        )
        from realtime_data_warehouse_spark.streaming.merge_table import (
            BucketedMergeTable,
        )
        from realtime_data_warehouse_spark.streaming.sinks import (
            upsert_batch,
        )

        def occ_merge(cur, rows):
            merged = rows if cur is None else cur.unionByName(rows)
            return latest_per_key(merged, ["k"], "ts")

        tdir = tempfile.mkdtemp(prefix=f"scal_mo_{n}_")
        tables = {}
        for mode in ("serial", "concurrent"):
            table = os.path.join(tdir, mode)
            fn = upsert_batch(table, keys=["k"], order_col="ts")
            half = n // 2
            for b, (lo, hi) in enumerate(((0, half), (half, n))):
                fn(spark.range(lo, hi).select(
                    F.col("id").alias("k"),
                    F.lit(0).cast("long").alias("ts"),
                    (F.col("id") * 3).alias("v")), b)
            tables[mode] = table

        def occ_batch(j: int):
            return spark.createDataFrame(
                [(int(h * n / 9.0) + j, 10 + j, -1) for h in range(1, 9)],
                "k long, ts long, v long")

        t0 = time.perf_counter()
        for j in range(8):
            BucketedMergeTable(tables["serial"], ["k"]).merge(
                occ_batch(j), occ_merge, batch_id=f"s{j}", ledgered=True)
        serial_sec = time.perf_counter() - t0

        conflicts = [0, 0]
        errs = []

        def occ_writer(w: int):
            try:
                for j in range(w * 4, w * 4 + 4):
                    t = BucketedMergeTable(tables["concurrent"], ["k"])
                    t.merge(occ_batch(j), occ_merge,
                            batch_id=f"c{j}", ledgered=True)
                    conflicts[w] += t.conflicts_seen
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        t0 = time.perf_counter()
        ws = [threading.Thread(target=occ_writer, args=(w,))
              for w in (0, 1)]
        for w in ws:
            w.start()
        for w in ws:
            w.join()
        conc_sec = time.perf_counter() - t0
        assert not errs, errs
        for mode in ("serial", "concurrent"):
            got = spark.read.parquet(tables[mode]).filter(
                F.col("v") < 0).count()
            assert got == 64, f"{mode}: {got} of 64 upserts landed"
        print(f"merge_occ n={n}: serial {serial_sec:.2f}s, "
              f"2-writer concurrent {conc_sec:.2f}s, "
              f"conflicts {sum(conflicts)}")
        shutil.rmtree(tdir, ignore_errors=True)
        record("merge_occ_serial", n, round(serial_sec, 3), 8)
        record("merge_occ_concurrent", n, round(conc_sec, 3),
               sum(conflicts))

    # ---- manifest-stats pruning (round 11 stretch) ----------------------
    # Per-file ts envelopes ride the manifest; a recent-ts scan opens
    # only the CDC-touched bucket files. Measured: files and BYTES
    # kept vs total, and the wall-clock of the pruned read vs the
    # full-scan filter for the same predicate.
    msp_sizes = [3_000_000] if quick else [10_000_000, 30_000_000]
    if xl:
        msp_sizes.append(100_000_000)
    if sizes_override is not None:
        msp_sizes = list(sizes_override)
    if not want("merge_stats_prune"):
        msp_sizes = []
    for n in msp_sizes:
        from realtime_data_warehouse_spark.streaming.merge_table import (
            read_pruned,
            read_table,
            stats_pruned_files,
        )
        from realtime_data_warehouse_spark.streaming.sinks import (
            upsert_batch,
        )

        tdir = tempfile.mkdtemp(prefix=f"scal_sp_{n}_")
        table = os.path.join(tdir, "t")
        fn = upsert_batch(table, keys=["k"], order_col="ts",
                          stats_cols=["ts"])
        half = n // 2
        for b, (lo, hi) in enumerate(((0, half), (half, n))):
            fn(spark.range(lo, hi).select(
                F.col("id").alias("k"), F.lit(0).cast("long").alias("ts"),
                (F.col("id") * 3).alias("v")), b)
        cdc = spark.createDataFrame(
            [(int(h * n / 9.0), 100, -1) for h in range(1, 9)],
            "k long, ts long, v long")
        fn(cdc, 2)

        keep, total = stats_pruned_files(table, "ts", lo=50)
        all_files, _ = stats_pruned_files(table, "ts")  # open range
        kept_bytes = sum(os.path.getsize(os.path.join(table, f))
                         for f in keep)
        total_bytes = sum(os.path.getsize(os.path.join(table, f))
                          for f in all_files)
        pruned_best, full_best = float("inf"), float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            got_p = read_pruned(spark, table, "ts", lo=50).count()
            pruned_best = min(pruned_best, time.perf_counter() - t0)
            t0 = time.perf_counter()
            got_f = read_table(spark, table).filter(
                F.col("ts") >= 50).count()
            full_best = min(full_best, time.perf_counter() - t0)
        assert got_p == got_f == 8, (got_p, got_f)
        print(f"merge_stats_prune n={n}: files {len(keep)}/{total}, "
              f"bytes {kept_bytes:,}/{total_bytes:,} "
              f"({kept_bytes / max(total_bytes, 1):.4f}), "
              f"pruned {pruned_best:.3f}s vs full {full_best:.3f}s")
        shutil.rmtree(tdir, ignore_errors=True)
        record("merge_stats_prune", n, round(pruned_best, 3), len(keep))
        record("merge_scan_unpruned", n, round(full_best, 3), total)

    # ---- point-lookup read amplification (round-10 stretch) ------------
    # The bucketed layout's read-side dividend: an 8-key Get against a
    # 64-bucket table opens ≤8 files (merge_table.point_lookup hashes
    # the keys to their buckets) vs the full-scan filter opening all
    # 64 and reading every row. Both paths return identical rows
    # (asserted); the gap should WIDEN linearly with table size since
    # the pruned read is O(touched bucket rows) and the scan is
    # O(table).
    pl_sizes = [1_000_000] if quick else [1_000_000, 10_000_000]
    if sizes_override is not None:
        pl_sizes = list(sizes_override)
    if not (want("merge_get_pruned") or want("merge_get_full")):
        pl_sizes = []
    for n in pl_sizes:
        from realtime_data_warehouse_spark.streaming.merge_table import (
            point_lookup,
        )
        from realtime_data_warehouse_spark.streaming.sinks import (
            upsert_batch,
        )

        tdir = tempfile.mkdtemp(prefix=f"scal_pl_{n}_")
        table = os.path.join(tdir, "t")
        fn = upsert_batch(table, keys=["k"], order_col="ts",
                          n_buckets=64)
        fn(spark.range(n).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("ts"),
            (F.col("id") * 3).alias("v")), 0)
        get_keys = [int(h * n / 9.0) for h in range(1, 9)]
        expect = {k: 3 * k for k in get_keys}

        def run_get(mk, check=expect, keys=get_keys):
            secs = []
            rows = None
            for _ in range(3):
                t0 = time.perf_counter()
                rows = {r.k: r.v for r in mk().collect()}
                secs.append(time.perf_counter() - t0)
            assert rows == check, "lookup result mismatch"
            return min(secs)

        if want("merge_get_full"):
            sec = run_get(lambda: spark.read.parquet(table)
                          .filter(F.col("k").isin(get_keys)))
            record("merge_get_full", n, round(sec, 3), n)
        if want("merge_get_pruned"):
            pl = point_lookup(spark, table, get_keys)
            n_open = len(pl.inputFiles())
            assert n_open <= len(get_keys), n_open
            sec = run_get(lambda: point_lookup(spark, table, get_keys))
            print(f"merge_get_pruned n={n}: opened {n_open}/64 files, "
                  f"best {sec:.3f}s")
            record("merge_get_pruned", n, round(sec, 3), n)
        shutil.rmtree(tdir, ignore_errors=True)

    # ---- final write (incremental _flush already persisted points) -----
    _flush()
    final = _merged()
    print(json.dumps({f: d["exponent"] for f, d in final.items()},
                     indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
