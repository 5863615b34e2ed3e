"""Data-governance + corpus-governance operators (round 5).

The reference maintains latest-state DIM tables and replays CDC
changelogs (DimSinkApp / DwdBaseDb — SURVEY §2.1/§2.2); this module
adds the governance verbs a warehouse owner runs NEXT on those
tables, each shaped for 100 TB:

- snapshot_diff_cdc: derive a CDC changelog FROM two table snapshots
  (the inverse of the reference's changelog→table replay). One
  full-outer sort-merge join keyed on the primary key; with both
  snapshots bucketed by key (the layout a dim store would use) the
  exchange disappears entirely — there is no per-row state and no
  driver-side diffing.
- gdpr_forget_users: right-to-erasure audit. The tombstone list is
  TINY relative to the corpus (keys to forget), so it broadcasts;
  every fact table is then a map-side LEFT ANTI — the 100 TB side
  never shuffles. Three tables are audited in one pass each and the
  per-table counts union into one report.
- audience_overlap: exact segment set-algebra (|A|, |B|, A∩B, A∪B,
  Jaccard) via ONE shuffle on user_id — the per-user segment flags
  are bool aggregates, so the 100 TB event scan collapses to
  |users| rows before the final single-row reduce.
- quality_percentile_by_lang: rank-normalized quality scores. The
  window partitions by lang, so no global sort exists anywhere; the
  decile histogram is a partial-aggregated groupBy on ≤ 10·|langs|
  rows.
- importance_weighted_sample: score-proportional deterministic
  sampling — keep iff md5-uniform(doc_id) < weight(doc). Pure
  map-side (the sample IS a filter, re-derivable in any engine at
  any scale, never a materialized copy); the per-lang report is one
  partial-aggregated groupBy.
- decontaminate_neardup: NEAR-dup contamination between a training
  corpus and a benchmark set — the fuzzy cross-table sibling of
  `decontaminate_train`'s exact-gram membership (reference analogue:
  none; this is the LLM-pipeline extension SURVEY §6 calls for).
  Candidates come from the global-frequency PPJoin prefix filter
  (operators/dedup.fuzzy_set_join), so the pair space is bounded by
  shared-rare-token blocks, never |train|×|bench|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import persisted
from ..operators import dedup as D
from ..operators.text import hash_bucket
from ..sources.batch import fan_out, load_table
from .datapipe import _TOKS
from .registry import register


# ---------------------------------------------------------------------------
# Snapshot diff → CDC changelog
# ---------------------------------------------------------------------------

# Deterministic snapshot pair derived from `customer`: the "old"
# snapshot is missing every 10th key (those become inserts), the
# "new" snapshot is missing every 7th (deletes), and every 5th key
# that survives both gets +100.00 acctbal (updates). Pure arithmetic
# on the key → byte-identical snapshots in both engines.
_SNAP_OLD = "c_custkey % 10 <> 0"
_SNAP_NEW = "c_custkey % 7 <> 0"
_SNAP_BUMP = "CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END"


@register(
    "snapshot_diff_cdc",
    oracle=f"""
    WITH old AS (
        SELECT c_custkey, c_acctbal, c_mktsegment
        FROM customer WHERE {_SNAP_OLD}
    ), new AS (
        SELECT c_custkey, {_SNAP_BUMP} AS c_acctbal, c_mktsegment
        FROM customer WHERE {_SNAP_NEW}
    )
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'I'
                WHEN n.c_custkey IS NULL THEN 'D'
                ELSE 'U' END                  AS op,
           o.c_acctbal                        AS acctbal_old,
           n.c_acctbal                        AS acctbal_new
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
       OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
    """,
)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data generation from snapshots: emit the I/U/D rows
    that transform snapshot_old into snapshot_new — the operation a
    warehouse runs to bootstrap a changelog for a table whose source
    system can't stream CDC (the inverse of `sources/cdc.changelog`
    replay; reference DIM maintenance is DimSinkApp.java:40-77).

    Scale: ONE full-outer join keyed on the primary key. Unchanged
    rows are filtered DURING the join output (no second pass); with
    key-bucketed snapshots the exchange on both sides vanishes. No
    state, no driver involvement — diffing two 50 TB snapshots is
    exactly one co-partitioned merge."""
    cust = load_table(spark, sf_dir, "customer")
    old = cust.filter(F.expr(_SNAP_OLD)).select(
        "c_custkey", "c_acctbal", "c_mktsegment")
    new = cust.filter(F.expr(_SNAP_NEW)).select(
        "c_custkey", F.expr(_SNAP_BUMP).alias("c_acctbal"), "c_mktsegment")
    j = old.alias("o").join(
        new.alias("n"),
        F.col("o.c_custkey") == F.col("n.c_custkey"),
        "full_outer",
    )
    o_key, n_key = F.col("o.c_custkey"), F.col("n.c_custkey")
    changed = (
        o_key.isNull() | n_key.isNull()
        | ~F.col("o.c_acctbal").eqNullSafe(F.col("n.c_acctbal"))
        | ~F.col("o.c_mktsegment").eqNullSafe(F.col("n.c_mktsegment"))
    )
    return j.filter(changed).select(
        F.coalesce(o_key, n_key).alias("c_custkey"),
        F.when(o_key.isNull(), "I")
        .when(n_key.isNull(), "D")
        .otherwise("U").alias("op"),
        F.col("o.c_acctbal").alias("acctbal_old"),
        F.col("n.c_acctbal").alias("acctbal_new"),
    )


# ---------------------------------------------------------------------------
# GDPR right-to-erasure audit
# ---------------------------------------------------------------------------

@register(
    "gdpr_forget_users",
    oracle="""
    SELECT 'events' AS table_name,
           count(*) AS rows_total,
           count(*) FILTER (WHERE user_id % 97 = 0)  AS rows_purged,
           count(*) FILTER (WHERE user_id % 97 <> 0) AS rows_retained
    FROM events
    UNION ALL
    SELECT 'orders', count(*),
           count(*) FILTER (WHERE o_custkey % 97 = 0),
           count(*) FILTER (WHERE o_custkey % 97 <> 0)
    FROM orders
    UNION ALL
    SELECT 'customer', count(*),
           count(*) FILTER (WHERE c_custkey % 97 = 0),
           count(*) FILTER (WHERE c_custkey % 97 <> 0)
    FROM customer
    """,
)
def gdpr_forget_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure purge audit: a tombstone key list (here the
    deterministic `key % 97 = 0` cohort, standing in for an uploaded
    deletion request file) is swept across every table that stores
    the subject key, reporting total/purged/retained per table — the
    report a DPO signs before the actual rewrite runs.

    Scale: the tombstone list is built once (distinct keys from the
    subject tables, always tiny vs the corpus) and BROADCAST; each
    fact table then takes one map-side semi-join probe — the 100 TB
    sides never shuffle, and the three per-table reports are ≤ 1 row
    each before the union. The oracle replays the same membership as
    pure arithmetic (every `% 97` key present in a table is in the
    tombstone list by construction), which is what makes the
    broadcast-join path hash-checkable."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    tombstones = (
        events.select(F.col("user_id").alias("k"))
        .filter(F.col("k") % 97 == 0)
        .union(cust.select(F.col("c_custkey").alias("k"))
               .filter(F.col("k") % 97 == 0))
        .union(orders.select(F.col("o_custkey").alias("k"))
               .filter(F.col("k") % 97 == 0))
        .distinct()
    )

    def audit(df: DataFrame, key: str, name: str) -> DataFrame:
        hit = F.broadcast(tombstones)
        flagged = df.join(
            hit, df[key] == hit["k"], "left"
        ).select(F.col("k").isNotNull().cast("long").alias("purged"))
        return flagged.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("rows_total"),
            F.sum("purged").alias("rows_purged"),
            (F.count(F.lit(1)) - F.sum("purged")).alias("rows_retained"),
        )

    return (
        audit(events, "user_id", "events")
        .unionAll(audit(orders, "o_custkey", "orders"))
        .unionAll(audit(cust, "c_custkey", "customer"))
    )


# ---------------------------------------------------------------------------
# Audience overlap — exact segment set algebra
# ---------------------------------------------------------------------------

@register(
    "audience_overlap",
    oracle="""
    WITH flags AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)     AS in_a,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
        FROM events
        WHERE event_type IN ('view', 'purchase')
        GROUP BY user_id
    )
    SELECT CAST(sum(in_a) AS BIGINT)                  AS viewers,
           CAST(sum(in_b) AS BIGINT)                  AS purchasers,
           CAST(sum(in_a * in_b) AS BIGINT)           AS both_segments,
           count(*)                                   AS either_segment,
           round(sum(in_a * in_b) / count(*), 6)      AS jaccard
    FROM flags
    """,
)
def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience set algebra between two behavioral segments
    (viewers vs purchasers): sizes, intersection, union, Jaccard.

    Scale: the only shuffle is ONE groupBy(user_id) over the
    pre-filtered scan, with map-side partial max() flags — the event
    volume collapses to |distinct users| rows, and the final
    set-algebra reduce is a single-row aggregate. No self-join of
    segment lists (the naive shape), no distinct-count Expand."""
    events = load_table(spark, sf_dir, "events")
    flags = (
        events.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .alias("in_a"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .alias("in_b"),
        )
    )
    return flags.agg(
        F.sum("in_a").alias("viewers"),
        F.sum("in_b").alias("purchasers"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("both_segments"),
        F.count(F.lit(1)).alias("either_segment"),
        F.round(
            F.sum(F.col("in_a") * F.col("in_b")) / F.count(F.lit(1)), 6
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Rank-normalized quality deciles per language
# ---------------------------------------------------------------------------

@register(
    "quality_percentile_by_lang",
    oracle="""
    WITH scored AS (
        SELECT lang,
               LEAST(1.0, n_chars / 400.0) AS score,
               percent_rank() OVER (PARTITION BY lang
                                    ORDER BY LEAST(1.0, n_chars / 400.0),
                                             doc_id) AS pr
        FROM documents
    )
    SELECT lang,
           LEAST(9, CAST(floor(pr * 10) AS INT)) AS decile,
           count(*)                              AS n_docs,
           min(score)                            AS min_score,
           max(score)                            AS max_score
    FROM scored
    GROUP BY 1, 2
    """,
)
def quality_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-normalize a raw quality score within each language and
    bucket into deciles — the per-stratum calibration step before
    mixing corpora whose raw score scales differ (a length-based
    score here; any monotone score slots in).

    Scale: percent_rank partitions by lang, so there is NO global
    sort — each language sorts independently across the cluster
    (skewed languages split by the range partitioner within the
    window exchange). The decile histogram then partial-aggregates
    to ≤ 10·|langs| rows. Ties are broken by doc_id so the rank —
    and therefore every downstream number — is deterministic in any
    engine."""
    docs = load_table(spark, sf_dir, "documents")
    score = F.least(F.lit(1.0), F.col("n_chars") / F.lit(400.0))
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    scored = docs.select(
        "lang", "doc_id", score.alias("score")
    ).withColumn("pr", F.percent_rank().over(w))
    decile = F.least(F.lit(9), F.floor(F.col("pr") * 10).cast("int"))
    return scored.groupBy("lang", decile.alias("decile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )


# ---------------------------------------------------------------------------
# Importance-weighted deterministic sampling
# ---------------------------------------------------------------------------

@register(
    "importance_weighted_sample",
    oracle="""
    WITH s AS (
        SELECT lang,
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) % 10000
                    < CAST(floor(LEAST(1.0, n_chars / 400.0) * 10000) AS BIGINT)
                    THEN 1 ELSE 0 END AS kept
        FROM documents
    )
    SELECT lang,
           count(*)                         AS n_docs,
           CAST(sum(kept) AS BIGINT)        AS n_kept,
           round(sum(kept) / count(*), 6)   AS kept_frac
    FROM s
    GROUP BY lang
    """,
)
def importance_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-proportional sampling: each doc is kept with probability
    equal to its quality weight (length-capped here), decided by
    comparing a deterministic md5-uniform of the doc id against the
    weight — importance sampling as a FILTER, not a draw. Upsampling
    beyond 1.0 is the same comparison against floor(w·N) with N
    epochs; the report shows realized vs nominal rates per language.

    Scale: zero shuffles before the tiny per-lang report — the
    keep/drop decision is pure map-side expression (md5 + integer
    compare), reproducible on any engine, any partitioning, any
    retry. That re-derivability is the point: on an immutable 100 TB
    corpus the sample is a predicate you push to the scan, never a
    materialized copy."""
    docs = load_table(spark, sf_dir, "documents")
    weight_ticks = F.floor(
        F.least(F.lit(1.0), F.col("n_chars") / F.lit(400.0)) * 10000
    ).cast("long")
    kept = (hash_bucket("doc_id", 10000) < weight_ticks).cast("long")
    return docs.select("lang", kept.alias("kept")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        F.round(F.sum("kept") / F.count(F.lit(1)), 6).alias("kept_frac"),
    )


# ---------------------------------------------------------------------------
# Near-dup decontamination (train corpus × benchmark set)
# ---------------------------------------------------------------------------

_BENCH = "doc_id % 13 = 0"

_NEARDUP_CONTAM_SQL = f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks)),
                                            i -> toks[i] || ' ' || toks[i+1])) AS sh
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    inv AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    pairs AS (
        SELECT a.doc_id AS train_id, b.doc_id AS bench_id, count(*) AS common
        FROM inv a JOIN inv b ON a.s = b.s
        WHERE a.doc_id % 13 <> 0 AND b.doc_id % 13 = 0
        GROUP BY 1, 2
    ),
    sized AS (
        SELECT p.train_id, p.bench_id, p.common, sa.n AS size_a, sb.n AS size_b
        FROM pairs p
        JOIN (SELECT doc_id, len(sh) AS n FROM sh) sa ON p.train_id = sa.doc_id
        JOIN (SELECT doc_id, len(sh) AS n FROM sh) sb ON p.bench_id = sb.doc_id
    )
    SELECT train_id, bench_id,
           CAST(CAST(common / CAST(size_a + size_b - common AS DOUBLE)
                     AS DECIMAL(6,4)) AS DOUBLE) AS jaccard
    FROM sized
    WHERE common / (size_a + size_b - common) >= 0.8
"""


@register("decontaminate_neardup", oracle=_NEARDUP_CONTAM_SQL)
def decontaminate_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate contamination between the training corpus and a
    benchmark set (the deterministic `doc_id % 13` cohort standing in
    for an eval suite): (train_id, bench_id, jaccard) for every
    cross-corpus pair with word-bigram Jaccard ≥ 0.8. Exact-gram
    membership (`decontaminate_train`) misses paraphrased leakage;
    this is the fuzzy sibling every serious pretraining pipeline runs.

    Scale (r12, guide §1.2 step 1 — same move as
    dedup_clusters_converged, same oracle family): candidates come
    from banded MinHash (32×4) — one shingle pass shared by the
    signature and verify branches, split by the cohort predicate, so
    the candidate join is bucket-local and touches only truly-similar
    cross-corpus pairs; exact intersect/union verification (identical
    predicate family to fuzzy_set_join) kills false positives, making
    the exact cross-Jaccard SQL a true oracle (banded miss
    probability for j ≥ 0.8 is ≈ 5e-8; oracle-verified at
    sf0.001/0.01, value-hash A/B at sf0.1). Before, the PPJoin prefix
    path paid a multi-million-row candidate join on this corpus's
    ~931-gram vocabulary (the prefix prunes nothing when every
    posting list is huge): 5.40 → 2.14 s at sf0.1, min-of-5
    interleaved, 21 → 10 jobs. The exact PPJoin cross-table path
    stays first-class as fuzzy_join_parts.

    r13 persist shape (same move as minhash_lsh_pairs, interleaved
    A/B in scripts/r13_ab/ab_decontam_persist.py at commit a0c4aa8 —
    wide 1.424 s vs narrow 1.258 s, narrow wins all 5 pairwise
    passes): persist the NARROW banded keys of the whole corpus ONCE
    and split the bands by cohort, so the Arrow-batched signature
    pass runs once (not once per side) and nothing wide sits in
    storage; the two verify sides re-derive shingles from the raw
    text (codegen'd projections)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    sh = D.with_shingles(docs.select("doc_id", "text"), "text", 2,
                         drop_empty=True).select("doc_id", "shingles")
    bands = persisted(D.band_keys(sh, "doc_id"))
    train_b = bands.filter(~F.expr(_BENCH)).withColumnRenamed(
        "doc_id", "train_id")
    bench_b = bands.filter(F.expr(_BENCH)).withColumnRenamed(
        "doc_id", "bench_id")
    train = sh.filter(~F.expr(_BENCH)).withColumnRenamed(
        "doc_id", "train_id")
    bench = sh.filter(F.expr(_BENCH)).withColumnRenamed(
        "doc_id", "bench_id")
    return D.minhash_lsh_join(train, bench, "train_id", "bench_id",
                              threshold=0.8,
                              left_bands=train_b, right_bands=bench_b)


# ---------------------------------------------------------------------------
# Streaming twin — audience overlap as a maintained flag table
# ---------------------------------------------------------------------------

@register(
    "stream_audience_overlap",
    tier="variant",
    oracle="""
    WITH flags AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)     AS in_a,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
        FROM events
        WHERE event_type IN ('view', 'purchase')
        GROUP BY user_id
    )
    SELECT CAST(sum(in_a) AS BIGINT)                  AS viewers,
           CAST(sum(in_b) AS BIGINT)                  AS purchasers,
           CAST(sum(in_a * in_b) AS BIGINT)           AS both_segments,
           count(*)                                   AS either_segment,
           round(sum(in_a * in_b) / count(*), 6)      AS jaccard
    FROM flags
    """,
)
def stream_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap as a stream: segment membership flags are
    max() monoids, so the maintained object is the per-user flag
    table — each micro-batch reduces to per-user partial flags and
    merges via max into the stored table (idempotent-by-ledger
    additive_merge sink, reference T10 exactly-once discipline); the
    single-row set algebra runs at read time over |users| rows, never
    over event history. Same oracle as the batch twin
    `audience_overlap` — the flag table always equals a full
    recompute, whatever the batch boundaries."""
    import os
    import tempfile

    from ..streaming.runner import run_foreach_batch, staged_files_dir
    from ..streaming.sinks import additive_merge_batch
    from .streaming_queries import _stage_once

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type")
    in_dir = _stage_once(
        sf_dir, "audience_events",
        lambda base: staged_files_dir(ev, base, n_files=3, order_col="ts"),
    )
    rundir = tempfile.mkdtemp(prefix="rdw_streamq_aud_")
    table_dir = os.path.join(rundir, "flags")

    def flag_partials(batch: DataFrame) -> DataFrame:
        return (
            batch.filter(F.col("event_type").isin("view", "purchase"))
            .groupBy("user_id")
            .agg(
                F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
                .alias("in_a"),
                F.max(F.when(F.col("event_type") == "purchase", 1)
                      .otherwise(0)).alias("in_b"),
            )
        )

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    run_foreach_batch(
        sdf,
        additive_merge_batch(
            table_dir, keys=["user_id"], sum_cols=[],
            prepare=flag_partials,
            merge_aggs={"in_a": F.max, "in_b": F.max},
        ),
        checkpoint_dir=os.path.join(rundir, "ck"),
        output_mode="append",
    )
    flags = spark.read.parquet(table_dir)
    return flags.agg(
        F.sum("in_a").alias("viewers"),
        F.sum("in_b").alias("purchasers"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("both_segments"),
        F.count(F.lit(1)).alias("either_segment"),
        F.round(
            F.sum(F.col("in_a") * F.col("in_b")) / F.count(F.lit(1)), 6
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Declarative data-quality expectations (operators/quality.py)
# ---------------------------------------------------------------------------

@register(
    "dq_orders_expectations",
    oracle="""
    SELECT 'positive_totalprice' AS check_name,
           CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders
    UNION ALL
    SELECT 'status_domain',
           CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O', 'F'),
                                           FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orderdate_in_range',
           CAST(SUM(CASE WHEN NOT COALESCE(
                        o_orderdate >= TIMESTAMP '1995-01-01'
                        AND o_orderdate < TIMESTAMP '2001-01-01', FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)',
           CAST(SUM(c) - count(*) AS BIGINT), CAST(SUM(c) AS BIGINT)
    FROM (SELECT o_orderkey, count(*) AS c FROM orders GROUP BY 1)
    UNION ALL
    SELECT 'fk(o_custkey->c_custkey)',
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders o
    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON o.o_custkey = c.c_custkey
    """,
)
def dq_orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over orders (operators/quality):
    three row predicates folded into ONE single-scan aggregate (the
    status-domain check is deliberately too strict — 'P' rows — so
    the suite demonstrably trips), a key-uniqueness check (one
    grouped pass), and an orders→customer referential check
    (broadcast left join, dim-sized parent). Violations are ROWS in
    the same oracle/hash gate as any query — quality results are
    data, not log lines. At 100 TB: one fact scan for all row
    predicates, one key shuffle, one broadcast probe."""
    from ..operators.quality import (
        expect_fk, expect_rows, expect_unique, quality_report)

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rows = expect_rows(orders, {
        "positive_totalprice": F.col("o_totalprice") > 0,
        "status_domain": F.col("o_orderstatus").isin("O", "F"),
        "orderdate_in_range":
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp")),
    })
    return quality_report(
        rows,
        expect_unique(orders, ["o_orderkey"]),
        expect_fk(orders, "o_custkey", cust, "c_custkey"),
    )
