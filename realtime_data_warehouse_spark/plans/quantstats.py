"""Quantitative-statistics operators (round 5, batch 2).

Exact weighted quantiles, seasonality indices, and embedding
feature statistics — the numeric-profiling layer that sits beside
`profile_orders` / `anomaly_zscore_hourly`, plus the asymmetric
containment dedup the Jaccard family can't express. Shapes:

- weighted_median_price: weighted quantile via the price-level
  PRE-AGGREGATED cumulative sum — the window input is |distinct
  prices per group|, never the fact table. Groups here are the
  3-value returnflag domain, so each group is one sort task; for
  high-cardinality value domains the same plan holds, and for
  low-cardinality GROUPS with huge value domains the escape hatch
  is a fixed-bound histogram pass (revenue_histogram's shape) that
  brackets the median before an exact second pass.
- seasonal_dow_index: two nested tiny rollups (type×dow, then
  type) — the index join is 7 rows × |types|, broadcast.
- embedding_dim_stats: per-dimension mean/variance via posexplode
  long format. The ×dim row blowup is the documented exact-mode
  trade (embeddings are |docs|×dim values either way; the long form
  keeps sums decimal-exact so any engine reproduces them bit-for-
  bit). The fused mapInPandas partial-sum path
  (operators/similarity.kmeans_train) is the throughput variant
  when bit-stable cross-engine hashes aren't required.
- containment_pairs: |A∩B|/|A| ≥ t — catches doc-inside-doc
  duplication (quoting, scraping with boilerplate) that symmetric
  Jaccard misses. Prefix filter applies on the CONTAINED side only
  (pigeonhole: if |A∩B| ≥ t·|A|, B must hold one of A's
  ⌊(1−t)·|A|⌋+1 rarest shingles); the containing side indexes all
  its shingles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize
from ..operators import dedup as D
from ..sources.batch import fan_out, load_table
from .datapipe import _TOKS
from .registry import register


# ---------------------------------------------------------------------------
# Exact weighted median (quantity-weighted price)
# ---------------------------------------------------------------------------

@register(
    "weighted_median_price",
    oracle="""
    WITH pw AS (
        SELECT l_returnflag, l_extendedprice AS price,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS w
        FROM lineitem
        GROUP BY 1, 2
    ), cum AS (
        SELECT l_returnflag, price, w,
               sum(w) OVER (PARTITION BY l_returnflag ORDER BY price) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag)                AS tw
        FROM pw
    )
    SELECT l_returnflag,
           min(price)   AS weighted_median,
           CAST(any_value(tw) AS DOUBLE) AS total_weight
    FROM cum
    WHERE cw * 2 >= tw
    GROUP BY l_returnflag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per returnflag: the
    smallest price whose cumulative weight reaches half the group
    total. The fact table first collapses to (group, price, weight)
    — weights summed decimal-exact — so the ordered cumulative pass
    runs over distinct prices only; weighted quantiles this way cost
    one pre-agg shuffle plus one bounded window sort, with no
    sort of raw facts anywhere.

    r12 measured dead end (do not retry): fan_out before the pre-agg
    read 1.27 s vs 1.13 s plain — (group, price) partials barely
    collapse (price is near-unique), so the round-robin exchange
    duplicates the groupBy's own full shuffle instead of buying
    parallel map work."""
    li = load_table(spark, sf_dir, "lineitem")
    pw = (
        li.groupBy(F.col("l_returnflag"),
                   F.col("l_extendedprice").alias("price"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
             .cast("double").alias("w"))
    )
    part = Window.partitionBy("l_returnflag")
    cum = pw.withColumn(
        "cw", F.sum("w").over(part.orderBy("price"))
    ).withColumn("tw", F.sum("w").over(part))
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").alias("weighted_median"),
            F.any_value(F.col("tw")).cast("double").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonality index
# ---------------------------------------------------------------------------

@register(
    "seasonal_dow_index",
    oracle="""
    WITH dow AS (
        SELECT event_type,
               CAST(EXTRACT(dow FROM ts) AS INT) AS dow,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vsum
        FROM events
        GROUP BY 1, 2
    ), tot AS (
        SELECT event_type,
               CAST(sum(n) AS BIGINT) AS n_all,
               CAST(sum(vsum) AS DOUBLE) AS vsum_all
        FROM dow GROUP BY 1
    )
    SELECT d.event_type, d.dow, d.n,
           round((d.vsum / d.n) / (t.vsum_all / t.n_all), 6) AS value_index,
           round((d.n * 7.0) / t.n_all, 6)                   AS volume_index
    FROM dow d JOIN tot t ON d.event_type = t.event_type
    """,
)
def seasonal_dow_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality per event type: mean value and volume
    for each weekday relative to the type's overall mean — the
    decomposition a capacity planner reads before staffing for the
    weekly cycle. Both rollups are tiny (|types|×7 and |types|), so
    after the single map-side-combined groupBy everything is
    broadcast arithmetic; sums are decimal-exact so the index
    doubles agree across engines."""
    ev = load_table(spark, sf_dir, "events")
    dow = (
        ev.groupBy(
            "event_type",
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double").alias("vsum"),
        )
    )
    tot = dow.groupBy("event_type").agg(
        F.sum("n").alias("n_all"),
        F.sum(F.col("vsum").cast("decimal(18,2)")).cast("double")
        .alias("vsum_all"),
    )
    return (
        dow.join(F.broadcast(tot), "event_type")
        .select(
            "event_type", "dow", "n",
            F.round((F.col("vsum") / F.col("n"))
                    / (F.col("vsum_all") / F.col("n_all")), 6)
            .alias("value_index"),
            F.round((F.col("n") * 7.0) / F.col("n_all"), 6)
            .alias("volume_index"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding per-dimension feature statistics
# ---------------------------------------------------------------------------

@register(
    "embedding_dim_stats",
    oracle="""
    SELECT i AS dim,
           count(*) AS n,
           round(CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(*), 8)
               AS mean,
           round(CAST(sum(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE) / count(*)
                 - pow(CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE)
                       / count(*), 2), 8)
               AS variance
    FROM (SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
    GROUP BY 1
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding column — the
    feature-health profile (dead dims, scale drift) run before any
    ANN index build. Long format: posexplode to (dim, x), one
    groupBy(dim) with decimal-exact power sums (the float widens to
    double losslessly; x and x·x round to DECIMAL(30,12) identically
    in any engine, making the variance bit-stable). dim cardinality
    is the model width, so the aggregate output is tiny however many
    vectors stream through the ×dim row expansion; the fused
    mapInPandas partial-sum kernel (kmeans_train's shape) is the
    throughput variant when cross-engine hashes aren't needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    long = emb.select(
        F.posexplode("embedding").alias("pos", "x")
    ).select((F.col("pos") + 1).alias("dim"), x.alias("x"))
    s1 = F.sum(F.col("x").cast("decimal(30,12)")).cast("double")
    s2 = F.sum((F.col("x") * F.col("x")).cast("decimal(30,12)")).cast("double")
    n = F.count(F.lit(1))
    return long.groupBy("dim").agg(
        n.alias("n"),
        F.round(s1 / n, 8).alias("mean"),
        F.round(s2 / n - F.pow(s1 / n, F.lit(2)), 8).alias("variance"),
    )


# ---------------------------------------------------------------------------
# Asymmetric containment dedup (doc-inside-doc)
# ---------------------------------------------------------------------------

_CONTAINMENT_SQL = f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks)),
                                            i -> toks[i] || ' ' || toks[i+1])) AS sh
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    inv AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE len(sh) > 0),
    pairs AS (
        SELECT a.doc_id AS inner_id, b.doc_id AS outer_id, count(*) AS common
        FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.inner_id, p.outer_id,
           CAST(CAST(p.common / CAST(sa.n AS DOUBLE) AS DECIMAL(6,4))
                AS DOUBLE) AS containment
    FROM pairs p
    JOIN (SELECT doc_id, len(sh) AS n FROM sh) sa ON p.inner_id = sa.doc_id
    WHERE p.common * 10 >= sa.n * 9
"""


@register("containment_pairs", oracle=_CONTAINMENT_SQL)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-inside-doc detection: (inner, outer) pairs where ≥ 90% of
    the inner doc's word-bigram shingles appear in the outer doc —
    the asymmetric duplication (quoting, boilerplate wrapping,
    scrape-with-chrome) that symmetric Jaccard dilutes away when the
    outer doc is much larger.

    Scale: prefix filtering applies on the INNER side only — if
    |A∩B| ≥ t·|A| then B holds one of A's ⌊(1−t)·|A|⌋+1 rarest
    shingles (pigeonhole), so the candidate join is A's rare-shingle
    prefix against the full inverted index, then one exact count per
    candidate pair verifies. Document frequency comes from the same
    inverted index (one extra tiny aggregate), and all exchanges key
    on shingle or doc id — uniform by construction."""
    # threshold 9/10 as a RATIONAL (integer arithmetic throughout):
    # float thresholds round differently across engines — DuckDB
    # parses 0.9 as exact DECIMAL while a double 0.9·10 lands at
    # 9.000000000000002 and ceils to 10, silently dropping boundary
    # pairs. operators/dedup.containment_join carries the predicate
    # as common·10 ≥ n·9 on both sides. The inverted index is built
    # relationally (gram_postings: posexplode + lead window, codegen)
    # rather than via the interpreted HOF shingle arrays — same
    # postings, ~¼ the build cost.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return D.containment_join(docs, t_num=9, t_den=10,
                              postings=D.gram_postings(docs))


# ---------------------------------------------------------------------------
# Incremental ingestion dedup (new batch vs maintained corpus index)
# ---------------------------------------------------------------------------

_FP_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


@register(
    "dedup_incremental",
    oracle=f"""
    WITH corpus AS (
        SELECT DISTINCT {_FP_SQL} AS fp FROM documents WHERE doc_id % 3 <> 0
    ), incoming AS (
        SELECT doc_id, source, {_FP_SQL} AS fp
        FROM documents WHERE doc_id % 3 = 0
    ), marked AS (
        SELECT i.source,
               CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END AS dup_corpus,
               CASE WHEN c.fp IS NULL
                     AND row_number() OVER (PARTITION BY i.fp ORDER BY i.doc_id)
                         > 1 THEN 1 ELSE 0 END AS dup_batch
        FROM incoming i LEFT JOIN corpus c ON i.fp = c.fp
    )
    SELECT source,
           count(*)                                            AS n_incoming,
           CAST(sum(dup_corpus) AS BIGINT)                     AS n_dup_corpus,
           CAST(sum(dup_batch) AS BIGINT)                      AS n_dup_batch,
           CAST(count(*) - sum(dup_corpus) - sum(dup_batch) AS BIGINT)
                                                               AS n_ingested
    FROM marked GROUP BY source
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a new batch (the deterministic
    `doc_id % 3 = 0` cohort) dedupes against the MAINTAINED corpus
    fingerprint index (distinct normalized-md5 fps of everything
    already ingested) and then within itself (keep-first per fp) —
    the steady-state shape of corpus building, where each day's crawl
    joins a fingerprint table instead of re-scanning 100 TB of
    history. Per-source report: incoming / dup-vs-corpus /
    dup-within-batch / ingested.

    Scale: the fp index is |corpus| rows of 32-byte keys — it
    equi-joins (never broadcasts at full scale, but the join is
    uniform md5 keys, AQE-splittable); the within-batch keep-first is
    one window over the batch's own fp partition. Both exchanges key
    on fp — uniform by construction."""
    from ..operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    fp = X.fingerprint("text").alias("fp")
    corpus = (docs.filter(F.col("doc_id") % 3 != 0)
              .select(fp).distinct()
              .withColumn("in_corpus", F.lit(1)))
    incoming = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "source", fp)
    w = Window.partitionBy("fp").orderBy("doc_id")
    marked = (
        incoming.join(corpus, "fp", "left")
        .withColumn("dup_corpus",
                    F.when(F.col("in_corpus").isNotNull(), 1).otherwise(0))
        .withColumn(
            "dup_batch",
            F.when((F.col("in_corpus").isNull())
                   & (F.row_number().over(w) > 1), 1).otherwise(0))
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum("dup_corpus").alias("n_dup_corpus"),
        F.sum("dup_batch").alias("n_dup_batch"),
        (F.count(F.lit(1)) - F.sum("dup_corpus") - F.sum("dup_batch"))
        .alias("n_ingested"),
    )


# ---------------------------------------------------------------------------
# ANN self-evaluation: IVF recall against exact ground truth
# ---------------------------------------------------------------------------

@register(
    "ann_recall_report",
    oracle="""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    brute AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM v q JOIN v c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 10
        QUALIFY row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_inner_product(q.e, c.e)
                     / sqrt(list_inner_product(q.e, q.e)
                            * list_inner_product(c.e, c.e)) DESC,
                     c.vec_id
        ) <= 5
    ),
    ivf AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM v q JOIN v c ON c.vec_id <> q.vec_id AND c.label = q.label
        WHERE q.vec_id < 10
        QUALIFY row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_inner_product(q.e, c.e)
                     / sqrt(list_inner_product(q.e, q.e)
                            * list_inner_product(c.e, c.e)) DESC,
                     c.vec_id
        ) <= 5
    )
    SELECT b.query_id,
           count(*)                          AS k,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_matched,
           round(count(i.neighbor_id) / count(*), 6) AS recall
    FROM brute b
    LEFT JOIN ivf i ON b.query_id = i.query_id
                   AND b.neighbor_id = i.neighbor_id
    GROUP BY b.query_id
    """,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index self-evaluation: recall@5 of the IVF cell-restricted
    search against exact brute-force ground truth, per probe query —
    the acceptance gate run before an index build is promoted to
    serving (the standard ANN-benchmarks methodology, computed
    in-engine). Composes the existing ann operators; a LEFT join from
    truth to candidate pairs + per-query count gives matched@k.

    Scale note: ground truth is only ever computed for the PROBE set
    (tiny), so the brute side is broadcast-probes × corpus-scan — the
    expensive exact pass the evaluation pays once, amortized over
    every index variant it scores."""
    from ..operators import similarity as S

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    brute = S.brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id")
    ivf = S.ivf_topk(emb, queries, k=5).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor"))
    j = brute.join(
        ivf,
        (brute.query_id == ivf.query_id)
        & (brute.neighbor_id == ivf.ivf_neighbor),
        "left",
    ).select(brute.query_id, "neighbor_id", "ivf_neighbor")
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.count("ivf_neighbor").alias("n_matched"),
        F.round(F.count("ivf_neighbor") / F.count(F.lit(1)), 6)
        .alias("recall"),
    )


# ---------------------------------------------------------------------------
# Streaming twin — incremental ingestion dedup as a maintained fp ledger
# ---------------------------------------------------------------------------

@register(
    "stream_dedup_incremental",
    tier="variant",
    oracle=f"""
    WITH corpus AS (
        SELECT DISTINCT {_FP_SQL} AS fp FROM documents WHERE doc_id % 3 <> 0
    ), incoming AS (
        SELECT doc_id, source, {_FP_SQL} AS fp
        FROM documents WHERE doc_id % 3 = 0
    ), marked AS (
        SELECT i.source,
               CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END AS dup_corpus,
               CASE WHEN c.fp IS NULL
                     AND row_number() OVER (PARTITION BY i.fp ORDER BY i.doc_id)
                         > 1 THEN 1 ELSE 0 END AS dup_batch
        FROM incoming i LEFT JOIN corpus c ON i.fp = c.fp
    )
    SELECT source,
           count(*)                                            AS n_incoming,
           CAST(sum(dup_corpus) AS BIGINT)                     AS n_dup_corpus,
           CAST(sum(dup_batch) AS BIGINT)                      AS n_dup_batch,
           CAST(count(*) - sum(dup_corpus) - sum(dup_batch) AS BIGINT)
                                                               AS n_ingested
    FROM marked GROUP BY source
    """,
)
def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus building as a stream, with NO second store and NO
    arrival-order dependence: the maintained object is a
    (fp, source)-keyed ledger of arrival statistics — n_seen (sum
    monoid) and the smallest doc_id (min monoid) — merged exactly-once
    by the ledgered additive_merge sink. Classification happens at
    READ time: arrivals whose fp exists in the static corpus index
    are dup-vs-corpus; otherwise the globally-first arrival (min
    doc_id across sources, a deterministic tiebreak identical to the
    batch twin's keep-first) is the ingested copy and the rest are
    within-stream dups. Because every maintained column is a
    commutative monoid, ANY batch partitioning of the input replays
    to the same table — the report equals `dedup_incremental`
    whatever the micro-batch boundaries, which is the property that
    makes the pipeline safe to re-shard at 100 TB."""
    import os
    import tempfile

    from ..operators import text as X
    from ..streaming.runner import run_foreach_batch, staged_files_dir
    from ..streaming.sinks import additive_merge_batch
    from .streaming_queries import _stage_once

    docs = load_table(spark, sf_dir, "documents")
    fp = X.fingerprint("text").alias("fp")
    incoming = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "source", fp)
    in_dir = _stage_once(
        sf_dir, "dedup_incremental_incoming",
        lambda base: staged_files_dir(incoming, base, n_files=3,
                                      order_col="doc_id"),
    )
    rundir = tempfile.mkdtemp(prefix="rdw_streamq_inc_")
    table_dir = os.path.join(rundir, "fp_ledger")

    def arrival_partials(batch: DataFrame) -> DataFrame:
        return batch.groupBy("fp", "source").agg(
            F.count(F.lit(1)).alias("n_seen"),
            F.min("doc_id").alias("first_doc_id"),
        )

    sdf = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    run_foreach_batch(
        sdf,
        additive_merge_batch(
            table_dir, keys=["fp", "source"], sum_cols=["n_seen"],
            prepare=arrival_partials,
            merge_aggs={"first_doc_id": F.min},
        ),
        checkpoint_dir=os.path.join(rundir, "ck"),
        output_mode="append",
    )

    ledger = spark.read.parquet(table_dir)
    corpus = (docs.filter(F.col("doc_id") % 3 != 0)
              .select(fp).distinct().withColumn("in_corpus", F.lit(1)))
    w = Window.partitionBy("fp")
    classified = (
        ledger.join(corpus, "fp", "left")
        .withColumn("global_first", F.min("first_doc_id").over(w))
        .select(
            "source",
            F.col("n_seen"),
            F.when(F.col("in_corpus").isNotNull(), F.col("n_seen"))
            .otherwise(0).alias("dup_corpus"),
            F.when(F.col("in_corpus").isNotNull(), 0)
            .otherwise(
                F.col("n_seen")
                - F.when(F.col("first_doc_id") == F.col("global_first"), 1)
                .otherwise(0)
            ).alias("dup_batch"),
        )
    )
    return classified.groupBy("source").agg(
        F.sum("n_seen").alias("n_incoming"),
        F.sum("dup_corpus").alias("n_dup_corpus"),
        F.sum("dup_batch").alias("n_dup_batch"),
        (F.sum("n_seen") - F.sum("dup_corpus") - F.sum("dup_batch"))
        .alias("n_ingested"),
    )


# ---------------------------------------------------------------------------
# Customer order-count distribution (TPC-H Q13 shape)
# ---------------------------------------------------------------------------

@register(
    "customer_order_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders-per-customer histogram INCLUDING zero-order customers
    (the TPC-H Q13 shape — the left join is the point: an inner join
    silently drops the inactive cohort, which is usually the business
    question). Two shuffles: the custkey outer join + count, then the
    bounded histogram rollup on c_count."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey",
                                                        "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Promotion revenue share (TPC-H Q14 shape)
# ---------------------------------------------------------------------------

@register(
    "promo_revenue_share",
    oracle="""
    SELECT round(
             100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4))
                   END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_pct,
           count(*) AS n_lineitems
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of discounted revenue from promotional parts (TPC-H Q14
    shape): the part dim BROADCASTS into the fact scan — zero fact
    shuffles, one single-row reduce; the conditional revenue is the
    decimal-exact product convention so the percentage hashes stably."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    j = li.join(F.broadcast(part),
                li.l_partkey == part.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .cast("double")
            / F.sum(rev).cast("double"), 6).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled corpus mixture (the multinomial-sampling weights)
# ---------------------------------------------------------------------------

@register(
    "mixture_temperature_weights",
    oracle=f"""
    WITH a AS (
        SELECT lang, CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1
    ), p AS (
        SELECT lang, n_tokens,
               n_tokens / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS p_raw
        FROM a
    )
    SELECT lang, n_tokens,
           round(p_raw, 6) AS p_raw,
           round(pow(p_raw, 0.7) / SUM(pow(p_raw, 0.7)) OVER (), 6)
               AS w_temp,
           round((pow(p_raw, 0.7) / SUM(pow(p_raw, 0.7)) OVER ()) / p_raw, 6)
               AS effective_epochs
    FROM p
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per language: w ∝ p^α with
    α = 0.7 (the multilingual rebalancing rule from the mBERT/XLM-R
    line of work — upsample tails, downsample heads), plus the
    effective-epochs ratio w/p that tells you how many passes each
    language's data makes. One tokenize+groupBy scan; the temperature
    math runs over |langs| rows in a single unpartitioned window —
    bounded by construction. p_raw is a ratio of exact BIGINT token
    counts, so pow() sees identical doubles in any engine."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    a = (
        docs.select("lang", F.size(tokenize("text")).alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").cast("long").alias("n_tokens"))
    )
    wall = Window.partitionBy()
    p_raw = F.col("n_tokens") / F.sum("n_tokens").over(wall).cast("double")
    p = a.withColumn("p_raw", p_raw)
    wt = F.pow(F.col("p_raw"), 0.7) / F.sum(F.pow(F.col("p_raw"), 0.7)).over(wall)
    return p.select(
        "lang", "n_tokens",
        F.round("p_raw", 6).alias("p_raw"),
        F.round(wt, 6).alias("w_temp"),
        F.round(wt / F.col("p_raw"), 6).alias("effective_epochs"),
    )


# ---------------------------------------------------------------------------
# Multimodal content-hash dedup (byte-identical payloads)
# ---------------------------------------------------------------------------

@register(
    "multimodal_dedup",
    oracle="""
    WITH h AS (
        SELECT source, md5(text) AS content_hash FROM documents
    ), g AS (
        SELECT source, content_hash, count(*) AS n FROM h GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(n) AS BIGINT)          AS n_payloads,
           count(*)                        AS n_distinct,
           CAST(sum(n) - count(*) AS BIGINT) AS n_dups,
           CAST(max(n) AS BIGINT)          AS max_group
    FROM g GROUP BY source
    """,
)
def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical payload dedup over the opaque binary column —
    the FIRST dedup pass of any image/audio pipeline (content hash of
    the raw bytes, before any decode): per source, payload count,
    distinct hashes, dup count, and the largest duplicate group. One
    map-side md5 over the binary column + one shuffle on (source,
    hash) — payload bytes never shuffle, only their 32-byte hashes
    (the reason content-hash dedup is cheap at 100 TB while
    near-dup needs the LSH machinery)."""
    from ..operators.multimodal import attach_binary_payload

    docs = attach_binary_payload(
        fan_out(load_table(spark, sf_dir, "documents")))
    g = (
        docs.select("source", F.md5("payload").alias("content_hash"))
        .groupBy("source", "content_hash")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return g.groupBy("source").agg(
        F.sum("n").alias("n_payloads"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.sum("n") - F.count(F.lit(1))).alias("n_dups"),
        F.max("n").alias("max_group"),
    )


# ---------------------------------------------------------------------------
# Event path analysis (top user-journey trigrams)
# ---------------------------------------------------------------------------

@register(
    "event_path_trigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           count(*) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT 20
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step user journeys: consecutive event-type
    trigrams per user (ordered by event time, event_id tiebreak so
    the sequence — and the counts — are deterministic), counted
    corpus-wide. ONE user_id exchange builds both lead() columns (one
    window spec, shared sort); the trigram count partial-aggregates;
    the top-20 is TakeOrdered (per-partition heads + single merge),
    never a global sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    path = F.concat_ws(">", "event_type", "e2", "e3").alias("path")
    return (
        seq.groupBy(path).agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Order fulfillment latency by priority
# ---------------------------------------------------------------------------

@register(
    "fulfillment_latency",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_lineitems,
           CAST(sum(CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE))
                         AS DECIMAL(18,2))) AS DOUBLE) / count(*)
               AS avg_days_to_ship,
           CAST(max(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE))) AS BIGINT)
               AS max_days_to_ship
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """
    + "GROUP BY 1",
)
def fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency per priority class: the operational SLA
    rollup. The orderkey equi-join shuffles both sides once (or zero
    times on an orderkey-bucketed layout — tests pin that shape for
    the bucketed write path); day arithmetic on DATE casts matches
    DuckDB's date_diff exactly, and the mean is a decimal-exact sum
    over an integer day count."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    days = F.datediff(F.col("l_shipdate").cast("date"),
                      F.col("o_orderdate").cast("date"))
    j = orders.join(li, orders.o_orderkey == li.l_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        (F.sum(days.cast("decimal(18,2)")).cast("double")
         / F.count(F.lit(1))).alias("avg_days_to_ship"),
        F.max(days).cast("long").alias("max_days_to_ship"),
    )


# ---------------------------------------------------------------------------
# Streaming twin — fulfillment latency as a continuous aggregate
# ---------------------------------------------------------------------------

@register(
    "stream_fulfillment_latency",
    tier="variant",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_lineitems,
           CAST(sum(CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE))
                         AS DECIMAL(18,2))) AS DOUBLE) / count(*)
               AS avg_days_to_ship,
           CAST(max(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE))) AS BIGINT)
               AS max_days_to_ship
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def stream_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment latency as a stream: lineitem ships arrive as
    micro-batches, each joins the static order dim (stream-static
    broadcast, reference J3 shape), reduces to per-priority partials
    (count / decimal day-sum / max — all commutative monoids) and
    merges exactly-once into the stored SLA table; the average is
    computed at read from the exact partials, so the stored table
    always equals the batch twin whatever the batch boundaries. Same
    oracle as `fulfillment_latency`."""
    import os
    import tempfile

    from ..streaming.runner import run_foreach_batch, staged_files_dir
    from ..streaming.sinks import additive_merge_batch
    from .streaming_queries import _stage_once

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    in_dir = _stage_once(
        sf_dir, "fulfillment_lineitem",
        lambda base: staged_files_dir(li, base, n_files=3,
                                      order_col="l_orderkey"),
    )
    rundir = tempfile.mkdtemp(prefix="rdw_streamq_sla_")
    table_dir = os.path.join(rundir, "sla")

    days = F.datediff(F.col("l_shipdate").cast("date"),
                      F.col("o_orderdate").cast("date"))

    def sla_partials(batch: DataFrame) -> DataFrame:
        return (
            batch.join(F.broadcast(orders),
                       batch.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lineitems"),
                F.sum(days.cast("decimal(18,2)")).alias("day_sum"),
                F.max(days).cast("long").alias("max_days_to_ship"),
            )
        )

    sdf = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    )
    run_foreach_batch(
        sdf,
        additive_merge_batch(
            table_dir, keys=["o_orderpriority"],
            sum_cols=["n_lineitems", "day_sum"],
            prepare=sla_partials,
            merge_aggs={"max_days_to_ship": F.max},
        ),
        checkpoint_dir=os.path.join(rundir, "ck"),
        output_mode="append",
    )
    sla = spark.read.parquet(table_dir)
    return sla.select(
        "o_orderpriority", "n_lineitems",
        (F.col("day_sum").cast("double") / F.col("n_lineitems"))
        .alias("avg_days_to_ship"),
        "max_days_to_ship",
    )


# ---------------------------------------------------------------------------
# Corpus-frequency quality scoring (unigram-LM-adjacent signal)
# ---------------------------------------------------------------------------

@register(
    "token_rarity_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), dfreq AS (
        SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    )
    SELECT t.doc_id,
           count(*)                                        AS n_tokens,
           CAST(sum(d.df) AS BIGINT)                       AS sum_df,
           CAST(sum(CASE WHEN d.df <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                                                           AS n_rare,
           CAST(sum(CASE WHEN d.df <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*)                                  AS rarity_ratio,
           CAST(sum(d.df) AS DOUBLE) / count(*)            AS avg_df
    FROM toks t JOIN dfreq d ON t.tok = d.tok
    GROUP BY 1
    """,
)
def token_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality scoring — the count-based stand-in for
    LM-perplexity filtering (docs dominated by corpus-rare tokens are
    OCR noise / gibberish candidates; docs of only head tokens are
    boilerplate). Per doc: token count, summed document frequency,
    rare-token count (df ≤ 2) and the derived ratios.

    100 TB shape: tokens explode map-side; the document-frequency
    rollup groups the DISTINCT (doc,token) pairs by token — the head
    tokens ("the") touch every doc but partial aggregation collapses
    them per-partition before the shuffle, so the hot key moves one
    partial per task, not one row per occurrence. The vocabulary
    rollup (≪ corpus; Heaps' law) then BROADCASTS back onto the
    exploded tokens, and the per-doc rollup shares the doc_id
    clustering of the explode's source. All ratios are bigint/bigint
    double divisions — deterministic on every engine, no float
    aggregation. Zero-token docs drop out (no rows to score) on both
    engines. Rows-only twin of what a KenLM scorer would run; the
    count-based signal itself is the oracle-checkable part."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    dfreq = (
        toks.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        toks.join(F.broadcast(dfreq), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("df").alias("sum_df"),
            F.sum((F.col("df") <= 2).cast("long")).alias("n_rare"),
        )
    )
    return scored.select(
        "doc_id", "n_tokens", "sum_df", "n_rare",
        (F.col("n_rare").cast("double") / F.col("n_tokens"))
        .alias("rarity_ratio"),
        (F.col("sum_df").cast("double") / F.col("n_tokens"))
        .alias("avg_df"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage report (tokenizer/vocab sizing signal)
# ---------------------------------------------------------------------------

@register(
    "vocab_coverage_report",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_TOKS}) AS tok FROM documents
    ), counts AS (
        SELECT tok, count(*) AS n FROM toks GROUP BY 1
    ), ranked AS (
        SELECT tok, n,
               row_number() OVER (ORDER BY n DESC, tok)          AS rnk,
               sum(n)      OVER (ORDER BY n DESC, tok)           AS cum_n,
               sum(n)      OVER ()                               AS total_n
        FROM counts
    )
    SELECT tok, n, rnk,
           CAST(cum_n AS DOUBLE) / total_n AS cum_share
    FROM ranked WHERE rnk <= 50
    """,
)
def vocab_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 vocabulary coverage: how much token mass the head of
    the vocabulary captures — the sizing signal for tokenizer/vocab
    decisions (and the denominator sanity check before quota-capping
    head domains). Ranking is tie-broken (count desc, token asc) so
    the report is deterministic on every engine.

    100 TB shape: occurrence counting is one token-keyed rollup with
    map-side partials (head tokens collapse per partition, as in
    token_rarity_score); the ordered cumulative windows then run over
    the VOCABULARY rollup only — bounded by Heaps' law, never by
    corpus size. cum_share is bigint/bigint double division."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(tokenize("text")).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("tok"))
    w_all = Window.partitionBy()
    ranked = counts.select(
        "tok", "n",
        F.row_number().over(w).alias("rnk"),
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n").over(w_all).alias("total_n"),
    )
    return ranked.filter(F.col("rnk") <= 50).select(
        "tok", "n", "rnk",
        (F.col("cum_n").cast("double") / F.col("total_n")).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# Exact quantile without a global sort (two-pass histogram bracket)
# ---------------------------------------------------------------------------

@register(
    "exact_median_price_two_pass",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.5) AS median_price
    FROM lineitem GROUP BY 1
    """,
)
def exact_median_price_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median of a high-cardinality value column via
    operators/agg.two_pass_exact_quantile — the 100 TB exact-quantile
    plan: pass 1 builds a bounded per-(group, bucket) histogram (one
    scan, map-side partials; the driver sees ≤ groups·1024 rows —
    model-parameter sized); pass 2 sorts ONLY each group's target
    bucket (~0.1% of rows at 1024 buckets) and row_numbers to the
    remaining rank. No global sort, no full-table window, and the
    bracket filter reuses the identical bucket expression so no
    float-boundary row migrates between passes. Complements
    weighted_median_price (distinct-value cumulative window) and
    percentile_revenue (approx sketch): three quantile strategies for
    three data shapes."""
    from ..operators.agg import two_pass_exact_quantile

    li = load_table(spark, sf_dir, "lineitem")
    out = two_pass_exact_quantile(li, "l_extendedprice", 0.5,
                                  keys=["l_returnflag"])
    return out.select(
        "l_returnflag",
        F.col("l_extendedprice_q").alias("median_price"),
    )


# ---------------------------------------------------------------------------
# Sketch-accuracy gates
# ---------------------------------------------------------------------------

# The approximate operators (GK quantile sketch, HLL++ distinct count,
# Misra-Gries heavy hitters) are measured against the exact operator
# IN-ENGINE with exact arithmetic, and the oracle gates the measurement.
# An estimate can never hash-match a foreign engine (DuckDB's
# approx_quantile is t-digest, not GK; its HLL seeds differ), so the
# oracle pins what IS portable — the exact quantiles, the exact counts
# and the acceptance boolean, which it asserts TRUE: a sketch that lands
# outside its own published bound turns the entry red. This is the
# certificate a 100 TB deployment needs before swapping
# percentile_revenue's full shuffle (SHUFFLE.md: the repo's only
# full-data shuffle) for `sketch_quantiles_distinct`.

_QS = (0.5, 0.9, 0.99)

#: Spark approx_percentile accuracy knob → Greenwald-Khanna rank-error
#: guarantee eps = 1/accuracy (relative rank error, HARD bound).
_ACCURACY = 10_000

_EPS = 1.0 / _ACCURACY

_SKETCH_Q_ORACLE = f"""
    WITH g AS (
        SELECT l_returnflag, 0.5 AS q,
               CAST(count(*) AS BIGINT) AS n,
               CAST(quantile_disc(l_extendedprice, 0.5) AS DOUBLE) AS exact_q
        FROM lineitem GROUP BY 1
        UNION ALL
        SELECT l_returnflag, 0.9,
               CAST(count(*) AS BIGINT),
               CAST(quantile_disc(l_extendedprice, 0.9) AS DOUBLE)
        FROM lineitem GROUP BY 1
        UNION ALL
        SELECT l_returnflag, 0.99,
               CAST(count(*) AS BIGINT),
               CAST(quantile_disc(l_extendedprice, 0.99) AS DOUBLE)
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, CAST(q AS DOUBLE) AS q, n,
           CAST({_EPS} AS DOUBLE) AS eps_bound,
           exact_q,
           TRUE AS within_bound
    FROM g
"""


@register("sketch_quantile_error", oracle=_SKETCH_Q_ORACLE)
def sketch_quantile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch acceptance gate: Spark's approx_percentile
    (Greenwald-Khanna summary, accuracy=10000 ⇒ rank error ≤ εn with
    ε = 1e-4) measured against the exact discrete quantile per
    (l_returnflag, q) — the check a 100 TB deployment runs once per
    corpus before trusting `sketch_quantiles_distinct` in place of
    `percentile_revenue`'s full shuffle.

    The comparison arithmetic is EXACT even though the sketch isn't:
    the estimate's true rank interval is [count(v < est)+1,
    count(v ≤ est)] (one exact conditional-count scan — the estimate
    is a real data value, so the interval is non-empty), and the
    sketch passes iff that interval intersects the allowed window
    [⌊(q−ε)n⌋−2, ⌈(q+ε)n⌉+2] (±2 rank slack: the GK target-rank
    convention and quantile_disc's ⌈qn⌉ differ by up to a rank on
    each side — measured below, the sketch spends its FULL εn budget,
    so the slack matters). `exact_q` itself comes from
    operators/agg.two_pass_exact_quantile — the no-global-sort exact
    plan — and hash-matches DuckDB quantile_disc; `within_bound` is
    asserted TRUE by the oracle, so a bound violation turns the entry
    red instead of hiding in a rows-only check.

    MEASURED (this box, scripts-free dev run, both driver SFs): the
    GK summary is not "usually much better than ε" on this data — it
    rides the bound. sf0.01 (~20k rows/group): worst observed rank
    error 2 rows ≈ 1.0e-4 relative (εn = 2.0 — 100% of budget);
    sf0.1 (~200k rows/group): worst 19 rows ≈ 9.5e-5 (εn = 20).
    That is exactly what the εn guarantee promises and no more —
    the number a 100 TB deployment needs before swapping
    percentile_revenue's full shuffle for the sketch: p99 revenue
    from the sketch can sit a full 0.01% of ranks off. Driver-side
    work is model-parameter-sized throughout (9 scalar estimates +
    9 count pairs + 9 exact values), same contract as
    two_pass_exact_quantile/kmeans_train.

    Scale: THREE scans total (every q-independent aggregate rides a
    shared scan): (1) sketch +
    group sizes + the exact-quantile min/max bounds in one aggregate;
    (2) the exact-quantile histogram + the conditional counts around
    each estimate in one aggregate (the per-(group, bucket) rows
    carry the lt/le partials, summed per group driver-side — ≤
    |groups|·n_buckets rows, model-parameter-sized); (3) the bracket
    pass, via the same agg.quantile_multi_bracket the public two-pass
    operator composes (identical bucket expression, identical rank
    convention, so exact_q is byte-unchanged). All map-side partials,
    no full-data shuffle; at 100 TB this is the cheap certification
    that amortizes over every subsequent sketch query."""
    from ..operators.agg import quantile_bucket_expr, quantile_multi_bracket

    li = load_table(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice").cast("double")

    # scan 1 — the sketch under test + exact group sizes + the
    # two-pass quantile's min/max bounds (one aggregate)
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_percentile(
            v, F.array(*[F.lit(q) for q in _QS]), F.lit(_ACCURACY)
        ).alias("ests"),
        F.min(v).alias("lo"),
        F.max(v).alias("hi"),
        # count(v), not count(*): the two-pass rank convention counts
        # non-null values (identical here — no nulls — but kept exact)
        F.count(v).alias("nv"),
    ).collect()
    n_of = {r["l_returnflag"]: r["n"] for r in stats}
    est_of = {(r["l_returnflag"], q): float(r["ests"][i])
              for r in stats for i, q in enumerate(_QS)}
    bounds = {(r["l_returnflag"],): (r["lo"], r["hi"], r["nv"])
              for r in stats}

    # scan 2 — the exact-quantile histogram AND the conditional
    # counts around each estimate, one aggregate keyed
    # (group, bucket). The estimates ride in as a BROADCAST-joined
    # frame, not a chained CASE expression: expression depth stays
    # O(1) in the number of groups; the lt/le
    # sums come back as per-bucket partials and fold per group on the
    # driver — same totals as the old dedicated scan.
    ests_df = spark.createDataFrame(
        [(flag,) + tuple(est_of[(flag, q)] for q in _QS)
         for flag in sorted(n_of)],
        "l_returnflag string, " + ", ".join(
            f"e{int(q * 100)} double" for q in _QS),
    )
    aggs = [F.count(F.lit(1)).alias("c")]
    for q in _QS:
        e = F.col(f"e{int(q * 100)}")
        aggs.append(F.sum((v < e).cast("long"))
                    .alias(f"lt_{int(q * 100)}"))
        aggs.append(F.sum((v <= e).cast("long"))
                    .alias(f"le_{int(q * 100)}"))
    bexpr = quantile_bucket_expr("l_extendedprice", bounds,
                                 ["l_returnflag"])
    hist = (li.join(F.broadcast(ests_df), "l_returnflag")
            .withColumn("__b", bexpr)
            .groupBy("l_returnflag", "__b").agg(*aggs).collect())
    per_group: dict[tuple, list] = {}
    counts: dict[str, dict] = {}
    for r in hist:
        per_group.setdefault((r["l_returnflag"],), []).append(
            (r["__b"], r["c"]))
        acc = counts.setdefault(r["l_returnflag"], {})
        for q in _QS:
            for p in ("lt", "le"):
                k = f"{p}_{int(q * 100)}"
                acc[k] = acc.get(k, 0) + r[k]

    # scan 3 — the bracket pass (shared two-pass machinery)
    exact_of = {}
    for r in quantile_multi_bracket(
            li, "l_extendedprice", list(_QS), ["l_returnflag"],
            1024, bounds, per_group).collect():
        exact_of[(r["l_returnflag"], r["q"])] = float(r["l_extendedprice_q"])

    rows = []
    for flag, n in sorted(n_of.items()):
        for q in _QS:
            lo_r = max(1, math.floor((q - _EPS) * n) - 2)
            hi_r = min(n, math.ceil((q + _EPS) * n) + 2)
            cnt_lt = int(counts[flag][f"lt_{int(q * 100)}"])
            cnt_le = int(counts[flag][f"le_{int(q * 100)}"])
            within = (cnt_lt + 1) <= hi_r and cnt_le >= lo_r
            rows.append((flag, float(q), int(n), _EPS,
                         exact_of[(flag, q)], bool(within)))
    return spark.createDataFrame(
        rows, "l_returnflag string, q double, n long, eps_bound double, "
              "exact_q double, within_bound boolean")


_RSD = 0.05  # Spark approx_count_distinct default relative std-dev

_HLL_ERR_ORACLE = f"""
    SELECT l_returnflag, 'l_orderkey' AS key_col,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
           CAST({_RSD} AS DOUBLE) AS rsd_bound,
           TRUE AS within_5rsd
    FROM lineitem GROUP BY 1
    UNION ALL
    SELECT l_returnflag, 'l_partkey',
           CAST(count(DISTINCT l_partkey) AS BIGINT),
           CAST({_RSD} AS DOUBLE), TRUE
    FROM lineitem GROUP BY 1
"""


@register("hll_error_report", oracle=_HLL_ERR_ORACLE)
def hll_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count-sketch acceptance gate — the HLL side of the
    sketch-error pair (see sketch_quantile_error): Spark's
    approx_count_distinct (HyperLogLog++, default rsd = 0.05)
    measured against the exact distinct count per (l_returnflag,
    key column), gated at 5·rsd. The gate is deliberately WIDER than
    the 3σ band: 3·rsd is a probabilistic (~99.7%) bound for HLL++,
    not a hard guarantee, so a legitimate ~0.3%-per-cell tail
    exceedance on a new scale factor or key column would turn the
    parity entry red with no code defect; 5·rsd
    (~5σ, false-red ≈ 6e-7/cell) keeps the acceptance boolean in the
    hash-matched contract while making a red entry mean a real
    defect. Unlike the GK quantile sketch, the
    HLL estimate is ORDER-INDEPENDENT (register-wise max merges), so
    the measured error is a property of (data, rsd) alone and is
    reproducible across partitionings — but still engine-specific
    (seed/hash), so the oracle pins the exact counts and asserts the
    acceptance boolean TRUE, same contract as the quantile gate.

    MEASURED (this box, both driver SFs, rsd = 0.05 ⇒ 5σ gate 25%):
    worst observed relative error 8.6% (sf0.01 flag N, l_orderkey)
    and 6.4% (sf0.1 flag R) — ~1.7σ, inside the gate but far from
    free: the A3 exact-distinct window (`dws_province_order_window`)
    and the HLL twin (`hll_rollup_daily_uv`) can legitimately differ
    by several percent at the default sketch size. rsd = 0.02
    (4× the sketch memory) measured 3.3% worst — the knob a 100 TB
    deployment turns when single-digit-percent UV accuracy matters.

    Scale: one scan, map-side partial sketches, O(groups · 2^p)
    state — the same shape as the production rollup; the exact twin
    costs a distinct-shuffle and exists to certify, not to serve."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("xo"),
        F.approx_count_distinct("l_orderkey", _RSD).alias("ao"),
        F.countDistinct("l_partkey").alias("xp"),
        F.approx_count_distinct("l_partkey", _RSD).alias("ap"),
    )
    # Measured dead end (do not retry): unpivoting ONE 4-agg
    # aggregate with stack() — on the theory that the union re-executes
    # the subtree — read 2.25 s vs this form's 1.30 (min-of-5
    # interleaved). Column pruning splits the union into two LIGHTER
    # aggregates (each Expand covers one distinct column), which beats
    # a single wide multi-distinct Expand.

    def side(key_col: str, exact: str, approx: str) -> DataFrame:
        return base.select(
            "l_returnflag",
            F.lit(key_col).alias("key_col"),
            F.col(exact).cast("long").alias("exact_distinct"),
            F.lit(_RSD).cast("double").alias("rsd_bound"),
            (F.abs(F.col(approx) - F.col(exact))
             <= 5 * _RSD * F.col(exact)).alias("within_5rsd"),
        )

    return side("l_orderkey", "xo", "ao").unionByName(
        side("l_partkey", "xp", "ap"))


_HH_K = 64  # summary capacity; certification threshold = n/(k+1)

_HH_ORACLE = f"""
    WITH toks AS (
        SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            t -> t <> '')) AS token
        FROM documents
    ), tot AS (SELECT count(*) AS n FROM toks)
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM toks, tot
    GROUP BY token, n
    HAVING count(*) > n / {_HH_K + 1}.0
"""


@register("heavy_hitters_exact", oracle=_HH_ORACLE)
def heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items (heavy hitters) via the classic two-pass
    bounded-memory plan — the third member of the sketch
    family, and the one whose OUTPUT is exact despite the sketch:

    Pass 1 runs a Misra-Gries summary (capacity k=64, merged per
    Arrow batch with the Agarwal-et-al. mergeable-summaries rule:
    add exact batch counts, then subtract the (k+1)-th largest and
    drop non-positive) inside ONE mapInPandas scan per partition —
    O(k) state, no shuffle. The union of per-partition candidates
    provably contains every token with global count > n/(k+1): a
    token absent from every partition's summary has per-partition
    count ≤ n_p/(k+1), which sums to ≤ n/(k+1). Pass 2 exact-counts
    ONLY the candidate tokens (≤ k·partitions strings broadcast —
    model-parameter-sized) and keeps those above the threshold, so
    the emitted set IS the true heavy-hitter set with exact counts —
    hash-matched by the oracle directly, no acceptance-boolean
    needed (contrast sketch_quantile_error / hll_error_report, whose
    estimates stay approximate).

    At 100 TB this is the canonical frequent-tokens job: one scan
    with k counters per partition, one filtered re-count — versus
    the full token groupBy whose shuffle carries the entire
    vocabulary. Reference anchor: none (SURVEY §2.6 — the reference
    has no frequency-analysis surface); part of the training-data
    curation family (stopword/boilerplate discovery)."""
    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize("text")).alias("token"))

    # pass 1 emits BOTH the MG summary and the partition's exact row
    # count (is_total row), so the global n comes from the same scan
    # as the candidates — two full scans total, matching the
    # docstring's contract (a separate toks.count() would be a third
    # full tokenize+explode scan).
    def mg_partials(batches):
        acc = pd.Series(dtype="int64")
        total = 0
        for pdf in batches:
            if not len(pdf):
                continue
            total += len(pdf)
            vc = pdf["token"].value_counts()
            acc = acc.add(vc, fill_value=0).astype("int64")
            if len(acc) > _HH_K:
                thr = int(acc.nlargest(_HH_K + 1).iloc[-1])
                acc = acc - thr
                acc = acc[acc > 0]
        yield pd.DataFrame({
            "token": np.append(acc.index.to_numpy(dtype=object), [None]),
            "cnt": np.append(acc.to_numpy(dtype=np.int64),
                             np.int64(total)),
            "is_total": np.append(np.zeros(len(acc), dtype=bool), [True]),
        })

    partials = toks.mapInPandas(
        mg_partials, schema="token string, cnt long, is_total boolean"
    ).collect()  # ≤ (k+1)·partitions rows — model-parameter-sized
    n = sum(r["cnt"] for r in partials if r["is_total"])
    cand = sorted({r["token"] for r in partials if not r["is_total"]})
    thresh = n / float(_HH_K + 1)
    return (
        toks.filter(F.col("token").isin(cand))
        .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > F.lit(thresh))
    )
