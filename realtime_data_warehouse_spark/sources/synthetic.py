"""Deterministic synthetic corpora for scale/branch benchmarking.

The driver testdata's `documents` table is a small-ALPHABET corpus:
at sf0.1 its bigram vocabulary is ~931 grams, so every set-similarity
operator takes the packed-bitmask verify branch (`mask_vocab_cap`)
in every gate and bench run, and the prefix+token-join branch — the
one a real Zipf-distributed corpus would exercise at 100 TB — was
correctness-tested but never perf-measured (round-4 verdict, top
item). This module generates a REALISTIC-vocabulary twin so both
branches get measured on the data shape they were designed for.

Everything is hash-derived (xxhash64 on (doc_id, pos) — no RNG, no
time): the same call always yields byte-identical text on any
engine/partitioning/retry, so bench numbers are reproducible and the
corpus never needs committing — the generator IS the artifact.

Token model: ranks drawn LOG-UNIFORMLY over [1, V] — p(rank∈[r,r+dr])
∝ 1/r, i.e. an exact Zipf(s=1) unigram law, the standard model for
natural-language token frequency (the head is stopword-like, the
tail is hapax-like). A `dup_frac` share of docs are near-duplicate
clones of earlier docs with a `mut_rate` share of positions redrawn,
so pair-finding operators have true positives to verify, not just
candidates to prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: 2^31-ish modulus for the hash→uniform fold (stays in int64 math).
_M = 2147483647


def _uniform(*cols) -> F.Column:
    """Deterministic uniform in (0,1): xxhash64 of the key tuple,
    folded mod _M, centered off 0 — never exactly 0 or 1, so log/pow
    stay finite."""
    return (F.pmod(F.xxhash64(*cols), F.lit(_M)).cast("double")
            + F.lit(0.5)) / F.lit(float(_M))


def zipf_documents(spark: SparkSession, n_docs: int = 5000,
                   doc_len: int = 100, vocab: int = 50_000,
                   dup_frac: float = 0.1,
                   mut_rate: float = 0.05) -> DataFrame:
    """(doc_id, text, n_chars) corpus with Zipf(1) token frequencies.

    Docs [0, n_base) are independent; docs [n_base, n_docs) are
    near-dup clones — doc n_base+j re-derives doc (j·k mod n_base)'s
    token stream and redraws ~mut_rate of the positions, leaving
    word-bigram Jaccard ≈ (1−2·mut_rate)/(1+2·mut_rate) ≈ 0.8 at the
    default — right at the dedup family's operating threshold.

    Pure-expression plan (one sequence-explode, one concat_ws
    aggregate): generation distributes like any other query and costs
    one shuffle on doc_id."""
    n_base = max(1, int(n_docs * (1.0 - dup_frac)))
    ids = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    # clone j sources from base doc (j*7 mod n_base) — deterministic,
    # spread across the base range
    src = F.when(
        F.col("doc_id") >= n_base,
        ((F.col("doc_id") - n_base) * 7) % n_base,
    ).otherwise(F.col("doc_id"))
    pos = ids.select(
        "doc_id", src.alias("__src"),
        F.explode(F.sequence(F.lit(0), F.lit(doc_len - 1))).alias("pos"),
    )
    mutate = (F.col("doc_id") >= n_base) & (
        _uniform(F.col("doc_id"), F.col("pos"), F.lit("mut"))
        < F.lit(mut_rate)
    )
    # draw key: the clone re-uses the SOURCE doc's stream except at
    # mutated positions, where it draws from its own id
    draw_id = F.when(mutate, F.col("doc_id")).otherwise(F.col("__src"))
    u = _uniform(draw_id, F.col("pos"))
    # log-uniform rank over [1, V]: rank = floor(V^u)  ⇒  p(r) ∝ 1/r
    rank = F.floor(F.pow(F.lit(float(vocab)), u)).cast("long")
    word = F.concat(F.lit("w"), rank.cast("string"))
    toks = pos.select("doc_id", "pos", word.alias("tok"))
    return (
        toks.groupBy("doc_id")
        .agg(F.concat_ws(" ", F.array_sort(
            F.collect_list(F.struct("pos", "tok"))).getField("tok"))
             .alias("text"))
        .withColumn("n_chars", F.length("text"))
    )


def synthetic_embeddings(spark: SparkSession, n_vecs: int = 2000,
                         dim: int = 64, n_labels: int = 10,
                         noise: float = 1.5, dup_frac: float = 0.1,
                         dup_noise: float = 0.25) -> DataFrame:
    """(vec_id, embedding array<float>, label) — deterministic
    clustered vectors with PLANTED near-dups for ANN/dedup scaling
    runs: each label owns a hash-derived centroid in [−1, 1]^dim;
    base vectors are centroid + `noise`-scaled per-(id, dim) hash
    noise (sized so same-cluster NON-dup cosine sits ≈ 0.5 — below
    every dedup threshold, keeping output pair counts LINEAR in n);
    the last `dup_frac` of ids are copies of base vectors with small
    `dup_noise` perturbation (cosine ≈ 0.95 — above the thresholds),
    carrying the source's label so block-keyed dedup can find them.
    Pure integer multiplicative-hash uniforms (no RNG, no time) →
    byte-identical on any engine/partitioning/retry. Generated in one
    vectorized mapInPandas pass — corpus STAGING, not a hot path, but
    it still distributes."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    dims = np.arange(dim, dtype=np.uint64)
    n_base = max(1, int(n_vecs * (1.0 - dup_frac)))

    def gen(batches):
        def mix(z):
            # splitmix64 finalizer — FULL avalanche. A plain
            # multiplicative-mod hash is an LCG: consecutive ids'
            # "noise" differs by a constant tiny step per coordinate,
            # which silently plants near-dups EVERYWHERE (measured:
            # 76k pairs ≥0.9 cosine at n=2000). uint64 mults wrap
            # mod 2^64, which is the point.
            z = (z + np.uint64(0x9E3779B97F4A7C15))
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return z ^ (z >> np.uint64(31))

        def unit(keys, salt):
            # uniform in [0, 1) per (key, dim)
            z = mix(keys[:, None] * np.uint64(dim + 1)
                    + dims[None, :] + np.uint64(salt))
            return z.astype(np.float64) / float(1 << 64)

        def tri(keys, salt):
            # triangular in (−1, 1), mean 0, var 1/6
            return unit(keys, salt) + unit(keys, salt + 7919) - 1.0

        for pdf in batches:
            ids = pdf["id"].to_numpy("uint64")
            # clones re-derive their SOURCE's base vector exactly
            src = np.where(ids >= n_base, (ids - np.uint64(n_base))
                           * np.uint64(7) % np.uint64(n_base), ids)
            lab = (src % np.uint64(n_labels)).astype(np.uint64)
            centers = 2.0 * unit(lab, 104729) - 1.0
            X = centers + noise * tri(src, 1)
            is_dup = (ids >= n_base)[:, None]
            X = X + np.where(is_dup, dup_noise * tri(ids, 3), 0.0)
            X = X.astype(np.float32)
            yield pd.DataFrame({
                "vec_id": ids.astype(np.int64),
                "embedding": [row for row in X],
                "label": lab.astype(np.int32),
            })

    return spark.range(n_vecs).mapInPandas(
        gen, schema="vec_id long, embedding array<float>, label int")


def _zipf_key(seed_col, n_keys: int) -> F.Column:
    """Deterministic Zipf(s≈1) key in [0, n_keys): inverse-CDF of the
    continuous Zipf law, k = ⌊(n+1)^u⌋ − 1 for hash-uniform u, so
    P(key = k) ∝ 1/(k+1) — key 0 receives ~1/ln(n) of ALL rows (the
    hot key the skew family stresses) while the tail stays long.
    Expression-only, no RNG."""
    u = _uniform(seed_col, F.lit("zipfkey"))
    return F.least(
        F.lit(n_keys - 1),
        (F.floor(F.pow(F.lit(float(n_keys + 1)), u)) - 1).cast("long"),
    )


def synthetic_upserts(spark: SparkSession, n_keys: int = 100_000,
                      versions: int = 2, zipf: bool = False) -> DataFrame:
    """(id string, ts long, amt double, fee double) upsert changelog:
    `versions` rows per key with increasing ts — the input shape the
    A6 delta-correction stream consumes. Amounts are hash-derived
    (deterministic); later versions revise earlier ones, so the
    delta kernel's prev-state path is exercised for every key.
    Expression-only: one range scan, no shuffle.

    ``zipf=True`` keeps the row count (n_keys × versions) and the key
    DOMAIN [0, n_keys) but draws each row's key from the Zipf(1) law
    (_zipf_key) with a globally increasing ts — same events, same
    nominal cardinality, hot-key mass ~1/ln(n) on key 0 — the
    uniform-vs-skewed pair the round-7 skew scaling family measures."""
    rows = spark.range(n_keys * versions)
    if zipf:
        key = _zipf_key(F.col("id"), n_keys)
        ver = F.col("id")  # globally increasing: latest-per-key stays total-ordered
    else:
        key = (F.col("id") % n_keys).cast("long")
        ver = (F.col("id") / n_keys).cast("long")
    return rows.select(
        key.cast("string").alias("id"),
        ver.alias("ts"),
        (F.pmod(F.xxhash64(key, ver, F.lit("amt")), F.lit(10_000))
         .cast("double") / 100.0).alias("amt"),
        (F.pmod(F.xxhash64(key, ver, F.lit("fee")), F.lit(1_000))
         .cast("double") / 100.0).alias("fee"),
    )


def synthetic_user_events(spark: SparkSession, n_events: int = 100_000,
                          n_users: int = 10_000,
                          days: int = 30, zipf: bool = False) -> DataFrame:
    """(uid string, ts_s long) event stream over `days` days — the A7
    daily-UV input shape at a chosen key cardinality. Timestamps
    interleave users across the whole span (hash-scattered within the
    day), so per-(user, day) dedup state sees realistic revisit
    patterns. Expression-only. ``zipf=True`` draws uid from the
    Zipf(1) law over the same domain (see synthetic_upserts)."""
    rows = spark.range(n_events)
    uid = _zipf_key(F.col("id"), n_users) if zipf \
        else (F.col("id") % n_users).cast("long")
    day = (F.col("id") * F.lit(days)) / F.lit(n_events)
    sec = F.pmod(F.xxhash64("id", F.lit("sec")), F.lit(86_400))
    base = F.lit(1_704_067_200)  # 2024-01-01 UTC
    return rows.select(
        uid.cast("string").alias("uid"),
        (base + day.cast("long") * 86_400 + sec).cast("long").alias("ts_s"),
    )


def synthetic_keyed_journey(spark: SparkSession, n_events: int,
                            n_keys: int, zipf: bool = False) -> DataFrame:
    """(gid, uid, rnk, ts_s, etype, value) — the shared input family
    for the four round-8 stateful-stream scaling rows (gapfill /
    funnel / attribution / pack): one global event stream whose
    per-key semantics make every family's expected output EXACTLY
    derivable from the staged input by a one-line aggregate, uniform
    and Zipf(1) alike.

    - gid: global row id; ts_s = 2024-01-01 + gid (strictly
      increasing, so a gid-range replay delivers every key's events
      in event-time order across micro-batches — the ordered-replay
      contract the stateful kernels document).
    - uid: key in [0, n_keys), uniform (gid % n) or Zipf(1)
      (_zipf_key — hot key 0 carries ~1/ln(n) of all rows).
    - rnk: the row's rank WITHIN its key (0-based, gid order) —
      staged as a column (one window shuffle, staging-only) so
      derived inputs are pure projections:
        * funnel/attribution: etype = (view, click, purchase)[rnk%3]
          ⇒ per key c: t1/t2/t3 complete iff c ≥ 1/2/3, every
          conversion's (first, last) touch is (view, click);
        * gapfill: bucket = base + 2·step·rnk ⇒ exactly one missing
          bucket between consecutive observations — dense output
          2c−1 rows per key, zero late;
        * pack: one 64-token chunk per row, budget 256 ⇒ pack_offset
          0 exactly at rnk % 4 == 0 — ⌈c/4⌉ packs per key.
    - value: hash-derived double (attribution's conversion payload).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    rows = spark.range(n_events)
    uid = _zipf_key(F.col("id"), n_keys) if zipf \
        else (F.col("id") % n_keys).cast("long")
    base = F.lit(1_704_067_200)
    df = rows.select(
        F.col("id").alias("gid"),
        uid.alias("uid"),
        (base + F.col("id")).cast("long").alias("ts_s"),
        (F.pmod(F.xxhash64("id", F.lit("val")), F.lit(10_000))
         .cast("double") / 100.0).alias("value"),
    )
    rnk = F.row_number().over(
        Window.partitionBy("uid").orderBy("gid")) - 1
    etype = F.element_at(
        F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
        (F.col("rnk") % 3 + 1).cast("int"))
    return (df.withColumn("rnk", rnk.cast("long"))
            .withColumn("etype", etype)
            .select("gid", "uid", "rnk", "ts_s", "etype", "value"))


def synthetic_order_payments(spark: SparkSession,
                             n_orders: int = 100_000) -> DataFrame:
    """(side string, order_id string, ts_s long, amount double) — the
    stream-stream interval-join input shape (J2) at a chosen order
    cardinality: one 'o' row per order spread evenly over one day,
    plus one 'p' row whose timestamp lands hash-scattered 0–840 s
    after its order for 90% of ids (inside a 15-minute join window)
    and 2–3 h after for the other 10% (outside it, so the
    state-expiry path sees genuinely unmatched rows). Deterministic
    expected match count = |{id : id % 10 != 9}|. Expression-only:
    one range scan, no shuffle, no RNG."""
    rows = spark.range(n_orders * 2)
    oid = (F.col("id") % n_orders).cast("long")
    is_pay = F.col("id") >= n_orders
    base = F.lit(1_704_067_200)  # 2024-01-01 UTC
    o_ts = base + (oid * 86_400 / n_orders).cast("long")
    delta = F.when(
        oid % 10 == 9,
        F.lit(7_200) + F.pmod(F.xxhash64(oid, F.lit("far")), F.lit(3_600)),
    ).otherwise(F.pmod(F.xxhash64(oid, F.lit("near")), F.lit(840)))
    return rows.select(
        F.when(is_pay, F.lit("p")).otherwise(F.lit("o")).alias("side"),
        oid.cast("string").alias("order_id"),
        F.when(is_pay, o_ts + delta).otherwise(o_ts)
        .cast("long").alias("ts_s"),
        (F.pmod(F.xxhash64(oid, F.lit("amount")), F.lit(100_000))
         .cast("double") / 100.0).alias("amount"),
    )


#: epoch base shared by the order-wide sides (2024-01-01 UTC)
_OW_BASE = 1_704_067_200


def synthetic_order_wide(spark: SparkSession, n_orders: int,
                         side: str) -> DataFrame:
    """One side of the 4-way order-wide chain (J1,
    DwdTradeOrderDetail.java:68-92 shape) at a chosen order
    cardinality — the input family for the round-7 scaling row on
    plans/streaming_queries.stream_order_wide_join, which until now
    was the one stream measured only at sf0.1.

    One detail row per order (id = order_id = oid), orders spread
    evenly over one day; the order side shares the detail timestamp
    (hop 1 is an inner join that must match ALL rows), activity rows
    exist for oid % 7 == 0 and coupon rows for oid % 11 == 0, each
    hash-scattered 0–1800 s after the detail (inside the ±1 h join
    window). Expected output of the chained inner→left→left stream is
    therefore EXACT at every size: n_orders rows total, with
    ⌈n/7⌉ non-null activity_id and ⌈n/11⌉ non-null coupon_id.
    Expression-only: one range scan per side, no shuffle, no RNG.

    sides: 'detail' (id, order_id, sku_id, sku_num, amount, ts_s),
    'order' (o_order_id, user_id, ts_s), 'activity' (a_detail_id,
    activity_id, ts_s), 'coupon' (c_detail_id, coupon_id, ts_s)."""
    oid = F.col("id")
    d_ts = (F.lit(_OW_BASE)
            + (oid * F.lit(86_400) / F.lit(n_orders)).cast("long"))
    if side == "detail":
        return spark.range(n_orders).select(
            oid.alias("id"), oid.alias("order_id"),
            (oid % 1000).alias("sku_id"), (1 + oid % 5).alias("sku_num"),
            (F.pmod(F.xxhash64(oid, F.lit("amt")), F.lit(100_000))
             .cast("double") / 100.0).alias("amount"),
            d_ts.alias("ts_s"),
        )
    if side == "order":
        return spark.range(n_orders).select(
            oid.alias("o_order_id"),
            (oid % F.lit(max(1, n_orders // 10))).alias("user_id"),
            d_ts.alias("ts_s"),
        )
    if side == "activity":
        return spark.range(n_orders).filter(oid % 7 == 0).select(
            oid.alias("a_detail_id"), (oid % 5).alias("activity_id"),
            (d_ts + F.pmod(F.xxhash64(oid, F.lit("act")), F.lit(1_800)))
            .alias("ts_s"),
        )
    if side == "coupon":
        return spark.range(n_orders).filter(oid % 11 == 0).select(
            oid.alias("c_detail_id"), (oid % 3).alias("coupon_id"),
            (d_ts + F.pmod(F.xxhash64(oid, F.lit("cpn")), F.lit(1_800)))
            .alias("ts_s"),
        )
    raise ValueError(f"unknown side {side!r}")
