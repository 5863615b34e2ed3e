"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), n-gram Jaccard (inverted-index candidate join),
MinHash+LSH (shingle → minhash signature → banded buckets →
bucket-join → exact verify), SimHash (hamming-ball near-dup), and
embedding-cosine near-dup.

Scale design notes (the whole point of these implementations):

- Nothing ever materializes the O(n²) pair space. Candidates come
  from equi-joins on shingles (inverted index), LSH band keys, or
  block keys — all hash-shuffle joins Catalyst plans like any other
  join, so 100 TB in = shuffle on shingle/band key, never a cartesian.
- All hashing is arranged to stay inside int64 without overflow
  (Spark 4 runs ANSI mode by default: silent wraparound is an error,
  so minhash uses h mod 2^31 with 31-bit coefficients).
- The MinHash parameters (128 perms, 32 bands × 4 rows) put LSH
  recall at ~1-5e-8 for Jaccard ≥ 0.8, and every candidate is
  verified with the exact Jaccard before emission, so the output
  equals the exact n-gram result while scaling like LSH.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import persisted
from ..functions.tokenize import tokenize
from .text import fingerprint

#: Mersenne-ish prime below 2^31 for the universal-hash family.
_MINHASH_PRIME = 2147483647
_NUM_PERM = 128
_BANDS = 32
_ROWS_PER_BAND = _NUM_PERM // _BANDS


def _perm_coeffs(num_perm: int = _NUM_PERM) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p —
    generated by a fixed LCG so every run/engine sees the same family."""
    coeffs, state = [], 88172645463325252
    for _ in range(num_perm):
        # xorshift64 steps; keep a odd and both in [1, p)
        state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
        state ^= state >> 7
        state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
        a = (state % (_MINHASH_PRIME - 1)) | 1
        state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
        state ^= state >> 7
        state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
        b = state % _MINHASH_PRIME
        coeffs.append((a, b))
    return coeffs


def _mask_intersect(a_col: str, b_col: str, n_words: int) -> F.Column:
    """|A∩B| of two packed-bitmask arrays (⌈V/64⌉ longs each):
    Σ bit_count(a[i] & b[i]) as a zip_with + aggregate fold.

    r12 measured dead end (do not retry): UNROLLING this into a flat
    sum of n_words element_at(i)+bit_count terms — on the theory that
    the HOF fold's per-pair intermediate array allocation dominates —
    made every mask-path consumer 2-3× SLOWER at sf0.1 (containment
    3.5 → 8.3 s, ngram-jaccard 5.5 → 9.3, fuzzy_join 1.1 → 2.0,
    idle-box min-of-3 both sides): n_words repeated element_at
    null/bounds checks and the wide expression tree lose to the HOF's
    single sequential pass over the primitive long array. `n_words`
    stays a parameter so callers keep passing the plan-time vocab
    word count (and so a future revisit benches the same surface)."""
    _ = n_words
    return F.aggregate(
        F.zip_with(a_col, b_col, lambda x, y: F.bit_count(x.bitwiseAND(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------

def token_ngrams(toks_col, n: int = 2):
    """Distinct n-gram shingles from an ALREADY-MATERIALIZED token
    array column; expression-only, no UDF."""
    if n == 1:
        return F.array_distinct(toks_col)
    # slide a window: for i in 0..size-n: concat(toks[i..i+n-1])
    idx = F.sequence(F.lit(1), F.size(toks_col) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks_col, i + j) for j in range(n)]
    )
    return F.array_distinct(
        F.when(F.size(toks_col) >= n, F.transform(idx, gram)).otherwise(
            F.array().cast("array<string>")
        )
    )


def with_shingles(df: DataFrame, text_col: str = "text", n: int = 2,
                  out_col: str = "shingles", drop_empty: bool = False) -> DataFrame:
    """Tokenize into a materialized column, then shingle that array —
    the regex runs once per row; only the cheap concat runs per gram.

    drop_empty filters docs too short to shingle *on the token count*
    (shingles non-empty ⇔ |tokens| ≥ n). Filtering downstream on
    `size(shingles) > 0` would push the predicate through the
    projection and re-derive the entire shingle expression per row for
    the comparison (~3× the plan cost at sf0.1)."""
    toked = df.withColumn("__toks", tokenize(text_col))
    if drop_empty:
        toked = toked.filter(F.size("__toks") >= n)
    return (
        toked.withColumn(out_col, token_ngrams(F.col("__toks"), n))
        .drop("__toks")
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate removal on the normalized-text fingerprint:
    keep the lowest-id row per fingerprint (deterministic survivor)
    and stamp the group's dup_count. One shuffle on the fingerprint —
    the same partitioning serves both window expressions."""
    from pyspark.sql import Window

    fp = df.withColumn("__fp", fingerprint(text_col))
    w = Window.partitionBy("__fp")
    ranked = (
        fp.withColumn("dup_count", F.count(F.lit(1)).over(w))
        .withColumn("__rn", F.row_number().over(w.orderBy(F.col(id_col))))
    )
    return ranked.filter(F.col("__rn") == 1).drop("__rn", "__fp")


def exact_dedup_stats(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      group_col: str = "lang") -> DataFrame:
    """Per-group survivor/duplicate counts after exact dedup."""
    fp = df.withColumn("__fp", fingerprint(text_col))
    per_fp = fp.groupBy("__fp", group_col).agg(F.count(F.lit(1)).alias("n"))
    return per_fp.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("unique_docs"),
        F.sum(F.col("n") - 1).alias("duplicate_docs"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted index (the verify path and the
# oracle-matched ground truth)
# ---------------------------------------------------------------------------

def gram_postings(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 2) -> DataFrame:
    """Distinct n-gram posting list (id, sz, s) built RELATIONALLY:
    posexplode tokens → window `lead` stitches each gram → distinct →
    per-doc gram count via a second window over the same key.

    This is the codegen formulation of `with_shingles` + explode: the
    HOF shingle path interprets its per-gram lambda (Spark does not
    codegen higher-order-function closures), which costs ~10× the
    whole relational build on corpus-sized inputs. The two exchanges
    (doc_id for the lead window / (doc_id, s) for the distinct) are
    shuffles the downstream set-similarity join pays anyway, and both
    key on uniform columns. Docs with < n tokens produce no rows —
    the same contract as with_shingles(drop_empty=True).

    Set semantics only (the postings are DISTINCT grams); consumers
    that need the gram ARRAY per doc rebuild it with collect_list,
    which is order-unstable but fine for size/intersect algebra."""
    toks = df.select(id_col, F.posexplode(tokenize(text_col)).alias("pos", "tok"))
    if n == 1:
        grams = toks.select(id_col, F.col("tok").alias("s")).distinct()
    else:
        w = Window.partitionBy(id_col).orderBy("pos")
        parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
        grams = (
            toks.select(id_col, F.concat_ws(" ", *parts).alias("s"),
                        parts[-1].alias("__last"))
            .filter(F.col("__last").isNotNull())
            .select(id_col, "s")
            .distinct()
        )
    return grams.withColumn(
        "sz", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 2,
                  threshold: float = 0.8,
                  mask_vocab_cap: int = 4096) -> DataFrame:
    """All pairs with n-gram-shingle Jaccard ≥ threshold — EXACT, via
    AllPairs/PPJoin-style prefix filtering.

    A naive inverted-index self-join meets every pair sharing ANY
    shingle: one stop-shingle ("of the") shared by d docs alone emits
    d²/2 pair rows — quadratic blowup on the most skewed key. Prefix
    filtering keeps exactness while indexing only each doc's RAREST
    shingles: order shingles by ascending document frequency, index
    the first |A| − ⌈t·|A|⌉ + 1 per doc. Two docs with J ≥ t MUST
    share a prefix shingle (pigeonhole on the canonical order), so
    candidates are complete; common shingles land in the unindexed
    suffix and never join. A size filter (t·|A| ≤ |B| ≤ |A|/t) prunes
    further; exact array_intersect verification removes all false
    positives.

    Shuffles: dfreq groupBy(shingle), per-doc rank (partitionBy id),
    candidate equi-join on shingle, verify joins on id — all key-hash
    exchanges on uniform-ish keys; the skewed head of the shingle
    distribution is exactly what the prefix drops."""
    # relational postings build (see gram_postings) — persisted: the
    # inverted index feeds the frequency rollup, both prefix sides and
    # the verify stage
    inv = persisted(
        gram_postings(df.select(id_col, text_col), id_col, text_col, n)
        .withColumnRenamed("s", "sh")
    )
    # persisted: consumed by the vocab-count path selector, the prefix
    # join and (mask path) the bit index — without the persist the
    # full posting-list groupBy executes twice just to pick the
    # verify branch
    dfreq = persisted(inv.groupBy("sh").agg(F.count(F.lit(1)).alias("dfr")))
    # Adaptive verify (same trade as containment_join): on a small-
    # alphabet corpus the prefix filter barely prunes — candidates
    # approach the pair space and a per-pair array_intersect on a
    # ~deduplicated 10⁶-pair stream dominates. With vocab ≤ cap the
    # distinct-shingle sets pack into ⌈V/64⌉ longs and |A∩B| is a
    # codegen'd popcount fold; verification runs BEFORE the distinct
    # so the dedup touches surviving pairs only. Real Zipf corpora
    # (vocab ≫ cap) keep the array_intersect path, where the prefix
    # actually prunes and masks would waste O(V/64) per pair.
    vocab = dfreq.count()  # scalar path selector, driver-side by design
    small = vocab <= mask_vocab_cap
    w = Window.partitionBy(id_col).orderBy("dfr", "sh")
    prefix_len = F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold)) + 1
    prefix = (
        # with a ≤cap vocabulary the frequency table is tiny —
        # broadcast it so the postings skip the join exchange on sh
        inv.join(F.broadcast(dfreq) if small else dfreq, "sh")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= prefix_len)
        .select(id_col, "sz", "sh")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("b.sz") * F.lit(threshold) <= F.col("a.sz"))
            & (F.col("a.sz") * F.lit(threshold) <= F.col("b.sz")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
    )
    if small:
        n_words = (vocab + 63) // 64
        bit_idx = dfreq.select(
            "sh", (F.row_number().over(Window.orderBy("sh")) - 1)
            .alias("__bit"))
        masks = (
            inv.join(F.broadcast(bit_idx), "sh")
            .groupBy(id_col, "sz")
            .agg(F.collect_list("__bit").alias("__bits"))
            .select(
                F.col(id_col), F.col("sz"),
                F.expr(
                    f"transform(sequence(0, {n_words - 1}), w -> "
                    "aggregate(filter(__bits, b -> b div 64 = w), 0L, "
                    "(acc, b) -> acc | shiftleft(1L, b % 64)))"
                ).alias("__mask"),
            )
        )
        # r13 note: containment_join forces a size-guarded broadcast on
        # its mask attach joins (interleaved-proven win on its 4.4M-row
        # candidate stream). Measured NEUTRAL here (dedup_ngram_jaccard
        # old 6.25 vs new 6.57 min-of-5, overlapping distributions —
        # the two-sided size pigeonhole prunes this candidate stream
        # harder), so the attach stays AQE-planned.
        ma = masks.select(F.col(id_col).alias("doc_a"),
                          F.col("sz").alias("sz_a"),
                          F.col("__mask").alias("__ma"))
        mb = masks.select(F.col(id_col).alias("doc_b"),
                          F.col("sz").alias("sz_b"),
                          F.col("__mask").alias("__mb"))
        joined = (
            cands.join(ma, "doc_a").join(mb, "doc_b")
            .withColumn("__common",
                        _mask_intersect("__ma", "__mb", n_words))
        )
        common = F.col("__common")
        jac = common / (F.col("sz_a") + F.col("sz_b") - common)
        return (
            joined.withColumn("jaccard", F.round(jac, 6))
            .filter(jac >= threshold)
            .select("doc_a", "doc_b", "jaccard")
            .distinct()
        )
    # gram ARRAYS rebuilt from the postings (collect_list order is
    # unstable, which size/intersect algebra doesn't observe) — one
    # id-keyed shuffle instead of re-deriving the HOF shingle pass
    sets = inv.groupBy(id_col).agg(F.collect_list("sh").alias("shingles"))
    a_sh = sets.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    b_sh = sets.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    joined = cands.distinct().join(a_sh, "doc_a").join(b_sh, "doc_b")
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common / (F.size("sh_a") + F.size("sh_b") - common)
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature_expr(shingles_col) -> F.Column:
    """Pure-expression minhash (no Python anywhere): ARRAY<STRING>
    shingles → ARRAY<LONG> of _NUM_PERM minhash values.

    Shingle → xxhash64 → fold into [0, 2^31) so the universal hash
    (a*x + b) stays within int64 under ANSI arithmetic. Note Spark
    does not codegen higher-order-function lambdas — the 128×|shingles|
    inner loop is interpreted, so prefer minhash_signature (numpy) in
    the hot path; this variant exists for UDF-free deployments."""
    h31 = F.transform(shingles_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MINHASH_PRIME)))
    mins = [
        F.array_min(
            F.transform(h31, lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MINHASH_PRIME)))
        )
        for a, b in _perm_coeffs()
    ]
    return F.array(*mins)


def minhash_signature(shingles_col) -> F.Column:
    """ARRAY<STRING> shingles → ARRAY<LONG> minhash signature.

    Hybrid plan: shingle hashing stays JVM-side (xxhash64 + pmod,
    codegen'd), then a vectorized pandas_udf does the (a·x+b) mod p
    min-reduction in numpy — one (128, |shingles|) broadcasted
    multiply per row, Arrow-batched. ~40× faster than the interpreted
    expression variant at 5k docs; identical output (same coefficient
    family, same int64 math).

    Measured dead ends (round 6, 500k-doc Zipf corpus, local[32] —
    do not retry): (1) FLATTENING the Arrow batch — concatenating all
    rows' hashes, one (128, Σ|shingles|) broadcast, per-doc segment
    minima via np.minimum.reduceat, 128k-element chunks — is 2×
    SLOWER (band_keys stage 14.7 → 30.1 s; numpy micro 1.35 → 3.02 s
    per 20k docs): at ~100-shingle docs the per-row (128×99) int64
    working set is ~100 KB and L2-RESIDENT, while flattened chunks
    are DRAM-bound, and memory traffic — not Python per-row call
    overhead — is the binding constraint. (2) Replacing % p with the
    exact Mersenne shift-fold reduction (p = 2^31−1: two
    (x&p)+(x>>31) folds + conditional subtract) is also slower
    (1.38 → 1.58 s micro): numpy's scalar-divisor int64 % is one
    array pass; the folds are ~7 cheap passes that lose on the same
    memory-bandwidth budget."""
    coeffs = _perm_coeffs()
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]

    @F.pandas_udf("array<long>")
    def _sig(h31: pd.Series) -> pd.Series:
        out = []
        for hs in h31:
            if hs is None or len(hs) == 0:
                out.append(np.full(_NUM_PERM, _MINHASH_PRIME, dtype=np.int64))
                continue
            h = np.asarray(hs, dtype=np.int64)[None, :]
            out.append(((A * h + B) % _MINHASH_PRIME).min(axis=1))
        return pd.Series(out)

    h31_col = F.transform(
        shingles_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MINHASH_PRIME))
    )
    return _sig(h31_col)


def band_keys(shingled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, shingles) → (id, band_idx, band_key): the banded-minhash
    bucket keys every LSH consumer joins on. Factored out of
    lsh_candidates so batch self-join dedup and the streaming ingest
    gate (plans/streaming_queries.stream_neardup_gate — which joins
    ARRIVING docs against a STORED corpus band index) derive buckets
    from one expression; a drift in banding (_BANDS/_ROWS_PER_BAND,
    hash seed) would silently empty the stream-vs-index join
    otherwise."""
    sig = shingled.withColumn("sig", minhash_signature(F.col("shingles")))
    # one parsed expr instead of 32 xxhash64(...) Column builds — the
    # banding is pure SQL either way; this trims ~0.2 s of driver-side
    # plan construction per invocation
    band_sql = ", ".join(
        f"xxhash64(slice(sig, {i * _ROWS_PER_BAND + 1}, {_ROWS_PER_BAND}), {i})"
        for i in range(_BANDS)
    )
    return sig.select(
        id_col,
        F.posexplode(F.expr(f"array({band_sql})")).alias("band_idx", "band_key"),
    )


def lsh_candidates(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 2,
                   shingled: DataFrame | None = None) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from banded minhash buckets.

    bands → (band_idx, band_hash) keys → self-join per bucket.
    The shuffle key is the band hash: uniform by construction, so no
    skew even on a pathological corpus.

    Pass `shingled` (id, shingles) to reuse an already-built shingle
    set — minhash_lsh_pairs shares one shingling across candidate
    generation and verification instead of recomputing it per branch."""
    sh = shingled if shingled is not None else with_shingles(
        df.select(id_col, text_col), text_col, n, drop_empty=True
    )
    bands = band_keys(sh, id_col)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 2,
                      threshold: float = 0.8) -> DataFrame:
    """Near-dup pairs: LSH candidates verified with exact Jaccard.

    With 32×4 banding, recall for j ≥ 0.8 is ≈ 1 − (1 − 0.8⁴)³² ≈
    1 − 5e-8, and verification removes all false positives — so the
    output matches the exact inverted-index result while the
    candidate join scales like LSH (bucket-local).

    Persist policy (r13, VERDICT r12 item 6 — interleaved min-of-5
    A/B in scripts/r13_ab/ab_minhash_persist.py at commit a0c4aa8):
    persist the NARROW banded keys (id, band_idx, band_key — 32
    longs/doc, the output of the expensive Arrow-batched signature
    pass), NOT the wide shingle arrays. The two verify sides
    re-derive shingles from the raw text (one codegen'd
    tokenize+concat projection each) instead of reading wide cached
    arrays: 1.395 s/10 jobs (wide persist, the
    r12 form) → 1.172 s/8 jobs (narrow), with persist-everything-
    recompute-nothing and recompute-everything both slower. At 100 TB
    the narrow persist is the analogue of staging the signature/band
    table — model-sized — while text re-scans stay cheap columnar
    reads. persist, not localCheckpoint: lineage stays recomputable,
    so losing an executor re-derives its blocks instead of failing
    the job."""
    docs = df.select(id_col, text_col)
    sh = with_shingles(docs, text_col, n, drop_empty=True).select(
        F.col(id_col), F.col("shingles")
    )
    bands = persisted(band_keys(sh, id_col))
    a_b = bands.alias("a")
    b_b = bands.alias("b")
    cands = (
        a_b.join(
            b_b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    a_sh = sh.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    b_sh = sh.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    joined = cands.join(a_sh, "doc_a").join(b_sh, "doc_b")
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common / (F.size("sh_a") + F.size("sh_b") - common)
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_join(left_sh: DataFrame, right_sh: DataFrame,
                     left_id: str, right_id: str,
                     threshold: float = 0.8,
                     left_bands: DataFrame | None = None,
                     right_bands: DataFrame | None = None) -> DataFrame:
    """Cross-corpus near-dup join: (left_id, right_id, jaccard) pairs
    across TWO pre-shingled frames (`id, shingles` — with_shingles'
    shape) with Jaccard ≥ threshold, via banded-minhash candidates +
    exact verification — the cross-table sibling of minhash_lsh_pairs,
    sharing band_keys so the banding convention cannot drift.

    Same recall argument as minhash_lsh_pairs: with 32×4 banding a
    j ≥ 0.8 pair misses every band w.p. (1−j⁴)³² ≈ 5e-8, and the
    exact intersect/union verify (identical predicate family to
    fuzzy_set_join: size pigeonhole + inter ≥ ⌈t·union⌉) removes all
    false positives — so the output equals the exact cross-corpus
    join with probability 1−(1−t⁴)³² PER QUALIFYING PAIR, not with
    certainty (ADVICE r12 #2): at 10⁹+ qualifying pairs the expected
    miss count is no longer negligible, so where strict equality with
    the exact join is REQUIRED at scale, use fuzzy_set_join (the
    PPJoin path, complete by construction) and pay its candidate
    cost. Candidate generation here scales bucket-locally instead of
    through gram posting lists. Motivation (r12, guide §1.2 step
    1): on a degenerate small-vocabulary corpus the PPJoin prefix
    barely prunes (every posting list is huge), so the exact path
    pays a multi-million-row candidate join + per-pair verify; banded
    candidates touch only truly-similar pairs. The exact PPJoin path
    stays first-class as fuzzy_set_join (and is the right plan on
    real Zipf vocabularies where the rare-gram prefix prunes).

    `left_bands` / `right_bands` (r13): optionally take the banded
    keys `(id, band_idx, band_key)` as given instead of deriving them
    from the shingle frames — callers whose two sides are cohort
    SPLITS of one corpus (decontaminate_neardup) band the corpus once
    and pass the persisted slices, so the expensive Arrow-batched
    signature pass runs once, not once per side (interleaved A/B in
    scripts/r13_ab/ab_decontam_persist.py at commit a0c4aa8:
    wide-shingle persist 1.424 s vs shared-narrow-bands 1.258 s,
    narrow wins all 5 pairwise passes)."""
    bl = left_bands if left_bands is not None else band_keys(
        left_sh.select(F.col(left_id).alias("__id"), "shingles"),
        "__id").select(F.col("__id").alias(left_id), "band_idx",
                       "band_key")
    br = right_bands if right_bands is not None else band_keys(
        right_sh.select(F.col(right_id).alias("__id"), "shingles"),
        "__id").select(F.col("__id").alias(right_id), "band_idx",
                       "band_key")
    cands = (bl.join(br, ["band_idx", "band_key"])
             .select(left_id, right_id).distinct())
    lt = left_sh.select(F.col(left_id), F.col("shingles").alias("lt"))
    rt = right_sh.select(F.col(right_id), F.col("shingles").alias("rt"))
    t = F.lit(threshold)
    verified = (
        cands.join(lt, left_id).join(rt, right_id)
        .withColumn("lsz", F.size("lt")).withColumn("rsz", F.size("rt"))
        .withColumn("inter", F.size(F.array_intersect("lt", "rt")))
        .withColumn("uni", F.col("lsz") + F.col("rsz") - F.col("inter"))
        .filter(
            (F.col("rsz") >= F.ceil(F.col("lsz") * t))
            & (F.col("lsz") >= F.ceil(F.col("rsz") * t))
            & (F.col("inter") >= F.ceil(t * F.col("uni")))
        )
    )
    jac = F.col("inter").cast("double") / F.col("uni").cast("double")
    return verified.select(
        left_id, right_id,
        jac.cast("decimal(6,4)").cast("double").alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64_expr(text_col) -> F.Column:
    """64-bit SimHash of the token multiset: per bit, sum ±1 weighted
    by token hashes' bit values; bit set when the sum is positive.
    Expression-only reference implementation — 64 interpreted aggregate
    folds per row, each re-deriving transform(tokenize(...)); keep for
    UDF-free deployments, use simhash64 (numpy hybrid) in hot paths."""
    toks = tokenize(text_col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    bits = []
    for bit in range(64):
        # contribution of each token to this bit: +1 if bit set else -1
        contrib = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        bits.append(F.when(contrib > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")) * F.lit(1 << bit if bit < 63 else -(1 << 63)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _simhash_vote_udf(bits: int):
    """Arrow-batched ±1 bit vote: ARRAY<LONG> token hashes → LONG
    simhash of `bits` bits. One (|tokens|, bits) unpack + column sum
    per row in numpy instead of `bits` interpreted folds."""
    _bit_idx = np.arange(bits, dtype=np.uint64)

    @F.pandas_udf("long")
    def _sh(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), dtype=np.uint64)
        for i, hs in enumerate(hashes):
            if hs is None or len(hs) == 0:
                continue
            h = np.asarray(hs, dtype=np.int64).view(np.uint64)[:, None]
            ones = ((h >> _bit_idx) & np.uint64(1)).sum(axis=0)
            # contrib = ones - zeros > 0  ⇔  2*ones > n_tokens
            b = (2 * ones > len(hs)).astype(np.uint64)
            out[i] = (b << _bit_idx).sum(dtype=np.uint64)
        return pd.Series(out.view(np.int64))

    return _sh


def simhash64(text_col) -> F.Column:
    """64-bit SimHash, hybrid plan (same output as simhash64_expr):
    tokenize + xxhash64 stay JVM-side (codegen'd), then one Arrow batch
    per partition does the 64-bit ±1 vote in numpy. The scale default
    (xxhash64 is the cheapest 64-bit hash the JVM offers)."""
    toks = tokenize(text_col)
    return _simhash_vote_udf(64)(F.transform(toks, lambda t: F.xxhash64(t)))


def simhash60_md5(text_col) -> F.Column:
    """60-bit SimHash on md5-derived token hashes — the engine-portable
    variant: `('0x' || substr(md5(tok),1,15))::BIGINT` computes the
    identical token hash in DuckDB (and any ANSI engine with md5), so
    near-dup results are oracle-checkable bit-for-bit. 15 hex chars =
    60 bits keeps the value inside a signed BIGINT in both engines.
    Prefer simhash64 when portability doesn't matter (xxhash64 is
    ~3× cheaper than md5)."""
    toks = tokenize(text_col)
    h = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")  # noqa: E731
    return _simhash_vote_udf(60)(F.transform(toks, h))


def hamming64(a, b) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3,
                  hasher=simhash64, bits: int = 64) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ k.

    Candidate generation uses the standard block trick: split the
    hash into k+1 blocks — any pair within distance k agrees on ≥1
    whole block (pigeonhole), so candidates come from equi-joins on
    (block_idx, block_value), never a cartesian. (Bits past
    (k+1)*width are left uncovered; that only *adds* candidates —
    completeness needs the differing bits to land in ≤ k of the k+1
    covered blocks, which still holds — and verification drops them.)

    Block width is bits // (k+1): for large k the blocks get narrow
    and buckets coarse (k=8 → 7-bit blocks → ≤128 buckets per band),
    which inflates candidates on huge corpora — at that point move to
    a 128-bit simhash (two xxhash64 seeds) with the same plan shape.
    Short documents flip several bits per token edit, so size k to the
    corpus: ~3 for page-length docs, ~8 for tweet-length.

    hasher/bits select the hash family: simhash64 (default, xxhash64
    tokens — cheapest) or simhash60_md5 (md5 tokens — engine-portable,
    DuckDB-oracle-checkable bit-for-bit)."""
    blocks = max_hamming + 1
    width = bits // blocks
    hashed = df.select(F.col(id_col), hasher(text_col).alias("sh"))
    block_cols = [
        F.shiftrightunsigned(F.col("sh"), i * width)
        .bitwiseAND(F.lit((1 << width) - 1))
        .alias(f"blk{i}")
        for i in range(blocks)
    ]
    keyed = hashed.select(id_col, "sh", F.posexplode(F.array(*block_cols)).alias("blk_idx", "blk_val"))
    a = keyed.alias("a")
    b = keyed.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.blk_idx") == F.col("b.blk_idx"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def fuzzy_set_join(left: DataFrame, right: DataFrame,
                   left_id: str, right_id: str,
                   toks_col: str = "toks",
                   threshold: float = 0.6,
                   left_postings: DataFrame | None = None,
                   right_postings: DataFrame | None = None,
                   mask_vocab_cap: int = 4096) -> DataFrame:
    """Entity-resolution fuzzy join: (left_id, right_id, jaccard)
    pairs across TWO tables whose `toks_col` word sets have Jaccard ≥
    threshold — the cross-table sibling of jaccard_pairs' PPJoin
    self-join.

    Same prefix-filter exactness argument, with one cross-table
    requirement: the canonical token order (ascending document
    frequency) must be GLOBAL across both sides, so the frequency
    table aggregates the union of both inverted indexes. Each side
    indexes only its |s| − ⌈t·|s|⌉ + 1 rarest tokens; a pair with
    J ≥ t must share a prefix token (pigeonhole), so candidates stay
    complete while stop-words never become join keys. Size filter +
    exact intersect/union verification remove all false positives.

    Shuffles: df groupBy(token), per-id rank, candidate equi-join on
    token, two verify joins on id — all uniform-key exchanges.

    `left_postings`/`right_postings` (id, s, sz — gram_postings'
    shape) take the inverted indexes as given instead of exploding
    `toks_col` arrays — use when the token sets are n-gram shingles:
    the relational build skips the interpreted HOF shingle pass.

    Verification is ADAPTIVE on the union vocabulary size, the same
    trade as jaccard_pairs/containment_join: vocab ≤ mask_vocab_cap →
    packed-bitmask popcount verify BEFORE the candidate distinct (no
    per-token exchange, the dedup touches survivors only); vocab >
    cap → exact array_intersect per deduped candidate pair. Both
    paths apply the identical size/threshold predicates, so results
    are path-independent and the oracle is shared."""
    if left_postings is not None:
        inv_l = left_postings.select(left_id, F.col("sz").alias("lsz"),
                                     F.col("s").alias("tok"))
        left_arrays = lambda: persisted(  # noqa: E731
            left_postings.groupBy(left_id)
            .agg(F.collect_list("s").alias("lt")))
    else:
        # the side is consumed twice (inverted index + verify arrays);
        # persist so the upstream tokenize/shingle HOFs run once
        lt0 = persisted(left.select(
            F.col(left_id), F.array_distinct(F.col(toks_col)).alias("lt")))
        inv_l = lt0.select(left_id, F.size("lt").alias("lsz"),
                           F.explode("lt").alias("tok"))
        left_arrays = lambda: lt0  # noqa: E731
    if right_postings is not None:
        inv_r = right_postings.select(right_id, F.col("sz").alias("rsz"),
                                      F.col("s").alias("tok"))
        right_arrays = lambda: persisted(  # noqa: E731
            right_postings.groupBy(right_id)
            .agg(F.collect_list("s").alias("rt")))
    else:
        rt0 = persisted(right.select(
            F.col(right_id), F.array_distinct(F.col(toks_col)).alias("rt")))
        inv_r = rt0.select(right_id, F.size("rt").alias("rsz"),
                           F.explode("rt").alias("tok"))
        right_arrays = lambda: rt0  # noqa: E731
    dfreq = persisted(
        inv_l.select("tok").unionAll(inv_r.select("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("dfr"))
    )
    vocab = dfreq.count()  # scalar path selector, driver-side by design
    small = vocab <= mask_vocab_cap
    t = F.lit(threshold)

    def prefix(inv, id_col, sz_col):
        w = Window.partitionBy(id_col).orderBy("dfr", "tok")
        keep = F.col(sz_col) - F.ceil(F.col(sz_col) * t) + 1
        return (
            inv.join(F.broadcast(dfreq) if small else dfreq, "tok")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= keep)
            .select(id_col, "tok")
        )

    raw_cand = (
        prefix(inv_l, left_id, "lsz")
        .join(prefix(inv_r, right_id, "rsz"), "tok")
        .select(left_id, right_id)
    )
    jac = (F.col("inter").cast("double") / F.col("uni").cast("double"))
    keep_pair = (
        (F.col("rsz") >= F.ceil(F.col("lsz") * t))
        & (F.col("lsz") >= F.ceil(F.col("rsz") * t))
        & (F.col("inter") >= F.ceil(t * F.col("uni")))
    )
    if small:
        n_words = (vocab + 63) // 64
        bit_idx = dfreq.select(
            "tok", (F.row_number().over(Window.orderBy("tok")) - 1)
            .alias("__bit"))

        def masks(inv, id_col, sz_col):
            return (
                inv.join(F.broadcast(bit_idx), "tok")
                .groupBy(id_col, sz_col)
                .agg(F.collect_list("__bit").alias("__bits"))
                .select(
                    F.col(id_col), F.col(sz_col),
                    F.expr(
                        f"transform(sequence(0, {n_words - 1}), w -> "
                        "aggregate(filter(__bits, b -> b div 64 = w), 0L, "
                        "(acc, b) -> acc | shiftleft(1L, b % 64)))"
                    ).alias(f"__m_{sz_col}"),
                )
            )

        # r13 note: containment_join/jaccard_pairs force a size-guarded
        # broadcast on their mask attach joins (measured win on their
        # multi-million-row candidate streams). NOT applied here: the
        # cross-table prefix prunes hard on the vocabularies this path
        # serves (fuzzy_join_parts: ~92 words), the candidate stream
        # is small, and the extra persist+count jobs read as a ~0.3 s
        # regression in the r13 spot measurements — left as-is.
        verified = (
            raw_cand
            .join(masks(inv_l, left_id, "lsz"), left_id)
            .join(masks(inv_r, right_id, "rsz"), right_id)
            .withColumn("inter",
                        _mask_intersect("__m_lsz", "__m_rsz", n_words))
            .withColumn("uni", F.col("lsz") + F.col("rsz") - F.col("inter"))
            .filter(keep_pair)
        )
        return verified.select(
            left_id, right_id,
            jac.cast("decimal(6,4)").cast("double").alias("jaccard"),
        ).distinct()
    lt = left_arrays()
    rt = right_arrays()
    verified = (
        raw_cand.distinct().join(lt, left_id).join(rt, right_id)
        .withColumn("lsz", F.size("lt")).withColumn("rsz", F.size("rt"))
        .withColumn("inter", F.size(F.array_intersect("lt", "rt")))
        .withColumn("uni", F.col("lsz") + F.col("rsz") - F.col("inter"))
        .filter(keep_pair)
    )
    return verified.select(
        left_id, right_id,
        jac.cast("decimal(6,4)").cast("double").alias("jaccard"),
    )


def containment_join(df: DataFrame, id_col: str = "doc_id",
                     toks_col: str = "toks",
                     t_num: int = 9, t_den: int = 10,
                     mask_vocab_cap: int = 4096,
                     postings: DataFrame | None = None) -> DataFrame:
    """Asymmetric containment self-join: (inner, outer) pairs where
    |inner ∩ outer| / |inner| ≥ t_num/t_den — doc-inside-doc
    duplication (quoting, boilerplate wrapping) that symmetric
    Jaccard dilutes away when the outer doc is much larger.

    The threshold is a RATIONAL, applied as integer arithmetic
    (`common·t_den ≥ n·t_num`): float thresholds round differently
    across engines (a double 0.9·10 = 9.000000000000002 ceils to 10
    while an exact decimal 0.9 ceils to 9), which silently drops
    boundary pairs.

    Candidate generation (both paths): prefix filter on the INNER
    side only — if |A∩B| ≥ ⌈t·|A|⌉ then B must hold one of A's
    n − ⌈t·n⌉ + 1 globally-rarest tokens (pigeonhole); the outer
    side indexes all its tokens. All exchanges key on token or doc
    id — uniform by construction, no pair-space materialization.

    Verification is ADAPTIVE on vocabulary size:

    - vocab ≤ mask_vocab_cap (degenerate/small-alphabet corpora —
      where prefix filtering barely prunes because every posting
      list is huge, and the per-token verify join explodes): each
      doc's distinct-token set packs into an array of ⌈V/64⌉ 64-bit
      words; |A∩B| is then a codegen'd popcount fold
      (Σ bit_count(a&b)) per candidate pair — verification does NO
      per-token exchange at all. This took the synthetic-corpus
      bench entry from 45 s to seconds: with a 931-gram vocabulary
      the old verify join shuffled ~10⁸ token rows.
    - vocab > mask_vocab_cap (real corpora — Zipf vocab, where the
      rarest-token prefix DOES prune): exact count per candidate
      pair via the inverted-index join, as before. Masks would cost
      O(V/64) per pair here while prefix+count touches only true
      postings, so the token path wins exactly where masks lose.

    The two paths are result-identical (same candidates, same exact
    intersection count), so the oracle is shared.

    `postings` (id, s, sz — gram_postings' shape) skips the array
    path entirely: the inverted index is taken as given instead of
    being exploded out of `toks_col`, which keeps the whole build
    inside whole-stage codegen (the array path's upstream shingle
    HOFs are interpreted)."""
    if postings is not None:
        inv = persisted(postings.select(
            F.col(id_col), F.col("sz").alias("n"), "s"))
    else:
        sets = df.select(F.col(id_col), F.array_distinct(F.col(toks_col))
                         .alias("__set")).filter(F.size("__set") > 0)
        # one shingle/tokenize pass, shared by the frequency rollup,
        # the prefix, the candidate probe and the mask build — without
        # this the interpreted HOF tokenization re-runs per consumer
        # (the dominant cost; same persist-not-localCheckpoint
        # rationale as minhash_lsh_pairs: lineage stays recomputable)
        sets = persisted(sets)
        inv = sets.select(id_col, F.size("__set").alias("n"),
                          F.explode("__set").alias("s"))
    # persisted: consumed by the vocab-count path selector, the prefix
    # join and (mask path) the bit index
    dfreq = persisted(inv.groupBy("s").agg(F.count(F.lit(1)).alias("dfr")))
    vocab = dfreq.count()  # scalar path selector, driver-side by design
    small = vocab <= mask_vocab_cap
    w = Window.partitionBy(id_col).orderBy("dfr", "s")
    # n − ⌈t_num·n/t_den⌉ + 1, with ⌈a/b⌉ = (a + b − 1) div b
    keep = (F.col("n")
            - F.floor((t_num * F.col("n") + t_den - 1) / t_den) + 1)
    prefix = (
        # ≤cap vocab ⇒ the frequency table is tiny — broadcast it so
        # the postings skip the join exchange on s
        inv.join(F.broadcast(dfreq) if small else dfreq, "s")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= keep)
        .select(F.col(id_col).alias("inner_id"),
                F.col("n").alias("n_in"), "s")
    )
    raw_cand = (
        prefix.join(
            inv.select(F.col(id_col).alias("outer_id"),
                       F.col("n").alias("n_out"), "s"), "s")
        .filter(
            (F.col("inner_id") != F.col("outer_id"))
            # |A∩B| ≤ |B|, so containment ≥ t needs t_den·|B| ≥ t_num·|A|
            # — prunes small-outer candidates inside the codegen'd join
            & (F.col("n_out") * t_den >= F.col("n_in") * t_num)
        )
        .select("inner_id", "outer_id")
    )

    if small:
        n_words = (vocab + 63) // 64
        # dense bit index over the (tiny, ≤cap) vocabulary
        bit_idx = dfreq.select(
            "s", (F.row_number().over(Window.orderBy("s")) - 1)
            .alias("__bit"))
        masks = (
            inv.join(F.broadcast(bit_idx), "s")
            .groupBy(id_col, "n")
            .agg(F.collect_list("__bit").alias("__bits"))
            .select(
                F.col(id_col), F.col("n"),
                F.expr(
                    f"transform(sequence(0, {n_words - 1}), w -> "
                    "aggregate(filter(__bits, b -> b div 64 = w), 0L, "
                    "(acc, b) -> acc | shiftleft(1L, b % 64)))"
                ).alias("__mask"),
            )
        )
        # r13 (guide §8 "audit how the proxy gets re-attached" +
        # §3.1, measured in scripts/r13_ab/ab_containment_verify.py
        # at commit a0c4aa8):
        # left to AQE, the two mask-attach joins planned as SORT-MERGE
        # and shuffled the multi-million-row candidate stream twice
        # (by inner_id, then outer_id) just to fetch 15-word masks —
        # 3.34 → 2.89 s min-of-5 interleaved with the masks broadcast
        # explicitly. The hint is SIZE-GUARDED, not unconditional: the
        # mask table is |docs| rows of ⌈V/64⌉+2 longs, so broadcast is
        # only forced while that stays under ~64 MB (at 10⁹ docs the
        # guard leaves AQE's equi-join in place). One extra tiny job
        # (masks.count() over the persisted inv) pays for the
        # decision. Carrying the masks INLINE through the candidate
        # join instead was measured WORSE (4.34 s: widening the
        # candidate stream by 2×15 longs costs more than the attach
        # joins save).
        masks = persisted(masks)
        mask_row_bytes = (n_words + 2) * 8
        bcast_ok = masks.count() * mask_row_bytes <= 64 * 1024 * 1024
        _bc = F.broadcast if bcast_ok else (lambda d: d)
        ia = _bc(masks.select(F.col(id_col).alias("inner_id"),
                              F.col("n").alias("n_inner"),
                              F.col("__mask").alias("__ma")))
        ib = _bc(masks.select(F.col(id_col).alias("outer_id"),
                              F.col("__mask").alias("__mb")))
        # verify BEFORE deduplicating candidates: the popcount test is
        # O(V/64) map-side work — so the expensive distinct runs
        # over the ~surviving pairs, not the raw candidate stream
        common = (
            raw_cand.join(ia, "inner_id").join(ib, "outer_id")
            .withColumn("common",
                        _mask_intersect("__ma", "__mb", n_words))
            .filter(F.col("common") * t_den >= F.col("n_inner") * t_num)
            .select("inner_id", "outer_id", "n_inner", "common")
            .distinct()
        )
    else:
        cand = raw_cand.distinct()
        ia = inv.select(F.col(id_col).alias("inner_id"),
                        F.col("n").alias("n_inner"), "s")
        ib = inv.select(F.col(id_col).alias("outer_id"), "s")
        common = (
            cand.join(ia, "inner_id").join(ib, ["outer_id", "s"])
            .groupBy("inner_id", "outer_id", "n_inner")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    return (
        common.filter(F.col("common") * t_den >= F.col("n_inner") * t_num)
        .select(
            "inner_id", "outer_id",
            (F.col("common") / F.col("n_inner").cast("double"))
            .cast("decimal(6,4)").cast("double").alias("containment"),
        )
    )
