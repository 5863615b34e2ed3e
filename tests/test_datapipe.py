"""Cross-checks for the training-data operators beyond the oracle gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_data_warehouse_spark.operators import dedup as D
from realtime_data_warehouse_spark.operators import multimodal as M
from realtime_data_warehouse_spark.sources.batch import load_table


def test_simhash_catches_high_jaccard_pairs(spark, sf_small):
    """SimHash (hamming ≤ 3) must recall the near-identical pairs the
    exact bigram-Jaccard path finds at ≥ 0.95 — they share only the
    rows-only driver check, so pin the relationship here."""
    docs = load_table(spark, sf_small, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in D.jaccard_pairs(docs, threshold=0.95).collect()
    }
    sim = {
        (r.doc_a, r.doc_b)
        for r in D.simhash_pairs(docs, max_hamming=8).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    missed = exact - sim
    assert not missed, f"simhash missed near-identical pairs: {sorted(missed)[:5]}"


def test_minhash_lsh_equals_exact_jaccard(spark, sf_small):
    """The LSH path's verified output must equal the exact
    inverted-index result (recall ≈ 1 at j ≥ 0.8 with 32×4 banding)."""
    docs = load_table(spark, sf_small, "documents")
    exact = {(r.doc_a, r.doc_b, r.jaccard)
             for r in D.jaccard_pairs(docs, threshold=0.8).collect()}
    lsh = {(r.doc_a, r.doc_b, r.jaccard)
           for r in D.minhash_lsh_pairs(docs, threshold=0.8).collect()}
    assert exact == lsh


def test_minhash_lsh_join_equals_exact_fuzzy_join(spark, sf_small):
    """r12: the cross-corpus banded path (minhash_lsh_join, the
    decontaminate_neardup candidate generator) must equal the exact
    PPJoin cross-table path (fuzzy_set_join over the same cohort
    split) pair-for-pair and value-for-value — two physical paths,
    one result, same discipline as test_minhash_lsh_equals_exact."""
    docs = load_table(spark, sf_small, "documents")
    bench_pred = F.col("doc_id") % 13 == 0
    post = D.gram_postings(docs)
    tp = post.filter(~bench_pred).select(
        F.col("doc_id").alias("train_id"), "s", "sz")
    bp = post.filter(bench_pred).select(
        F.col("doc_id").alias("bench_id"), "s", "sz")
    exact = {(r.train_id, r.bench_id, r.jaccard)
             for r in D.fuzzy_set_join(
                 None, None, "train_id", "bench_id", threshold=0.8,
                 left_postings=tp, right_postings=bp).collect()}
    sh = D.with_shingles(docs.select("doc_id", "text"), "text", 2,
                         drop_empty=True).select("doc_id", "shingles")
    train = sh.filter(~bench_pred).withColumnRenamed("doc_id", "train_id")
    bench = sh.filter(bench_pred).withColumnRenamed("doc_id", "bench_id")
    banded = {(r.train_id, r.bench_id, r.jaccard)
              for r in D.minhash_lsh_join(
                  train, bench, "train_id", "bench_id", 0.8).collect()}
    assert exact == banded


def test_minhash_signature_matches_expression_variant(spark):
    """The numpy minhash kernel must be bit-identical to the
    independent pure-expression implementation (same coefficient
    family, same int64 math) on every non-empty shingle set. Empty
    sets are out of contract (both production paths shingle with
    drop_empty=True): the kernel emits the all-sentinel signature,
    the expression variant NULLs (array_min over an empty array) —
    pin both so a drift is caught."""
    rows = [
        (1, ["alpha beta", "beta gamma", "gamma delta"]),
        (2, []),  # empty → all-sentinel (kernel) / NULLs (expr)
        (4, ["alpha beta"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    got = {
        r.doc_id: list(r.sig)
        for r in df.select(
            "doc_id", D.minhash_signature(F.col("shingles")).alias("sig")
        ).collect()
    }
    want = {
        r.doc_id: list(r.sig)
        for r in df.select(
            "doc_id",
            D.minhash_signature_expr(F.col("shingles")).alias("sig"),
        ).collect()
    }
    assert got[1] == want[1] and got[4] == want[4]
    assert got[2] == [2147483647] * 128
    assert want[2] == [None] * 128


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(3, "Same  Doc"), (1, "same doc"), (2, "other")],
        "doc_id long, text string",
    )
    out = D.exact_dedup(df).orderBy("doc_id").collect()
    assert [(r.doc_id, r.dup_count) for r in out] == [(1, 2), (2, 1)]


def test_extract_features_batch_shape(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "")], "doc_id long, text string")
    payloads = M.attach_binary_payload(df)
    rows = {r.doc_id: r for r in M.extract_features(payloads).collect()}
    assert len(rows[1].features) == M.FEATURE_DIM
    assert rows[1].n_bytes == len(b"hello world")
    assert rows[2].features == [0.0] * M.FEATURE_DIM
    # deterministic across runs
    again = {r.doc_id: r for r in M.extract_features(payloads).collect()}
    assert rows[1].features == again[1].features


def test_decode_image_is_marked_stub():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG")


def test_kmeans_inertia_non_increasing(spark, sf_small):
    from realtime_data_warehouse_spark.operators import similarity as S
    from realtime_data_warehouse_spark.sources.batch import load_table

    emb = load_table(spark, sf_small, "embeddings")
    prev = None
    for iters in (0, 2, 5):
        c = S.kmeans_train(emb, k=5, iters=iters)
        j = S.inertia(emb, c)
        if prev is not None:
            assert j <= prev + 1e-9, f"inertia rose after more iterations: {prev} -> {j}"
        prev = j


def test_ivf_full_probe_equals_brute_force(spark, sf_small):
    """n_probe = k probes every cell, so trained IVF must return
    EXACTLY the brute-force top-k (same ids, same scores)."""
    from realtime_data_warehouse_spark.operators import similarity as S
    from realtime_data_warehouse_spark.sources.batch import load_table

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = S.kmeans_train(emb, k=4, iters=3)
    got = sorted(map(tuple, S.ivf_trained_topk(emb, queries, centroids,
                                               k=5, n_probe=4).collect()))
    want = sorted(map(tuple, S.brute_force_topk(emb, queries, k=5).collect()))
    assert got == want


def test_assign_cells_is_argmin(spark, sf_small):
    import numpy as np

    from realtime_data_warehouse_spark.operators import similarity as S
    from realtime_data_warehouse_spark.sources.batch import load_table

    emb = load_table(spark, sf_small, "embeddings").limit(50)
    v = emb.select("vec_id", S.as_double("embedding").alias("v"))
    centroids = S.kmeans_train(emb, k=3, iters=1)
    got = {r["vec_id"]: r["cell"] for r in S.assign_cells(v, centroids).collect()}
    C = np.asarray(centroids)
    for r in v.collect():
        x = np.asarray(r["v"])
        want = int(((x[None, :] - C) ** 2).sum(axis=1).argmin())
        assert got[r["vec_id"]] == want


def test_chunk_tokens_covers_all_tokens_with_overlap(spark):
    from realtime_data_warehouse_spark.operators.text import chunk_tokens

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(95))), (2, "a b"), (3, ""), (4, "!!!")],
        "doc_id long, text string",
    )
    rows = chunk_tokens(df, chunk_size=50, stride=40).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 95 tokens -> starts 1,41,81 -> sizes 50,50,15
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["n_tokens"] for r in d1] == [50, 50, 15]
    # consecutive chunks overlap by chunk_size - stride = 10 tokens
    c0, c1 = d1[0]["chunk_text"].split(), d1[1]["chunk_text"].split()
    assert c0[-10:] == c1[:10]
    # full coverage: union of chunks == original token sequence
    merged = c0 + c1[10:] + d1[2]["chunk_text"].split()[10:]
    assert merged == [f"t{i}" for i in range(95)]
    # tiny doc -> one chunk; empty/no-token docs -> no rows
    assert [r["n_tokens"] for r in by_doc[2]] == [2]
    assert 3 not in by_doc and 4 not in by_doc


def test_hash_bucket_split_is_stable_and_complete(spark, sf_small):
    from realtime_data_warehouse_spark.plans.registry import QUERIES

    a = {r["doc_id"]: r["split"] for r in QUERIES["train_val_test_split"](spark, sf_small).collect()}
    b = {r["doc_id"]: r["split"] for r in QUERIES["train_val_test_split"](spark, sf_small).collect()}
    assert a == b  # deterministic across runs
    frac_train = sum(1 for s in a.values() if s == "train") / len(a)
    assert 0.7 < frac_train < 0.9  # md5 buckets are uniform-ish


def test_redact_pii_sequential_counts_and_masks(spark):
    from realtime_data_warehouse_spark.operators import text as X

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@sub.ex.org and ip 10.0.200.9 and acct 123456789 end"),
            (2, "no pii here just words 123"),
            (3, "two mails x@y.io z@w.ai"),
        ],
        "doc_id long, text string",
    )
    redacted, (n_email, n_ip, n_num) = X.redact_pii(F.col("text"))
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id", redacted.alias("t"),
            n_email.alias("e"), n_ip.alias("i"), n_num.alias("n"),
        ).collect()
    }
    # all three kinds masked; IP octets never double-counted as <NUM>
    assert rows[1].t == "mail <EMAIL> and ip <IP> and acct <NUM> end"
    assert (rows[1].e, rows[1].i, rows[1].n) == (1, 1, 1)
    # clean text untouched, short digit runs survive
    assert rows[2].t == "no pii here just words 123"
    assert (rows[2].e, rows[2].i, rows[2].n) == (0, 0, 0)
    assert (rows[3].e, rows[3].t) == (2, "two mails <EMAIL> <EMAIL>")


def test_tfidf_rare_term_outranks_common(spark):
    from realtime_data_warehouse_spark.operators import text as X

    # 'filler' is in every doc (df=4); each doc also has a unique term
    # (df=1) appearing once. tfidf(unique) = 1*5/2 = 2.5 beats
    # tfidf(filler) = 2*5/5 = 2.0, despite filler's higher tf.
    df = spark.createDataFrame(
        [(i, f"filler filler uniq{i}") for i in range(4)],
        "doc_id long, text string",
    )
    out = X.tfidf_top_terms(df, top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i in range(4):
        terms = [r.term for r in sorted(by_doc[i], key=lambda r: -r.tfidf)]
        assert terms == [f"uniq{i}", "filler"]
        top = by_doc[i][0]
        assert {r.term: (r.tf, r.df_docs) for r in by_doc[i]} == {
            f"uniq{i}": (1, 1), "filler": (2, 4),
        }


def test_pq_adc_exact_when_codebook_holds_vectors(spark):
    """With k >= n distinct vectors, each subvector is its own
    centroid: encoding is lossless and the ADC distance must equal
    the exact squared euclidean distance (up to the 1e-6 grid)."""
    import numpy as np

    from realtime_data_warehouse_spark.operators import similarity as S

    vecs = [
        (0, [1.0, 0.0, 2.0, 1.0], 0),
        (1, [0.0, 1.0, 1.0, 2.0], 0),
        (2, [2.0, 2.0, 0.0, 0.0], 0),
        (3, [1.0, 1.0, 1.0, 1.0], 0),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    books = S.pq_train(df, m=2, k=4, iters=2)
    out = S.ivf_pq_topk(df, df, books, k=3)
    got = {(r.query_id, r.neighbor_id): r.adc_d2 for r in out.collect()}
    by_id = {i: np.asarray(v) for i, v, _ in vecs}
    for (qi, ni), adc in got.items():
        exact = float(((by_id[qi] - by_id[ni]) ** 2).sum())
        assert abs(adc - exact) < 1e-5, (qi, ni, adc, exact)
    # every query sees its 3 cell-mates
    assert len(got) == 4 * 3


@pytest.mark.slow
def test_heavy_hitters_exact_equals_full_groupby(spark, sf_small):
    """The two-pass Misra-Gries plan's containment guarantee, pinned
    end-to-end: its output must equal the full-vocabulary groupBy
    filtered at the same n/(k+1) threshold — i.e. the per-partition
    summaries may not lose ANY true heavy hitter, whatever the
    partitioning hands them."""
    from pyspark.sql import functions as F

    from realtime_data_warehouse_spark.functions.tokenize import tokenize
    from realtime_data_warehouse_spark.plans.quantstats import (
        _HH_K,
        heavy_hitters_exact,
    )
    from realtime_data_warehouse_spark.sources.batch import load_table

    got = {(r.token, r.cnt)
           for r in heavy_hitters_exact(spark, sf_small).collect()}
    toks = load_table(spark, sf_small, "documents").select(
        F.explode(tokenize("text")).alias("token"))
    n = toks.count()
    exact = {(r.token, r["cnt"]) for r in
             toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
             .filter(F.col("cnt") > n / float(_HH_K + 1)).collect()}
    assert got == exact and len(exact) > 0
