import os
import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_timeseries_spark.operators import dedup, multimodal, similarity, textops


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_token_counts_and_quality(spark, sf_dir):
    d = textops.with_quality_score(textops.with_token_counts(_docs(spark, sf_dir)))
    rows = d.select("n_ws_tokens", "n_bpe_tokens", "ttr", "quality_score", "alpha_ratio").collect()
    for r in rows:
        assert r["n_ws_tokens"] > 0
        assert r["n_bpe_tokens"] >= r["n_ws_tokens"]  # regex splits at least as fine
        assert 0 < r["ttr"] <= 1
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["alpha_ratio"] <= 1.0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("e1", "the cat and the dog is in a house for fun"),
            ("d1", "der hund ist nicht mit der katze und das haus"),
            ("f1", "le chat est dans la maison pour le chien et les amis"),
            ("x1", "zzz qqq www"),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in textops.with_lang_id(df).collect()}
    assert out == {"e1": "en", "d1": "de", "f1": "fr", "x1": "und"}


def test_fingerprints_catch_reformat_and_shuffle(spark):
    df = spark.createDataFrame(
        [
            ("a", "Hello World foo"),
            ("b", "hello   world FOO"),   # same after normalization? (case+ws)
            ("c", "foo hello world"),     # word shuffle
            ("d", "totally different"),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: (r["fp_exact"], r["fp_bag"]) for r in textops.with_fingerprints(df).collect()}
    assert out["a"][0] == out["b"][0]          # exact fp: case/whitespace-insensitive
    assert out["a"][1] == out["c"][1] == out["b"][1]  # bag fp: order-insensitive
    assert out["d"][0] != out["a"][0] and out["d"][1] != out["a"][1]


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [("1", "same text"), ("2", "same text"), ("3", "other")],
        "doc_id string, text string",
    )
    out = {r["keep_id"]: r for r in dedup.dedup_exact(df).collect()}
    assert out["1"]["n_copies"] == 2 and out["1"]["n_dupes"] == 1
    assert out["3"]["n_copies"] == 1


def test_minhash_lsh_finds_near_dupes(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")
    far = "completely unrelated content about spark dataframes and shuffles " * 5
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far), ("d", base)],
        "doc_id string, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in dedup.minhash_dedup_pairs(df, threshold=0.5).collect()}
    assert ("a", "d") in pairs and pairs[("a", "d")] == 1.0  # identical
    assert ("a", "b") in pairs  # near-dup caught
    assert all("c" not in p for p in pairs)  # unrelated not caught


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y w"), ("c", "p q r")],
        "doc_id string, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r
             for r in dedup.ngram_jaccard_pairs(df, shingle_k=1).collect()}
    assert pairs[("a", "b")]["inter"] == 2
    assert pairs[("a", "b")]["union_sz"] == 4
    assert pairs[("a", "b")]["jaccard"] == 0.5
    assert ("a", "c") not in pairs  # no shared tokens → no candidate row


def test_ngram_jaccard_max_df_bounds_hot_token_blowup(spark):
    # planted hot token: "the" in every doc. Without a cap the inverted
    # index produces ~n²/2 join rows through that one key; with the cap
    # the hot token leaves the index AND the set sizes (exact Jaccard
    # over the capped universe).
    n = 40
    rows = [(f"d{i:02d}", f"the unique{i} token{i} word{i}") for i in range(n)]
    rows[1] = ("d01", "the unique0 token0 word1")  # near-dup of d00 modulo cap
    df = spark.createDataFrame(rows, "doc_id string, text string")
    capped = dedup.ngram_jaccard_pairs(df, shingle_k=1, max_df=5)
    got = {(r["id_a"], r["id_b"]): r for r in capped.collect()}
    # "the" (df=40 > 5) is dropped everywhere: d00={unique0,token0,word0},
    # d01={unique0,token0,word1} → inter 2, union 4
    assert got[("d00", "d01")]["inter"] == 2
    assert got[("d00", "d01")]["union_sz"] == 4
    # every other pair shares ONLY the capped token → no candidate row at all
    assert len(got) == 1
    # uncapped: every pair shares "the" → n(n-1)/2 candidate rows
    uncapped = dedup.ngram_jaccard_pairs(df, shingle_k=1)
    assert uncapped.count() == n * (n - 1) // 2


def test_ngram_jaccard_sizes_join_not_forced_broadcast(spark):
    # The per-doc `sizes` table is unbounded at corpus scale, so the
    # operator must not force-broadcast it: with AQE auto-broadcast
    # disabled the plan has to fall back to shuffle joins and still
    # produce exact values. (The hot-token list broadcast is exempt —
    # it is bounded by construction.)
    df = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y w"), ("c", "p q r")],
        "doc_id string, text string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs_df = dedup.ngram_jaccard_pairs(df, shingle_k=1)
        plan = pairs_df._jdf.queryExecution().executedPlan().toString()
        # no broadcast exchange may survive when auto-broadcast is off
        # (a ResolvedHint/forced broadcast would still show one)
        assert "BroadcastExchange" not in plan, plan
        pairs = {(r["id_a"], r["id_b"]): r for r in pairs_df.collect()}
        assert pairs[("a", "b")]["jaccard"] == 0.5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_lsh_verified_pairs_exact_jaccard_on_candidates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")
    far = "completely unrelated content about spark dataframes and shuffles " * 5
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far), ("d", base)],
        "doc_id string, text string",
    )
    out = {(r["id_a"], r["id_b"]): r
           for r in dedup.lsh_verified_pairs(df, threshold=0.3).collect()}
    assert out[("a", "d")]["jaccard"] == 1.0            # identical docs
    assert ("a", "b") in out and out[("a", "b")]["jaccard"] < 1.0
    assert all("c" not in p for p in out)               # unrelated not caught
    # verification is EXACT set Jaccard: recompute one pair in Python
    # (split on literal " " — the engine's words_col convention)
    sh = lambda t: {" ".join(t.split(" ")[i:i + 3]) for i in range(len(t.split(" ")) - 2)}  # noqa: E731
    sa, sb = sh(base), sh(near)
    expect = len(sa & sb) / len(sa | sb)
    assert abs(out[("a", "b")]["jaccard"] - expect) < 1e-12


def test_shingles_regex_equals_split_slice_reference(spark):
    """``dedup.shingles`` (one regexp_extract_all) yields the same array,
    in the same order, as the split/slice/concat_ws construction it
    replaced, for k ∈ {1, 2, 3, 5}: runs of spaces, leading/trailing
    spaces, tabs and newlines inside fields, unicode, fewer than k and
    exactly k fields, '' and null, and a seeded random batch. A leading
    space is the case a ``(?:^| )`` anchor gets wrong."""
    import random

    def reference(k):
        words = F.split(F.col("text"), " ")
        n = F.size(words)
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k - 1)),
                lambda i: F.concat_ws(" ", F.slice(words, i, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", words)))

    texts = [
        "a b c d e f", "a  b   c", " a b c", "a b c ", "  a b  ", " ", "   ",
        "a\tb c\nd e", "\t\n", "é 中 a 😀 b", "中文 字  符", "a", "a b",
        "a b c", "a b c d e", "", None,
    ]
    rng = random.Random(1009)
    alphabet = ["a", "b", "c", " ", "  ", "\t", "\n", "é", "中", "😀"]
    texts += ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
              for _ in range(400)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    for k in (1, 2, 3, 5):
        rows = df.select("i", dedup.shingles("text", k).alias("got"),
                         reference(k).alias("want")).collect()
        bad = [(texts[r["i"]], r["got"], r["want"]) for r in rows if r["got"] != r["want"]]
        assert not bad, (k, bad[:3])


def test_ngram_jaccard_prefix_filter_is_exact(spark):
    """Prefix filtering must lose NOTHING: the thresholded operator's
    output equals the unthresholded inverted-index reporter filtered at
    the same threshold (an independent join path), on a corpus with
    planted near-dups at J≈0.85 and organic partial overlaps."""
    from rust_timeseries_spark import datagen

    docs = datagen.document_corpus(spark, 2_000)
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["union_sz"], r["jaccard"])
        for r in dedup.ngram_jaccard_threshold_pairs(docs, threshold=0.5).collect()
    }
    exp = {
        (r["id_a"], r["id_b"]): (r["inter"], r["union_sz"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs).where("jaccard >= 0.5").collect()
    }
    assert got == exp and len(got) >= 90  # ~100 planted near-dup pairs
    # threshold validation
    import pytest
    with pytest.raises(ValueError):
        dedup.ngram_jaccard_threshold_pairs(docs, threshold=0.0)
    # t = 1.0: exact duplicates only (planted docs differ in word 1)
    assert dedup.ngram_jaccard_threshold_pairs(docs.limit(200), threshold=1.0).count() == 0


def test_bloom_prune_keeps_identical_large_docs(spark):
    """The shared bucket count |_bi_a ∩ _bi_b| is not an upper bound on
    |A ∩ B|: two identical docs of 1,200 distinct words have 1,198
    common shingles but fill only ~700 of the 1,024 Bloom buckets, under
    the 799 that J ≥ 0.5 needs. Both pruned operators must keep them, as
    the unpruned ngram_jaccard_pairs does."""
    text = " ".join(f"w{i}" for i in range(1200))
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "a b c d e")], "doc_id long, text string"
    )
    want = [(1, 2, 1198, 1.0)]
    cols = ["id_a", "id_b", "inter", "jaccard"]
    assert [tuple(r) for r in dedup.ngram_jaccard_threshold_pairs(docs, threshold=0.5)
            .select(cols).collect()] == want
    assert [tuple(r) for r in dedup.incremental_jaccard_pairs(
        docs.where("doc_id != 2"), docs.where("doc_id = 2"), threshold=0.5
    ).select(cols).collect()] == want


def _pair_texts(tag, inter, size_a, size_b):
    """Two texts whose 3-shingle sets have sizes ``size_a``/``size_b``
    and share exactly ``inter`` shingles: a common run of ``inter + 2``
    words, then tails of words of their own."""
    run = [f"{tag}c{i}" for i in range(inter + 2)]
    return (" ".join(run + [f"{tag}a{i}" for i in range(size_a - inter)]),
            " ".join(run + [f"{tag}b{i}" for i in range(size_b - inter)]))


def test_exact_jaccard_operators_exact_at_64_buckets(spark, monkeypatch):
    """With a 64-bucket Bloom summary nearly every shingle shares a
    bucket, so the prune stands on its slack term alone. Both pruned
    operators must still equal the unpruned reporter filtered at t on
    pairs exactly at t, identical 1,200-word docs, docs whose shingles
    all occur once, docs shorter than k words and empty text."""
    monkeypatch.setattr(dedup, "BLOOM_BITS", 64)
    t = 0.5
    texts = []
    # (inter, |A|, |B|) with inter / (|A| + |B| - inter) == t exactly,
    # and one just under it
    for n, (i, sa, sb) in enumerate([(100, 150, 150), (40, 50, 70), (6, 10, 8), (99, 150, 150)]):
        texts += _pair_texts(f"p{n}", i, sa, sb)
    big = " ".join(f"w{i}" for i in range(1200))
    texts += [big, big]
    texts += [" ".join(f"u{d}x{i}" for i in range(30)) for d in range(4)]
    texts += ["a b", "a b", "a", "", ""]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    want = {tuple(r) for r in dedup.ngram_jaccard_pairs(docs).where(f"jaccard >= {t}").collect()}
    assert {(0, 1, 100, 200, 0.5), (2, 3, 40, 80, 0.5), (8, 9, 1198, 1198, 1.0)} <= want
    assert not any(p[:2] == (6, 7) for p in want)
    assert {tuple(r) for r in dedup.ngram_jaccard_threshold_pairs(docs, t).collect()} == want
    delta = F.col("doc_id") % 3 != 0
    got = {tuple(r) for r in dedup.incremental_jaccard_pairs(docs.where(~delta), docs.where(delta), t).collect()}
    dset = {r["doc_id"] for r in docs.where(delta).collect()}
    assert got == {p for p in want if p[0] in dset or p[1] in dset}


@pytest.mark.parametrize("col", ["_th", "_sz"])
def test_exact_jaccard_rejects_reserved_columns(spark, col):
    """A caller column named like an internal one would be overwritten
    (``_th`` returned no pairs) or made ambiguous (``_sz``)."""
    docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c d")], f"{col} long, text string")
    with pytest.raises(ValueError, match="reserved"):
        dedup.ngram_jaccard_threshold_pairs(docs, 0.5, id_col=col)
    with pytest.raises(ValueError, match="reserved"):
        dedup.incremental_jaccard_pairs(docs, docs, 0.5, id_col=col)
    with pytest.raises(ValueError, match="reserved"):
        dedup.ngram_jaccard_threshold_pairs(docs.withColumnRenamed(col, "doc_id")
                                            .withColumnRenamed("text", col), 0.5, text_col=col)


def test_prefix_ceiling_never_overshoots():
    """Review finding (r4): float ceil(t·n) overshoots the true ceiling
    for ~290 (t, n) combos in t∈[0.01,0.99], n≤2000 (e.g. 0.07·100 →
    7.000000000000001 → 8), which would shorten the prefix below the
    pigeonhole minimum and silently drop qualifying pairs. The biased
    ceiling ceil(t·n − 1e-9) must never EXCEED the exact ceiling of the
    rational product (safe direction: a smaller α lengthens the
    prefix), and must not under-shoot by more than 1 (bounded extra
    work)."""
    import math
    from fractions import Fraction

    for t100 in range(1, 100):
        t = t100 / 100.0
        ft = Fraction(t)  # the double's exact rational value
        for n in range(1, 2001):
            exact = math.ceil(ft * n)  # ceil of the exact rational product
            biased = math.ceil(t * n - 1e-9)
            assert biased <= exact, (t, n, biased, exact)
            assert biased >= exact - 1, (t, n, biased, exact)


def test_lsh_candidates_track_collision_rate_not_n_squared(spark):
    """Round-3 verdict item 1: as the corpus grows 10×, LSH candidate
    pairs must grow ~10× (planted dups + bounded hash collisions — the
    collision-rate model), never ~100× (the all-pairs blowup a naive
    similarity join would give). Also pins recall: essentially every
    planted near-dup (Jaccard ≈ 0.85 ≫ threshold) becomes a candidate."""
    from rust_timeseries_spark import datagen

    counts = {}
    for n in (4_000, 40_000):
        docs = datagen.document_corpus(spark, n)
        sigs = dedup.minhash_signatures(docs, num_perm=32)
        counts[n] = dedup.lsh_candidate_pairs(sigs, bands=8, rows_per_band=4).count()
    planted_small = 4_000 // 20
    assert counts[4_000] >= 0.9 * planted_small, counts  # recall on planted dups
    ratio = counts[40_000] / counts[4_000]
    # linear collision model predicts ~10×; all-pairs would be ~100×.
    # generous slack for incidental band collisions growing superlinearly
    assert ratio <= 25, counts
    assert ratio >= 5, counts  # sanity: candidates DO grow with the corpus


def test_simhash_properties(spark):
    assert dedup.simhash_np(["hello", "world"]) == dedup.simhash_np(["hello", "world"])
    a = dedup.simhash_np(("the quick brown fox jumps over the lazy dog " * 8).split())
    b = dedup.simhash_np(("the quick brown fox jumps over the sleepy dog " * 8).split())
    c = dedup.simhash_np(("numpy arrow shuffle partition executor broadcast " * 8).split())
    ham = lambda x, y: bin(x ^ y).count("1")  # noqa: E731
    assert ham(a, b) < ham(a, c)
    df = spark.createDataFrame(
        [("a", "the quick brown fox " * 10), ("b", "the quick brown fox " * 10), ("c", "qqq zzz www " * 10)],
        "doc_id string, text string",
    )
    pairs = dedup.simhash_near_pairs(df, max_hamming=3).collect()
    keys = {(r["id_a"], r["id_b"]) for r in pairs}
    assert ("a", "b") in keys
    assert ("a", "c") not in keys


def test_simhash_column_matches_python_recompute(spark, sf_dir):
    # the JVM xxhash64 → numpy bit-vote path must equal the pure-Python
    # recompute (functions/xxh64.py) token for token
    d = _docs(spark, sf_dir).limit(25)
    got = {r["doc_id"]: r["simhash"] for r in dedup.with_simhash(d).collect()}
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    for doc_id, text in texts.items():
        exp = dedup.simhash_np(text.split(" ") if text else [])
        exp_signed = exp - (1 << 64) if exp >= (1 << 63) else exp
        assert got[doc_id] == exp_signed, doc_id


def test_simhash_recall_guarantee_enforced(spark):
    import pytest

    df = spark.createDataFrame([("a", "x")], "doc_id string, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_pairs(df, max_hamming=8)          # > 4 chunks − 1
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_pairs(df, max_hamming=8, n_chunks=8)
    with pytest.raises(ValueError, match="divide"):
        dedup.simhash_near_pairs(df, max_hamming=2, n_chunks=5)


def test_simhash_planted_pairs_d5_to_d7_recovered(spark):
    # plant simhash values at exact Hamming distances 5, 6, 7 by feeding
    # precomputed simhash columns (simhash_near_pairs accepts an existing
    # 'simhash' column); with n_chunks=8 the pigeonhole guarantee covers
    # d ≤ 7, so ALL planted pairs must be recovered.
    base = 0x0123456789ABCDEF
    rows = [("base", base)]
    import itertools

    flips = {
        "d5": [0, 17, 34, 51, 60],
        "d6": [1, 18, 35, 52, 5, 22],
        "d7": [2, 19, 36, 53, 6, 23, 40],
    }
    for name, bits in flips.items():
        v = base
        for b in bits:
            v ^= 1 << b
        rows.append((name, v))
    far = base ^ sum(1 << b for b in range(0, 40, 2))  # d=20
    rows.append(("far", far))
    df = spark.createDataFrame(
        [(n, int(np.int64(np.uint64(v)))) for n, v in rows], "doc_id string, simhash long"
    )
    out = dedup.simhash_near_pairs(df, max_hamming=7, n_chunks=8)
    got = {tuple(sorted((r["id_a"], r["id_b"]))): r["hamming"] for r in out.collect()}
    assert got[("base", "d5")] == 5
    assert got[("base", "d6")] == 6
    assert got[("base", "d7")] == 7
    assert not any("far" in p for p in got)
    # sanity: the planted flips spread across all 4 16-bit chunks, so the
    # round-1 4-chunk scheme would have MISSED these pairs entirely
    for name, bits in flips.items():
        assert len({b // 16 for b in bits}) == 4


def test_spark_xxhash64_python_reimpl_parity(spark):
    from rust_timeseries_spark.functions.xxh64 import spark_xxhash64

    df = spark.createDataFrame(
        [("",), ("a",), ("hello world",), ("ünïcødé tøkens",), ("x" * 100,)], "s string"
    )
    rows = df.select(
        "s", F.xxhash64("s").alias("h"), F.xxhash64("s", F.lit(46)).alias("h46")
    ).collect()
    for r in rows:
        assert r["h"] == spark_xxhash64(r["s"])
        assert r["h46"] == spark_xxhash64(r["s"], 46)


def test_embedding_near_dup_and_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir).limit(60)
    qs = emb.limit(5)
    exact = similarity.cosine_topk_bruteforce(emb, qs, k=3)
    rows = exact.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        cosines = [r["cosine"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.0001 <= c <= 1.0001 for c in cosines)


def test_lsh_topk_recall_on_clustered_vectors(spark):
    # planted clusters: 30 centers × 10 noisy copies — neighbors are
    # genuinely close, the regime LSH is built for
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((30, 32))
    rows = []
    vid = 0
    for c in centers:
        for _ in range(10):
            v = c + 0.15 * rng.standard_normal(32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.where(F.col("vec_id") % 10 == 0).limit(10)
    exact = similarity.cosine_topk_bruteforce(df, qs, k=5).collect()
    approx = similarity.cosine_topk_lsh(df, qs, k=5, n_bits=8, n_tables=8).collect()
    exact_set = {(r["query_id"], r["corpus_id"]) for r in exact}
    approx_set = {(r["query_id"], r["corpus_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.9, recall


def test_lsh_mechanics_on_random_vectors(spark, sf_dir):
    # uncorrelated vectors: just verify plumbing (each query produces
    # ≤ k ranked candidates with valid cosines)
    emb = _emb(spark, sf_dir)
    qs = emb.limit(4)
    approx = similarity.cosine_topk_lsh(emb, qs, k=5, n_bits=4, n_tables=4).collect()
    assert approx
    for r in approx:
        assert 1 <= r["rank"] <= 5
        assert -1.0001 <= r["cosine"] <= 1.0001


def test_embedding_near_dup_ungrouped_has_no_cartesian_plan(spark):
    # ungrouped near-dup must route through sign-LSH buckets: the plan
    # may not contain a CartesianProduct / BroadcastNestedLoopJoin, and
    # on planted near-identical vectors it must match the exact
    # (opt-in) full-pairs result.
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((12, 16))
    rows = []
    vid = 0
    for c in centers:
        for _ in range(3):  # 3 near-copies per center → near-dup pairs inside clusters
            v = c + 0.01 * rng.standard_normal(16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    guarded = dedup.embedding_near_dup_pairs(df, threshold=0.98, dim=16)
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    exact = dedup.embedding_near_dup_pairs(df, threshold=0.98, allow_full_pairs=True)
    got = {(r["id_a"], r["id_b"]) for r in guarded.collect()}
    want = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert want, "fixture must plant at least one near-dup pair"
    assert got == want


def test_image_codec_roundtrip():
    # decode∘encode = identity for both containers, odd widths included
    # (BMP row padding) — pure numpy, no Spark
    rng = np.random.default_rng(3)
    for h, w in [(1, 1), (5, 7), (33, 31), (64, 50)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(multimodal.decode_image(multimodal.encode_bmp(img)), img), (h, w)
        assert np.array_equal(multimodal.decode_image(multimodal.encode_ppm(img)), img), (h, w)
    import pytest
    with pytest.raises(ValueError, match="unknown image container"):
        multimodal.decode_image(b"GIF89a....")


def test_image_codec_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        h=st.integers(min_value=1, max_value=24),
        w=st.integers(min_value=1, max_value=24),
        seed=st.integers(min_value=0, max_value=2 ** 31 - 1),
    )
    def roundtrip(h, w, seed):
        img = np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(multimodal.decode_image(multimodal.encode_bmp(img)), img)
        assert np.array_equal(multimodal.decode_image(multimodal.encode_ppm(img)), img)

    roundtrip()


def test_audio_codec_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=500),
        ch=st.integers(min_value=1, max_value=2),
        rate=st.sampled_from([8000, 16000, 44100]),
        seed=st.integers(min_value=0, max_value=2 ** 31 - 1),
    )
    def roundtrip(n, ch, rate, seed):
        s = np.random.default_rng(seed).integers(
            -(2 ** 15), 2 ** 15, size=(n, ch)
        ).astype(np.int16)
        wave, got_rate = multimodal.decode_audio(multimodal.encode_wav(s, rate))
        assert got_rate == rate
        assert np.array_equal(wave, s)

    roundtrip()


def test_audio_codec_roundtrip():
    rng = np.random.default_rng(4)
    mono = rng.integers(-(2 ** 15), 2 ** 15, size=1000).astype(np.int16)
    wave, rate = multimodal.decode_audio(multimodal.encode_wav(mono, 8000))
    assert rate == 8000 and wave.shape == (1000, 1)
    assert np.array_equal(wave[:, 0], mono)
    stereo = rng.integers(-(2 ** 15), 2 ** 15, size=(500, 2)).astype(np.int16)
    wave2, _ = multimodal.decode_audio(multimodal.encode_wav(stereo, 44100))
    assert np.array_equal(wave2, stereo)


def test_multimodal_image_features_real_decode(spark):
    media = multimodal.synthetic_media_table(spark, 20)
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = {r["media_id"]: r for r in multimodal.image_features(media, resize_to=4).collect()}
    assert len(feats) == 20
    for mid in range(20):
        w, h = multimodal.media_dims(mid)
        img = multimodal.media_pixel_formula(mid, h, w)
        small = img[np.ix_(multimodal.resize_grid(h, 4), multimodal.resize_grid(w, 4))]
        expect = small.astype(np.float64).mean(axis=(0, 1))
        r = feats[f"media-{mid:08d}"]
        assert (r["width"], r["height"]) == (w, h)
        assert np.allclose(r["feat"], expect, rtol=0, atol=0), mid  # exact
    plan = multimodal.frame_sample_plan(media, every_n=100)
    assert plan.count() == 20 * 3  # default 300-frame clips sampled every 100


def test_multimodal_audio_features_real_decode(spark):
    audio = multimodal.synthetic_audio_table(spark, 9, sample_rate=8000)
    feats = {r["media_id"]: r for r in multimodal.audio_features(audio).collect()}
    assert len(feats) == 9
    for mid in range(9):
        n = 8000 * (1 + mid % 3)
        wave = multimodal.audio_wave_formula(mid, n).astype(np.int64)
        r = feats[f"audio-{mid:08d}"]
        assert r["n_samples"] == n
        assert r["duration_s"] == n / 8000
        assert r["rms"] == float(np.sqrt(int((wave * wave).sum()) / n))
        assert r["zero_crossings"] == int(((wave[:-1] >= 0) != (wave[1:] >= 0)).sum())


def test_minhash_signature_deterministic(spark, sf_dir):
    d = _docs(spark, sf_dir).limit(20)
    s1 = {r["doc_id"]: r["minhash"] for r in dedup.minhash_signatures(d).collect()}
    s2 = {r["doc_id"]: r["minhash"] for r in dedup.minhash_signatures(d).collect()}
    assert s1 == s2


def test_sci_formatting_java_vs_duckdb_on_fixture_values(spark):
    # Tripwire for the latent %.5e risk (VERDICT r2 "What's wrong #4"):
    # Spark renders via Java Formatter (HALF_UP on the decimal string),
    # DuckDB via C printf (round-to-nearest on the binary value). A
    # double whose 6th significant digit sits on an exact decimal tie
    # can format differently. This pins equality on the values the
    # oracle queries actually compare today — the real multimodal
    # fixture features plus representative statistic magnitudes — so a
    # future codec/fixture change that lands on a tie trips HERE first.
    import duckdb
    import pandas as pd

    from rust_timeseries_spark.operators import multimodal

    imgs = multimodal.image_features(
        multimodal.synthetic_media_table(spark, 60)
    ).select("feat").collect()
    vals = [float(v) for r in imgs for v in r["feat"]]
    auds = multimodal.audio_features(
        multimodal.synthetic_audio_table(spark, 12)
    ).select("rms").collect()
    vals += [float(r["rms"]) for r in auds]
    # representative magnitudes from the _sci-rendered statistic queries.
    # NOTE deliberately NOT included: decimal-tie values like 99999.95,
    # whose 6th significant digit is an exact tie — Java HALF_UP gives
    # 1.00000e+05 while C rounds the binary value (99999.9499…) to
    # 9.99999e+04. That divergence class is exactly what this tripwire
    # exists to catch if a fixture/codec change ever lands on one.
    vals += [1.0 / 3.0, 2.0 / 3.0e7, -4.56789e-12, 123456.49999]

    pdf = pd.DataFrame({"i": range(len(vals)), "x": vals})
    sdf = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    got = {
        r["i"]: r["s"]
        for r in sdf.select("i", F.format_string("%.5e", F.col("x")).alias("s")).collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    exp = {i: s for i, s in con.execute("SELECT i, printf('%.5e', x) FROM t").fetchall()}
    diffs = {i: (got[i], exp[i], vals[i]) for i in got if got[i] != exp[i]}
    assert not diffs, f"%.5e render divergence (Java vs C): {diffs}"


def test_avi_codec_roundtrip():
    # decode∘encode = identity for the uncompressed RIFF/AVI container,
    # odd widths included (DIB row padding) — pure numpy, no Spark
    rng = np.random.default_rng(17)
    for n, h, w in [(1, 1, 1), (3, 5, 7), (6, 31, 33), (9, 24, 50)]:
        frames = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
        back, fps = multimodal.decode_avi(multimodal.encode_avi_raw(frames, fps=24))
        assert fps == 24 and np.array_equal(back, frames), (n, h, w)
    import pytest
    with pytest.raises(ValueError, match="not an AVI"):
        multimodal.decode_avi(b"RIFF\x00\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        multimodal.encode_avi_raw(np.zeros((4, 4, 3), dtype=np.uint8))  # missing frame axis


def test_avi_decoder_rejects_corrupt_containers():
    # ADVICE r3: the RIFF walk must survive adversarial containers —
    # deep LIST nesting may not hit Python's recursion limit, and
    # oversized chunk-size fields must fail with the codec's own error
    import pytest
    import struct as _struct

    depth = 50_000  # far beyond the default recursion limit
    body = b""
    for _ in range(depth):
        body = b"LIST" + _struct.pack("<I", len(body) + 4) + b"xxxx" + body
    deep = b"RIFF" + _struct.pack("<I", len(body) + 4) + b"AVI " + body
    with pytest.raises(ValueError, match="no video frames"):
        multimodal.decode_avi(deep)  # must not RecursionError

    oversized = (
        b"RIFF" + _struct.pack("<I", 16) + b"AVI "
        + b"JUNK" + _struct.pack("<I", 2**31) + b"\x00" * 8
    )
    with pytest.raises(ValueError, match="corrupt AVI container"):
        multimodal.decode_avi(oversized)


def test_avi_codec_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(min_value=1, max_value=5),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=0, max_value=2**32 - 1),
    )
    def inner(n, h, w, seed):
        rng = np.random.default_rng(seed)
        frames = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
        back, fps = multimodal.decode_avi(multimodal.encode_avi_raw(frames, fps=30))
        assert fps == 30 and np.array_equal(back, frames)

    inner()


def test_multimodal_video_features_real_decode(spark):
    # the Spark-side pipeline decodes REAL AVI payloads; features must
    # equal a direct numpy recompute from the closed-form frame formula
    vids = multimodal.synthetic_video_table(spark, 18)
    rows = {r["media_id"]: r
            for r in multimodal.video_features(vids, every_n=2, resize_to=8).collect()}
    assert len(rows) == 18
    for mid in [0, 5, 17]:
        w, h, nf = multimodal.video_dims(mid)
        r = rows[f"video-{mid:08d}"]
        assert (r["width"], r["height"], r["n_frames"]) == (w, h, nf)
        idx = np.arange(0, nf, 2)
        assert r["n_sampled"] == len(idx)
        frames = np.stack(
            [multimodal.video_pixel_formula(mid, t, h, w) for t in range(nf)]
        )
        small = frames[np.ix_(idx, multimodal.resize_grid(h, 8), multimodal.resize_grid(w, 8))]
        expect = small.astype(np.float64).mean(axis=(0, 1, 2))
        assert np.array_equal(np.array(r["feat"]), expect)


def test_ivf_probe_all_equals_bruteforce(spark, sf_dir):
    emb = _emb(spark, sf_dir).limit(300)
    qs = emb.where("vec_id < 6")
    bf = sorted(
        (r["query_id"], r["rank"], r["corpus_id"], r["cosine"])
        for r in similarity.cosine_topk_bruteforce(emb, qs, k=4).collect()
    )
    ivf = sorted(
        (r["query_id"], r["rank"], r["corpus_id"], r["cosine"])
        for r in similarity.cosine_topk_ivf(emb, qs, k=4, n_cells=6, nprobe=6).collect()
    )
    assert bf == ivf  # probing every cell degenerates to exact search


def test_ivf_recall_on_clustered_vectors(spark):
    # planted clusters: IVF with a small probe budget must recover the
    # within-cluster neighbors (the realistic embedding geometry — the
    # quantizer aligns cells with clusters)
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((8, 24)) * 4.0
    rows, vid = [], 0
    for c in centers:
        for _ in range(12):
            rows.append((vid, [float(x) for x in c + 0.05 * rng.standard_normal(24)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.where(F.col("vec_id") % 12 == 0)  # one query per cluster
    bf = {(r["query_id"], r["corpus_id"]) for r in
          similarity.cosine_topk_bruteforce(df, qs, k=5).collect()}
    ivf = {(r["query_id"], r["corpus_id"]) for r in
           similarity.cosine_topk_ivf(df, qs, k=5, n_cells=8, nprobe=2).collect()}
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.9, f"IVF recall {recall} below 0.9 on planted clusters"


def test_ivf_centroids_deterministic(spark, sf_dir):
    emb = _emb(spark, sf_dir).limit(200)
    a = similarity.train_ivf_centroids(emb, n_cells=4, dim=similarity.infer_dim(emb))
    b = similarity.train_ivf_centroids(emb, n_cells=4, dim=similarity.infer_dim(emb))
    assert np.array_equal(a, b)
    assert a.shape == (4, similarity.infer_dim(emb))
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0)


def test_decimal_cents_tripwire(spark, sf_dir):
    # VERDICT r4 "What's wrong #1": a per-row double -> DECIMAL(18,2)
    # cast is engine-version-sensitive (Spark BigDecimal HALF_UP on the
    # exact binary expansion vs DuckDB's own double->decimal path) —
    # sf0.01 o_totalprice has ~1e3 values within 3e-8 of a half-cent
    # midpoint, and the r4 driver flipped at least one cent. Currency
    # therefore uses the pinned integer-cents convention
    # floor(x*100 + 0.5): every op is IEEE-754 double arithmetic both
    # engines execute bit-identically. This tripwire (a) pins the
    # Spark-vs-DuckDB cents equality on adversarial midpoint-adjacent
    # doubles AND the real testdata currency columns, and (b) scans the
    # query/oracle sources for any reintroduced per-row decimal cast.
    import math
    import re

    import duckdb
    import pandas as pd

    # (a) adversarial values: exact .xx5 midpoints and +/- a few ulps
    vals = []
    for base in [0.005, 12.345, 266109.965, 99999.995, 1234567.115]:
        for k in range(-3, 4):
            v = base
            for _ in range(abs(k)):
                v = math.nextafter(v, math.inf if k > 0 else -math.inf)
            vals.append(v)
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_totalprice"])
    off_grid = orders["o_totalprice"][
        (orders["o_totalprice"] * 100) % 1 != 0
    ].head(500)
    vals += [float(v) for v in off_grid]
    assert len(off_grid) > 0, "testdata lost its off-grid values; hazard gone?"

    pdf = pd.DataFrame({"i": range(len(vals)), "x": vals})
    got = {
        r["i"]: r["c"]
        for r in spark.createDataFrame(pdf)
        .select("i", F.floor(F.col("x") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("c"))
        .collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    exp = dict(con.execute(
        "SELECT i, CAST(floor(x * 100 + 0.5) AS BIGINT) FROM t"
    ).fetchall())
    diffs = {i: (got[i], exp[i], vals[i]) for i in got if got[i] != exp[i]}
    assert not diffs, f"cents convention diverged between engines: {diffs}"

    # (b) source scan: no per-row double->DECIMAL cast may come back.
    # Allowed DECIMAL appearances: casts of an already-exact BIGINT cents
    # sum (the convention itself) and prose/docstrings.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(os.path.join(root, "__spark_entry__.py")).read()
    src += open(os.path.join(root, "oracle_frozen.py")).read()
    banned = [
        r'cast\("decimal\(18',            # Spark per-row currency cast
        r'AS\s+DECIMAL\(18',              # SQL per-row currency cast
        r'_totalprice\s+AS\s+DECIMAL',    # any direct double column cast
        r'_extendedprice\s+AS\s+DECIMAL',
    ]
    hits = [p for p in banned if re.search(p, src, flags=re.IGNORECASE)]
    assert not hits, f"per-row double->DECIMAL cast reintroduced: {hits}"


def test_jpeg_roundtrip_bounds():
    # generic content through the baseline JFIF codec: decode(encode(x))
    # must stay within the unit-quant error budget (DCT/coefficient
    # rounding + BT.601 round trip); grayscale skips the color transform
    # and tightens to ±1
    from rust_timeseries_spark.operators import jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(37, 45, 3), dtype=np.uint8)
    back = jpeg.decode_jpeg(jpeg.encode_jpeg(img))
    diff = np.abs(back.astype(int) - img.astype(int))
    assert diff.max() <= 4 and diff.mean() < 1.0, (diff.max(), diff.mean())

    g = rng.integers(0, 256, size=(24, 31), dtype=np.uint8)
    backg = jpeg.decode_jpeg(jpeg.encode_jpeg(g))
    assert np.abs(backg.astype(int) - np.stack([g, g, g], 2).astype(int)).max() <= 1

    # determinism
    assert jpeg.encode_jpeg(img) == jpeg.encode_jpeg(img)

    # real compression on smooth (block-structured) content
    smooth = (np.arange(64)[:, None] // 8 * 16 + np.zeros((1, 64), int)).astype(np.uint8)
    enc = jpeg.encode_jpeg(np.stack([smooth] * 3, 2))
    assert len(enc) < 64 * 64 * 3 / 10, len(enc)


def test_jpeg_block_constant_gray_bit_exact():
    # the losslessness contract the MJPEG driver gate's closed-form
    # oracle rests on: gray + per-8x8-block-constant + unit quant
    # decodes back BIT-exactly (jpeg.py docstring derivation)
    from rust_timeseries_spark.operators import jpeg, multimodal

    for mid in range(10):
        w, h, nf = multimodal.mjpeg_video_dims(mid)
        for t in range(0, nf, 2):
            rgb = multimodal.mjpeg_block_formula(mid, t, h, w)
            assert np.array_equal(jpeg.decode_jpeg(jpeg.encode_jpeg(rgb)), rgb), (mid, t)


def test_jpeg_rejects_unsupported_and_corrupt():
    import pytest

    from rust_timeseries_spark.operators import jpeg

    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg.decode_jpeg(b"\x89PNG\r\n")
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    enc = bytearray(jpeg.encode_jpeg(img))
    # flip SOF0 (0xC0) to progressive (0xC2): must refuse, not misparse
    sof = enc.find(b"\xff\xc0")
    enc[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        jpeg.decode_jpeg(bytes(enc))
    # truncated entropy segment
    good = jpeg.encode_jpeg(img)
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(good[: len(good) - 4] )
    # 16-bit samples / wrong dtype at encode
    with pytest.raises(ValueError):
        jpeg.encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint16))


def test_mjpeg_avi_roundtrip():
    import pytest

    from rust_timeseries_spark.operators import multimodal

    frames = np.stack(
        [multimodal.mjpeg_block_formula(3, t, 24, 32) for t in range(5)]
    )
    payload = multimodal.encode_avi_mjpeg(frames, fps=24)
    back, fps = multimodal.decode_avi(payload)
    assert fps == 24 and np.array_equal(back, frames)
    # compressed: smaller than the raw DIB container
    raw = multimodal.encode_avi_raw(frames, fps=24)
    assert len(payload) < len(raw) / 3, (len(payload), len(raw))
    # unknown compression fourcc must fail loudly, not misdecode
    bad = payload.replace(b"MJPG", b"H264", 2)  # strh handler + strf fourcc
    with pytest.raises(ValueError, match="compression"):
        multimodal.decode_avi(bad)


def test_jpeg_eoi_before_sos_raises():
    # review r5: a stream with headers + EOI but no SOS must raise, not
    # decode to a solid-gray frame
    import pytest

    from rust_timeseries_spark.operators import jpeg

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    enc = jpeg.encode_jpeg(img)
    sos = enc.find(b"\xff\xda")
    headless = enc[:sos] + b"\xff\xd9"
    with pytest.raises(ValueError, match="scan not found"):
        jpeg.decode_jpeg(headless)


def test_stable_split_and_sample(spark, sf_dir):
    from rust_timeseries_spark.operators import sampling

    d = _docs(spark, sf_dir)
    s = sampling.stable_split(d, id_col="doc_id")
    counts = {r["split"]: r["n"] for r in s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = sum(counts.values())
    assert set(counts) <= {"train", "val", "test"} and counts["train"] > counts["val"]
    # ~80/10/10 within loose tolerance at 500 docs
    assert 0.6 < counts["train"] / n < 0.95

    # STABILITY: assignments are a pure function of the id — a subset
    # corpus assigns identically (randomSplit does not survive this)
    sub = sampling.stable_split(d.limit(100), id_col="doc_id")
    full = {r["doc_id"]: r["split"] for r in s.collect()}
    for r in sub.collect():
        assert full[r["doc_id"]] == r["split"]

    kept = sampling.stable_sample(d, 0.25, id_col="doc_id").count()
    assert 0.15 * d.count() < kept < 0.35 * d.count()
    import pytest
    with pytest.raises(ValueError):
        sampling.stable_sample(d, 1.5)

    # xxh variant: same contract for composite keys
    sx = sampling.stable_split_xxh(d, ["doc_id", "source"])
    cx = {r["split"]: r["n"] for r in sx.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(cx.values()) == n


def test_pack_sequences_vs_bruteforce(spark):
    from rust_timeseries_spark.operators import sampling

    rng = np.random.default_rng(9)
    rows = [(int(i * 7 + 3), int(t)) for i, t in enumerate(rng.integers(1, 700, 500))]
    rows.append((9999, 5000))  # longer than any budget: its own bin
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = sampling.pack_sequences(df, max_tokens=1024, n_shards=4).collect()

    # reference packing per shard in plain python
    K, M = 2654435761, 1 << 32

    def h32(did):
        return (((did % (1 << 31)) ^ (did >> 31)) * K) % M

    by_shard: dict[int, list[tuple[int, int]]] = {}
    for did, t in rows:
        by_shard.setdefault(h32(did) % 4, []).append((did, t))
    exp: dict[int, int] = {}
    for shard, docs in by_shard.items():
        b, acc = 0, 0
        for did, t in sorted(docs):
            if acc > 0 and acc + t > 1024:
                b, acc = b + 1, 0
            exp[did] = b
            acc += t
    got = {r["doc_id"]: (r["shard"], r["bin_id"]) for r in out}
    for did, t in rows:
        assert got[did] == (h32(did) % 4, exp[did]), did

    # bins respect the budget except single-oversize docs
    from collections import defaultdict
    tot = defaultdict(int)
    cnt = defaultdict(int)
    toks = dict(rows)
    for r in out:
        tot[(r["shard"], r["bin_id"])] += toks[r["doc_id"]]
        cnt[(r["shard"], r["bin_id"])] += 1
    for k, s in tot.items():
        assert s <= 1024 or cnt[k] == 1, (k, s)


def test_mixture_sample_vs_bruteforce(spark):
    import random

    from rust_timeseries_spark.operators import sampling

    rng = random.Random(11)
    rows = [(i, f"g{i % 3}", rng.randint(5, 40)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string, n_tokens: long")
    budgets = spark.createDataFrame(
        [("g0", 200), ("g1", 450), ("g2", 100_000)],
        "source: string, token_budget: long",
    )
    out = sampling.mixture_sample(df, budgets).collect()

    # brute force: same hash, same greedy prefix rule
    def h32(i):
        return (((i % 2**31) ^ (i // 2**31)) * 2654435761) % 2**32

    expect = {}
    for grp, bud in (("g0", 200), ("g1", 450), ("g2", 100_000)):
        cum = 0
        for i, g, t in sorted(rows, key=lambda r: (h32(r[0]), r[0])):
            if g != grp:
                continue
            if cum < bud:
                expect[i] = cum + t
            cum += t
    assert {r["doc_id"]: r["cum_tokens"] for r in out} == expect
    # a group whose corpus is under budget is taken whole
    assert sum(1 for r in out if r["source"] == "g2") == sum(
        1 for _, g, _ in rows if g == "g2"
    )
    # every kept doc STARTED under budget: cum_before < budget
    for r in out:
        bud = {"g0": 200, "g1": 450, "g2": 100_000}[r["source"]]
        assert r["cum_tokens"] - [t for i, g, t in rows if i == r["doc_id"]][0] < bud


def test_incremental_jaccard_pairs_matches_full_join(spark, sf_dir):
    """Delta-vs-corpus incremental dedup must produce EXACTLY the full
    threshold-join pair set restricted to pairs touching delta —
    pruning (prefix filter + delta-side probe) is lossless."""
    from rust_timeseries_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    h = F.pmod(sampling.stable_hash32("doc_id"), F.lit(10))
    delta = docs.where(h == 7)
    corpus = docs.where(h != 7)
    got = sorted(
        (r["id_a"], r["id_b"], r["inter"], r["union_sz"])
        for r in dedup.incremental_jaccard_pairs(corpus, delta, threshold=0.5).collect()
    )
    dset = {r["doc_id"] for r in delta.select("doc_id").collect()}
    full = dedup.ngram_jaccard_threshold_pairs(docs, threshold=0.5, shingle_k=3)
    want = sorted(
        (r["id_a"], r["id_b"], r["inter"], r["union_sz"])
        for r in full.collect()
        if r["id_a"] in dset or r["id_b"] in dset
    )
    assert got == want and len(want) > 0


def test_incremental_jaccard_validates_threshold(spark):
    from pyspark.sql import Row
    d = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    with pytest.raises(ValueError):
        dedup.incremental_jaccard_pairs(d, d, threshold=0.0)


def test_jsonl_roundtrip_and_corrupt_capture(spark, tmp_path):
    """JSONL write→read is lossless for JSON-hostile characters, and a
    malformed line lands in _corrupt_record instead of failing the
    scan (PERMISSIVE contract)."""
    from rust_timeseries_spark.sources import jsonl as J

    rows = [
        (1, 'plain text', 'en', 's0', 10),
        (2, 'quote " backslash \\ newline \n tab \t end', 'en', 's0', 20),
        (3, 'unicode é中文 and // braces {}', 'de', 's1', 30),
    ]
    df = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    )
    out = str(tmp_path / "docs")
    J.write_jsonl(df, out)
    back = J.read_jsonl(spark, out, J.DOCUMENT_SCHEMA)
    got = {r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"])
           for r in back.collect()}
    assert got == {i: (t, l, s, n) for i, t, l, s, n in rows}

    # corrupt line: a separate malformed file in the same directory
    # (appending to a part file would break Hadoop's local .crc sidecar)
    with open(out + "/zz-corrupt.json", "w") as f:
        f.write('{"doc_id": broken\n')
    back2 = J.read_jsonl(spark, out, J.DOCUMENT_SCHEMA)
    agg = back2.agg(
        F.count("doc_id").alias("n_ok"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)).alias("n_bad"),
    ).collect()[0]
    assert agg["n_bad"] == 1 and agg["n_ok"] == 3


def test_stratified_sample_n_exactness_and_stability(spark, sf_dir):
    """Exactly min(n, |group|) per group; the n=5 sample is a strict
    subset of the n=10 sample (rank-prefix property — growing n never
    reshuffles what was already sampled)."""
    from rust_timeseries_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    s10 = sampling.stratified_sample_n(docs, 10, keys=["source"])
    s5 = sampling.stratified_sample_n(docs, 5, keys=["source"])
    c10 = {r["source"]: r["cnt"] for r in
           s10.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    sizes = {r["source"]: r["cnt"] for r in
             docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert c10 == {s: min(10, c) for s, c in sizes.items()}
    ids5 = {r["doc_id"] for r in s5.select("doc_id").collect()}
    ids10 = {r["doc_id"] for r in s10.select("doc_id").collect()}
    assert ids5 <= ids10 and len(ids5) == sum(min(5, c) for c in sizes.values())
    with pytest.raises(ValueError):
        sampling.stratified_sample_n(docs, 0)


def test_url_parts_fixtures(spark):
    from rust_timeseries_spark.operators import urlops

    rows = [
        (1, "https://www.example.com/a/b/c"),
        (2, "http://user@img.news.co:8080/x?q=1#f"),
        (3, "ftp://single/"),
        (4, "https://a.b.c.d.example.org"),
        (5, "nos cheme plain text"),
        (6, "http://host.com/a//b/"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, url: string")
    got = {r["doc_id"]: (r["scheme"], r["host"], r["reg_domain"], r["path"], r["path_depth"])
           for r in urlops.with_url_parts(df).collect()}
    assert got[1] == ("https", "www.example.com", "example.com", "/a/b/c", 3)
    # user@ and :port stripped; query/fragment stripped from path
    assert got[2] == ("http", "img.news.co", "news.co", "/x", 1)
    # single-label host is its own registered domain
    assert got[3] == ("ftp", "single", "single", "/", 0)
    # deep subdomain chain -> last two labels
    assert got[4] == ("https", "a.b.c.d.example.org", "example.org", "", 0)
    # no scheme: scheme '' and the text is treated as authority-less junk
    assert got[5][0] == ""
    # empty segments from '//' and trailing '/' are not counted
    assert got[6] == ("http", "host.com", "host.com", "/a//b/", 2)


# ---------------------------------------------------------------------------
# line dedup / duplicated spans / distributed k-means / weighted sampling
# ---------------------------------------------------------------------------

def test_line_dedup_drops_later_copies_and_rebuilds(spark):
    # doc 0 owns chunk A; doc 1 repeats A then has its own B; doc 2 is
    # an exact copy of doc 0 and must come back empty
    a = "a b c d e f g h"
    b = "p q r s t u v w"
    rows = [(0, a), (1, a + " " + b), (2, a)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.line_dedup(df, chunk_words=8).collect()}
    assert out[0]["n_chunks"] == 1 and out[0]["n_kept"] == 1
    assert out[0]["text_dedup"] == a
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["text_dedup"] == b
    assert out[2]["n_kept"] == 0 and out[2]["text_dedup"] == ""


def test_line_dedup_keeps_each_chunk_exactly_once(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = dedup.line_dedup(docs, chunk_words=8)
    total_kept = out.agg(F.sum("n_kept")).collect()[0][0]
    distinct_chunks = (
        docs.select(F.explode(dedup.chunk_col("text", 8)).alias("c"))
        .select(F.countDistinct("c"))
        .collect()[0][0]
    )
    assert total_kept == distinct_chunks
    # within-doc order: rebuilt text is a subsequence of the original chunks
    row = out.where((F.col("n_kept") > 1) & (F.col("n_kept") == F.col("n_chunks"))).first()
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert row["text_dedup"] == orig[row["doc_id"]]


def test_dup_span_interval_union(spark):
    # doc 0 and doc 1 share ONE 8-gram at doc-1 positions 0 and 2 (the
    # 8-gram repeats, shifted by 2) -> union of [0,8) and [2,10) = 10
    shared = "a b c d e f g h"
    rows = [
        (0, shared + " z1 z2"),          # dup start at pos 0 only: covered 8
        (1, "a b " + shared + " i j"),   # doc1 grams: pos0 'a b a b c d e f'? no —
        (2, "x1 x2 x3 x4 x5 x6 x7"),     # 7 tokens: below k, zero rows
    ]
    # build doc1 so the shared gram occurs at two overlapping starts:
    rows[1] = (1, shared + " " + "a b c d e f g h".replace("a ", "", 1))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.dup_span_stats(df, ngram_k=8).collect()}
    assert out[0]["n_dup_starts"] >= 1 and out[0]["covered_tokens"] >= 8
    assert out[2]["n_dup_starts"] == 0 and out[2]["covered_tokens"] == 0
    # covered never exceeds n_tokens
    assert all(r["covered_tokens"] <= r["n_tokens"] for r in out.values())


def test_dup_span_overlapping_starts_union_exactly(spark):
    # two docs, identical 10-token text: every one of the 3 8-gram
    # starts is duplicated; union of [0,8),[1,9),[2,10) = 10 tokens
    t = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    df = spark.createDataFrame([(0, t), (1, t)], ["doc_id", "text"])
    out = dedup.dup_span_stats(df, ngram_k=8).collect()
    for r in out:
        assert r["n_tokens"] == 10
        assert r["n_dup_starts"] == 3
        assert r["covered_tokens"] == 10


def test_kmeans_k1_is_global_mean(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    assigned, cents = similarity.kmeans_lloyd(emb, k=1, n_iters=2)
    x = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()])
    np.testing.assert_allclose(cents[0], x.mean(axis=0), rtol=1e-12)
    got = assigned.agg(F.sum("sq_dist")).collect()[0][0]
    want = ((x - x.mean(axis=0)) ** 2).sum()
    np.testing.assert_allclose(got, want, rtol=1e-9)


def test_kmeans_objective_non_increasing_and_stable(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    inert = []
    for it in (1, 2, 3):
        assigned, _ = similarity.kmeans_lloyd(emb, k=4, n_iters=it)
        inert.append(assigned.agg(F.sum("sq_dist")).collect()[0][0])
    assert inert[1] <= inert[0] + 1e-9 and inert[2] <= inert[1] + 1e-9
    # partitioning-independence: same assignments on a repartitioned input
    a1, _ = similarity.kmeans_lloyd(emb, k=4, n_iters=2)
    a2, _ = similarity.kmeans_lloyd(emb.repartition(7), k=4, n_iters=2)
    m1 = {r["vec_id"]: r["cluster"] for r in a1.collect()}
    m2 = {r["vec_id"]: r["cluster"] for r in a2.collect()}
    assert m1 == m2


def test_kmeans_validation():
    with pytest.raises(ValueError, match="k and n_iters"):
        similarity.kmeans_lloyd(None, k=0)
    with pytest.raises(ValueError, match="k and n_iters"):
        similarity.kmeans_lloyd(None, k=2, n_iters=0)


def test_weighted_sample_determinism_and_weight_pull(spark, sf_dir):
    from rust_timeseries_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    s1 = sampling.weighted_sample_n(docs, n=7, weight_col="n_chars", keys=["source"])
    s2 = sampling.weighted_sample_n(
        docs.repartition(11), n=7, weight_col="n_chars", keys=["source"]
    )
    k1 = {(r["source"], r["doc_id"], r["samp_rank"]) for r in s1.collect()}
    k2 = {(r["source"], r["doc_id"], r["samp_rank"]) for r in s2.collect()}
    assert k1 == k2 and len(k1) > 0
    # a giant weight forces inclusion at rank 1: key = ln(u)/w -> ~0-
    big = docs.withColumn(
        "w", F.when(F.col("doc_id") == 3, 1e12).otherwise(F.lit(1.0))
    )
    top = sampling.weighted_sample_n(big, n=1, weight_col="w")
    assert top.collect()[0]["doc_id"] == 3


def test_weighted_sample_small_groups_and_validation(spark):
    from rust_timeseries_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0)], ["doc_id", "g", "w"]
    )
    out = sampling.weighted_sample_n(df, n=5, weight_col="w", keys=["g"])
    assert out.count() == 3  # n > group size returns the whole group
    with pytest.raises(ValueError, match="n must be"):
        sampling.weighted_sample_n(df, n=0, weight_col="w")


def test_misra_gries_guarantee_and_bound():
    import pandas as pd
    from rust_timeseries_spark.operators import heavyhitters as hh

    rng = np.random.default_rng(3)
    noise = [f"x{int(i)}" for i in rng.integers(0, 100000, size=20000)]
    data = pd.Series(noise + ["HEAVY"] * 3000)  # freq 3000 > 23000/(64+1)
    counters = hh.misra_gries(data, 64)
    assert len(counters) <= 64
    assert "HEAVY" in counters
    # undercount bound: true_count - counter <= N/(k+1)
    assert 3000 - counters["HEAVY"] <= len(data) / 65


def test_heavy_hitters_exact_matches_groupby(spark):
    import pyspark.sql.functions as F
    from rust_timeseries_spark.operators import heavyhitters as hh

    rng = np.random.default_rng(9)
    vals = [f"n{int(i)}" for i in rng.integers(0, 5000, size=30000)]
    vals += ["A"] * 2000 + ["B"] * 1500 + ["C"] * 1200
    df = spark.createDataFrame([(v,) for v in vals], ["w"]).repartition(8)
    got = hh.heavy_hitters_exact(df, "w", top_n=3, k_counters=64).collect()
    exact = (
        df.groupBy("w").count().orderBy(F.desc("count"), F.asc("w")).limit(3).collect()
    )
    assert [(r["value"], r["n"]) for r in got] == [(r["w"], r["count"]) for r in exact]
    assert all(r["guaranteed"] for r in got)  # 1200 > 34700/65


def test_heavy_hitters_recount_join_not_forced_broadcast(spark):
    # The candidate set is bounded only by k_counters x partitions, so
    # the recount semi-join must not force a broadcast: with AQE
    # auto-broadcast disabled no BroadcastExchange may remain, and the
    # result must still equal the groupBy recount.
    import pyspark.sql.functions as F
    from rust_timeseries_spark.operators import heavyhitters as hh

    rng = np.random.default_rng(19)
    vals = [f"n{int(i)}" for i in rng.integers(0, 500, size=4000)]
    vals += ["A"] * 400 + ["B"] * 300 + ["C"] * 250
    df = spark.createDataFrame([(v,) for v in vals], ["w"]).repartition(4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = hh.heavy_hitters_exact(df, "w", top_n=3, k_counters=32)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        got = out.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    exact = df.groupBy("w").count().orderBy(F.desc("count"), F.asc("w")).limit(3).collect()
    assert [(r["value"], r["n"]) for r in got] == [(r["w"], r["count"]) for r in exact]
    assert all(r["guaranteed"] for r in got)  # 250 > 4950/33


def test_heavy_hitters_validation():
    from rust_timeseries_spark.operators import heavyhitters as hh

    with pytest.raises(ValueError, match="k_counters"):
        hh.heavy_hitters_exact(None, "w", top_n=10, k_counters=5)


def test_referential_audit_orphans_and_nulls(spark):
    from rust_timeseries_spark.operators import audit

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], ["id", "fk"]
    )
    parent = spark.createDataFrame([(10,), (20,)], ["pk"])
    out = {r["check"]: r for r in audit.referential_audit(
        [("c_vs_p", child, parent, "fk", "pk")]).collect()}
    # fk=99 (missing) and fk=NULL both count as orphans
    assert out["c_vs_p"]["n_orphans"] == 2
    assert out["c_vs_p"]["sample_key"] == "99"


def test_period_over_period_closed_form(spark):
    from rust_timeseries_spark.operators import rolling as rolling_ops

    df = spark.createDataFrame(
        [("k", 0, 100.0), ("k", 1, 150.0), ("k", 2, 75.0)],
        ["source", "bucket_ts", "tok_sum"],
    )
    rows = {r["bucket_ts"]: r for r in rolling_ops.period_over_period(
        df, "tok_sum", ["source"], "bucket_ts").collect()}
    assert rows[0]["prev_value"] is None and rows[0]["pct_change"] is None
    assert rows[1]["delta"] == 50.0 and rows[1]["pct_change"] == 0.5
    assert rows[2]["delta"] == -75.0 and rows[2]["pct_change"] == -0.5


def test_csv_roundtrip_hostile_and_multiline(spark, tmp_path):
    from rust_timeseries_spark.sources import csvsrc
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("txt", T.StringType()),
    ])
    rows = [(1, 'plain'), (2, 'has,comma'), (3, 'has"quote'), (4, 'back\\slash'),
            (5, 'tab\there')]
    df = spark.createDataFrame(rows, schema)
    p = str(tmp_path / "csv1")
    csvsrc.write_csv(df, p)
    back = csvsrc.read_csv(spark, p, schema)
    collected = back.collect()  # one pass: data cols + corrupt col
    got = {r["id"]: r["txt"] for r in collected}
    assert got == dict(rows)
    # (querying ONLY _corrupt_record is disallowed by Spark — always
    # project it alongside data columns)
    assert all(r["_corrupt_record"] is None for r in collected)
    # the multiLine escape hatch: embedded newline survives
    df2 = spark.createDataFrame([(9, 'line1\nline2')], schema)
    p2 = str(tmp_path / "csv2")
    csvsrc.write_csv(df2, p2)
    back2 = csvsrc.read_csv(spark, p2, schema, multiline=True)
    assert back2.collect()[0]["txt"] == 'line1\nline2'


def test_csv_corrupt_capture(spark, tmp_path):
    import os
    from rust_timeseries_spark.sources import csvsrc
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("n", T.LongType()),
    ])
    d = str(tmp_path / "bad")
    os.makedirs(d)
    with open(f"{d}/part.csv", "w") as f:
        f.write("id,n\n1,10\nnot_a_number,alpha\n3,30\n")
    back = csvsrc.read_csv(spark, d, schema)
    rows = back.collect()
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(bad) == 1 and bad[0]["_corrupt_record"] == "not_a_number,alpha"
    assert {r["id"] for r in rows if r["_corrupt_record"] is None} == {1, 3}


def test_sliding_distinct_counts(spark):
    import datetime
    from rust_timeseries_spark.operators import rollup as rollup_ops

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", base + datetime.timedelta(minutes=10), 1),
        ("a", base + datetime.timedelta(minutes=20), 1),   # same user
        ("a", base + datetime.timedelta(minutes=30), 2),
        ("a", base + datetime.timedelta(hours=5), 3),
    ]
    df = spark.createDataFrame(rows, ["source", "ts", "user_id"])
    out = {(r["source"], r["win_start"]): r["n_distinct"]
           for r in rollup_ops.sliding_distinct(
               df, id_col="user_id", window_len="3 hours", slide="1 hour",
               keys=["source"], ts_col="ts").collect()}
    h = 3600

    def ws(sec):
        import datetime as _dt
        return base + _dt.timedelta(seconds=sec)

    # the first three events live in hour-0; windows starting at -2h,
    # -1h, 0h all contain them -> 2 distinct users each
    assert out[("a", ws(-2 * h))] == 2
    assert out[("a", ws(0))] == 2
    # the hour-5 event: windows starting 3h,4h,5h contain only user 3
    assert out[("a", ws(5 * h))] == 1
    # no window mixes them (gap > window length)
    assert ("a", ws(2 * h)) not in out


def test_heavy_hitters_nulls_and_int_keys(spark):
    """Review r5s4 regressions: nulls are excluded from ranking AND
    from N (no silently-short guaranteed top-n), and non-string key
    columns keep their type."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T
    from rust_timeseries_spark.operators import heavyhitters as hh

    vals = [None] * 50 + ["hot"] * 30 + [f"x{i}" for i in range(40)]
    df = spark.createDataFrame([(v,) for v in vals], T.StructType(
        [T.StructField("w", T.StringType(), True)])).repartition(4)
    got = hh.heavy_hitters_exact(df, "w", top_n=2, k_counters=16).collect()
    assert [(r["value"], r["n"]) for r in got][0] == ("hot", 30)
    # the flag keys on the n-th (min) returned count: the 2nd item is a
    # singleton (1 < 70/17), so top-2 is NOT certified...
    assert got[0]["guaranteed"] is False
    # ...while top-1 is (30 > 70/17, with N = the non-null population)
    g1 = hh.heavy_hitters_exact(df, "w", top_n=1, k_counters=16).collect()[0]
    assert g1["guaranteed"] is True and g1["n"] == 30
    # int column: output value keeps bigint type
    di = spark.createDataFrame([(i % 3,) for i in range(300)], ["uid"]).repartition(4)
    gi = hh.heavy_hitters_exact(di, "uid", top_n=3, k_counters=8)
    assert dict(gi.dtypes)["value"] == "bigint"
    assert sorted(r["n"] for r in gi.collect()) == [100, 100, 100]


def test_weighted_sample_nonpositive_weights_ineligible(spark):
    from rust_timeseries_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 10.0), (2, 0.0), (3, -5.0), (4, 2.0)], ["doc_id", "w"]
    )
    out = sampling.weighted_sample_n(df, n=10, weight_col="w")
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 4}  # w<=0 rows are ineligible, job does NOT abort


def test_heavy_hitters_empty_summary_partition_still_counts_N(spark):
    """r6 (r5 advice): a partition whose Misra-Gries summary ends empty
    (MG([a,b], k=1) == {}) must still contribute its row total to N via
    the sentinel row, so the `guaranteed` threshold N/(k+1) does not
    shrink. Misra-Gries composition itself is unchanged."""
    from rust_timeseries_spark.operators import heavyhitters as hh

    # partition 0: ['a','b'] with k=1 cancels to {} (the empty-summary
    # case); partition 1: [hot, hot, x] -> {hot: 1}. True N = 5 so
    # thresh = 5/2 = 2.5 and the top count 2 must NOT certify; with the
    # empty partition's total lost, N = 3, thresh 1.5, and 2 > 1.5
    # would wrongly stamp guaranteed=True.
    rdd = spark.sparkContext.parallelize([("a",), ("b",)], 1).union(
        spark.sparkContext.parallelize([("hot",), ("hot",), ("x",)], 1)
    )
    df = spark.createDataFrame(rdd, ["w"])
    got = hh.heavy_hitters_exact(df, "w", top_n=1, k_counters=1).collect()[0]
    assert (got["value"], got["n"]) == ("hot", 2)
    assert got["guaranteed"] is False  # 2 > 5/2 is false with the true N


def test_heavy_hitters_recount_has_no_driver_literal(spark):
    """r6 (r5 verdict item 1): the exact-recount plan must attach
    candidates by semi-join, never a collect()-built IN literal."""
    from rust_timeseries_spark.operators import heavyhitters as hh

    df = spark.createDataFrame([(f"v{i % 7}",) for i in range(500)], ["w"]).repartition(4)
    out = hh.heavy_hitters_exact(df, "w", top_n=3, k_counters=32)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert " IN (" not in plan  # no collect()-built literal predicate
    rows = out.collect()
    assert rows[0]["n"] == 72  # 500 rows over 7 values: ceil spread

def test_weighted_sample_nan_weight_ineligible(spark):
    """r6 (r5 advice): NaN weights sort above every number under desc
    and previously displaced valid rows from the top-n."""
    from rust_timeseries_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 10.0), (2, float("nan")), (3, 2.0)], ["doc_id", "w"]
    )
    out = sampling.weighted_sample_n(df, n=2, weight_col="w")
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 3}
