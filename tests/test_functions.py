"""Tests for textstats / dedup / similarity / multimodal operators."""

import hashlib
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gondar_spark.functions.textstats import (
    with_fingerprints,
    with_lang_scores,
    with_quality_score,
    with_token_count,
)
from gondar_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from gondar_spark.operators.multimodal import (
    decode_image_real,
    extract_media_features,
    synthetic_media_df,
)
from gondar_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_per_probe,
    embedding_near_dup,
    ivf_topk,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


# ------------------------------------------------------------------ textstats
def test_token_count(spark):
    df = _docs(spark, ["a b  c", "", "   ", "one"])
    got = {r["doc_id"]: r["token_count"]
           for r in with_token_count(df).collect()}
    assert got == {0: 3, 1: 0, 2: 0, 3: 1}


def test_quality_score_bounds_and_empty(spark):
    df = _docs(spark, ["the cat sat on the mat.", ""])
    rows = {r["doc_id"]: r for r in with_quality_score(df).collect()}
    assert 0.0 <= rows[0]["quality_score"] <= 1.0
    assert rows[0]["stopword_ratio"] == pytest.approx(2 / 6, abs=1e-4)
    assert rows[1]["token_count"] == 0 and rows[1]["quality_score"] == 0.2


def test_lang_scores_argmax_tiebreak(spark):
    df = _docs(spark, ["the and of is", "el la de que", "xyz"])
    rows = {r["doc_id"]: r for r in with_lang_scores(df).collect()}
    assert rows[0]["lang_pred"] == "en"
    assert rows[1]["lang_pred"] == "es"
    assert rows[2]["lang_pred"] == "en"  # all-zero tie -> first lang


def test_winnowing_shared_run_guarantee(spark):
    """Docs sharing a run of >= w+k-1 words share >= 1 fingerprint; a
    fully distinct doc shares none."""
    from gondar_spark.functions.textstats import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = w+k-1
    df = _docs(spark, [f"{shared} one two three",
                       f"nine eight {shared}",
                       "p q r s t u v w x y"])
    fps = winnowing_fingerprints(df, k=3, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1]
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])


def test_fingerprints_near_dup_invariance(spark):
    # same word stream with different whitespace -> same fp_exact
    df = _docs(spark, ["a b c d e", " a  b c d e ", "a b c d x"])
    rows = {r["doc_id"]: r for r in with_fingerprints(df).collect()}
    assert rows[0]["fp_exact"] == rows[1]["fp_exact"]
    assert rows[0]["fp_exact"] != rows[2]["fp_exact"]
    assert rows[0]["fp_minshingle"] == rows[1]["fp_minshingle"]


# -------------------------------------------------------------------- dedup
def test_exact_dedup_counts(spark):
    df = _docs(spark, ["same text", "same text", "other"])
    rows = {r["text_hash"]: r for r in exact_dedup(df).collect()}
    by_copies = sorted((r["n_copies"], r["keep_id"]) for r in rows.values())
    assert by_copies == [(1, 2), (2, 0)]


def test_minhash_lsh_finds_planted_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota KAPPA2"
    far = "one two three four five six seven eight nine ten"
    df = _docs(spark, [base, near, far])
    pairs = minhash_lsh_pairs(df, threshold=0.4).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(0, 1)]
    exact = ngram_jaccard_pairs(df, threshold=0.4).collect()
    assert [(p["id_a"], p["id_b"]) for p in exact] == [(0, 1)]
    assert pairs[0]["jaccard"] == exact[0]["jaccard"]


def _brute_ngram_pairs(texts, t, n=3):
    """Python all-pairs word-n-gram Jaccard, rounded half-up to 4 places
    like the operator."""
    def shingles(text):
        toks = text.split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    sets = [shingles(x) for x in texts]
    out = []
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            jac = math.floor(inter / len(sets[i] | sets[j]) * 1e4 + 0.5) / 1e4
            if jac >= t:
                out.append((i, j, jac))
    return out


def _ngram_plan(df, **kw):
    got = ngram_jaccard_pairs(df, **kw)
    return got, got._jdf.queryExecution().optimizedPlan().toString()


_LOSSLESS_TEXTS = [
    "alpha beta gamma delta epsilon zeta eta theta",
    "alpha beta gamma delta epsilon zeta eta CHANGED",
    "alpha beta gamma delta NOPE zeta eta theta",
    "one two three four five six seven eight",
    "one two three four five six seven CHANGED",
    "tiny",
    "",
]


def test_prefix_filter_is_lossless(spark, monkeypatch):
    """Both exact paths equal a Python brute-force Jaccard at every
    threshold. The fixture's vocabulary is flat (no trigram in more than
    three docs), so the operator's own gate takes the raw join, as does a
    gate at +inf; a gate below any fan-out forces the prefix filter, the
    only path with a Window."""
    from gondar_spark.operators import dedup

    df = _docs(spark, _LOSSLESS_TEXTS)
    for gate in (None, float("inf"), -1.0):
        if gate is not None:
            monkeypatch.setattr(dedup, "PREFIX_FANOUT", gate)
        for t in (0.3, 0.5, 0.7):
            got, plan = _ngram_plan(df, threshold=t)
            assert ("Window" in plan) == (gate == -1.0), (gate, plan)
            assert sorted(map(tuple, got.collect())) == \
                _brute_ngram_pairs(_LOSSLESS_TEXTS, t), (gate, t)


def test_skewed_hot_shingle_candidate_explosion(spark):
    """Zipf-style skew fixture: every doc shares one mega-hot trigram, so
    the raw inverted-index join goes quadratic on the hot posting (s^2/2
    candidates) and the fan-out lands above the gate. The operator takes
    the prefix filter, whose candidates stay near-linear because the hot
    shingle falls OUTSIDE most docs' rarest-first prefix, and still finds
    exactly the brute-force pairs (the one planted near-dup)."""
    from pyspark.sql import Window

    from gondar_spark.operators.dedup import (
        PREFIX_FANOUT, _posting_fanout, shingled,
    )

    n = 600
    # "HOT HOT HOT" trigram in every doc + a unique tail per doc (fan-out
    # (n-1)/8 ~ 75); one planted near-dup pair (docs 0 and 1 share their
    # tails too)
    texts = [f"HOT HOT HOT u{i}a u{i}b u{i}c" for i in range(n)]
    texts[1] = texts[0].replace("u0c", "CHANGED")
    df = _docs(spark, texts)
    base = shingled(df, "text", "doc_id", 3)
    inv = base.select("id", F.explode("sh").alias("s"))
    dfreq = inv.groupBy("s").agg(F.count("*").alias("dfreq"))
    assert _posting_fanout(dfreq) > PREFIX_FANOUT

    def n_candidates(idx):
        a = idx.withColumnsRenamed({"id": "id_a"})
        b = idx.withColumnsRenamed({"id": "id_b"})
        return (
            a.join(b, "s").filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct().count()
        )

    sizes = base.select("id", F.size("sh").alias("sz"))
    w = Window.partitionBy("id").orderBy("dfreq", "s")
    ranked = (
        inv.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "id")
    )
    plen = F.col("sz") - F.ceil(F.lit(0.5) * F.col("sz")) + 1
    prefix = ranked.filter(F.col("rn") <= plen).select("id", "s")
    brute = n_candidates(inv)
    assert brute == n * (n - 1) // 2          # full quadratic blow-up
    assert n_candidates(prefix) < brute / 10  # prefix kills the hot posting

    got, plan = _ngram_plan(df, threshold=0.5)
    assert "Window" in plan, plan
    assert sorted(map(tuple, got.collect())) == _brute_ngram_pairs(texts, 0.5)


def test_simhash_hamming_near_dups(spark):
    # 100 tokens so one change flips few fingerprint bits (measured: 3 —
    # within the 4x16-band pigeonhole guarantee for hamming <= 3)
    words = ["w%d" % i for i in range(100)]
    a = " ".join(words)
    b = " ".join(words[:-1] + ["CHANGED"])         # 1 token differs
    c = " ".join("z%d" % i for i in range(100))    # all differ
    df = _docs(spark, [a, b, c])
    pairs = simhash_dedup(df, max_hamming=3).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(0, 1, 3)]


def test_simhash_md5_variant_agrees(spark):
    """The md5_60 (oracle-portable) and xxhash64 (production) variants use
    different token hashes but must agree on which pairs are near-dups,
    and the md5_60 fingerprint must match a pure-python re-computation
    (guards the conv/substr 60-bit parse)."""
    words = ["w%d" % i for i in range(100)]
    a = " ".join(words)
    b = " ".join(words[:-1] + ["CHANGED"])
    c = " ".join("z%d" % i for i in range(100))
    df = _docs(spark, [a, b, c])
    for fn in ("xxhash64", "md5_60"):
        got = [(p["id_a"], p["id_b"]) for p in
               simhash_dedup(df, max_hamming=5, hash_fn=fn).collect()]
        assert got == [(0, 1)], (fn, got)

    import hashlib

    def py_simhash(text):
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
              for t in text.split()]
        out = 0
        for bit in range(60):
            vote = sum(1 if (h >> bit) & 1 else -1 for h in hs)
            if vote > 0:
                out |= 1 << bit
        return out

    from gondar_spark.operators.dedup import tokens_col
    from pyspark.sql import functions as FF

    fp = (
        df.select(
            "doc_id",
            FF.transform(
                tokens_col("text"),
                lambda t: FF.conv(
                    FF.substring(FF.md5(t.cast("binary")), 1, 15), 16, 10
                ).cast("long"),
            ).alias("hs"),
        )
        .collect()
    )
    for row in fp:
        text = [a, b, c][row["doc_id"]]
        expect = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                  for t in text.split()]
        assert list(row["hs"]) == expect


# ---------------------------------------------------------------- similarity
def _emb(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [1.0, 0.05, 0.0]),  # closest to 0
    ]
    return spark.createDataFrame(vecs, ["vec_id", "embedding"])


def test_cosine_topk_exact(spark):
    df = _emb(spark).filter(F.col("vec_id") != 0)
    top = cosine_topk(df, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [4, 1]
    want = 0.9 / math.sqrt(0.9**2 + 0.1**2)
    assert top[1]["cosine"] == pytest.approx(want, abs=1e-6)


def test_knn_per_probe_ranks(spark):
    df = _emb(spark)
    out = cosine_topk_per_probe(df, df.filter(F.col("vec_id") == 0), k=2)
    rows = out.orderBy("rank").collect()
    assert [(r["data_id"], r["rank"]) for r in rows] == [(4, 1), (1, 2)]


def test_ivf_topk_recalls_bruteforce_with_enough_probes(spark):
    df = _emb(spark).filter(F.col("vec_id") != 0)
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    brute = [r["vec_id"] for r in cosine_topk(df, [1.0, 0.0, 0.0], 2).collect()]
    approx = [r["vec_id"] for r in
              ivf_topk(df, [1.0, 0.0, 0.0], cents, k=2, n_probe=3).collect()]
    assert approx == brute  # probing every cell == exact


def test_embedding_near_dup_blocked(spark):
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    pairs = embedding_near_dup(_emb(spark), cents, threshold=0.99).collect()
    # 0=[1,0,0], 1=[.9,.1,0], 4=[1,.05,0] are pairwise >= 0.99 cosine
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(0, 1), (0, 4), (1, 4)}


# ---------------------------------------------------------------- multimodal
def test_media_features_deterministic_and_shaped(spark):
    media = synthetic_media_df(spark, n=30)
    feats = extract_media_features(media).collect()
    assert len(feats) == 30
    by_id = {r["media_id"]: r for r in feats}
    assert all(len(r["features"]) == 16 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r["features"])
    # deterministic: same payload bytes -> same features on a rerun
    again = {r["media_id"]: r["features"]
             for r in extract_media_features(media).collect()}
    assert by_id[0]["features"] == again[0]


def test_media_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        decode_image_real(b"\xff\xd8")


def test_deterministic_sampling_properties(spark):
    """Hash-derived sampling: stable across runs/partitionings, disjoint
    seeds decorrelated, fraction approximately honored, and split
    assignment is leakage-proof (a row's split never changes when the
    corpus grows)."""
    from gondar_spark.operators.sampling import (
        deterministic_sample,
        stratified_sample,
        train_test_split,
    )

    df = spark.range(0, 2000, 1, 8).select(F.col("id").alias("doc_id"))
    s1 = {r["doc_id"] for r in deterministic_sample(df, 0.2).collect()}
    s2 = {r["doc_id"] for r in
          deterministic_sample(df.repartition(3), 0.2).collect()}
    assert s1 == s2                      # layout-independent
    assert 0.15 < len(s1) / 2000 < 0.25  # fraction honored
    sA = {r["doc_id"] for r in deterministic_sample(df, 0.2, seed=7).collect()}
    assert sA != s1                      # seeds decorrelate

    split_small = dict(
        (r["doc_id"], r["split"])
        for r in train_test_split(df.filter(F.col("doc_id") < 500)).collect()
    )
    split_big = dict(
        (r["doc_id"], r["split"]) for r in train_test_split(df).collect()
    )
    # growing the corpus never reassigns an existing row's split
    assert all(split_big[k] == v for k, v in split_small.items())

    strat = df.withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("rare"))
    out = stratified_sample(strat, {"en": 0.1, "rare": 1.0})
    n_en = out.filter(F.col("lang") == "en").count()
    n_rare = out.filter(F.col("lang") == "rare").count()
    assert n_rare == 1000                # keep-all stratum intact
    assert 50 < n_en < 150               # downsampled stratum ~10%

    with pytest.raises(ValueError):
        deterministic_sample(df, 1.5)
    with pytest.raises(ValueError):
        train_test_split(df, -0.1)
    with pytest.raises(ValueError):
        stratified_sample(strat, {"en": 2.0})


def test_sampling_plans_have_no_exchange(spark):
    """Sampling/split are row-local: no Exchange anywhere in the plan —
    the property that makes them free at corpus scale (the md5 filter is
    not a parquet-pushable predicate, but nothing ever moves)."""
    from gondar_spark.operators.sampling import (
        deterministic_sample,
        train_test_split,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for out in (deterministic_sample(df, 0.1),
                train_test_split(df, 0.2)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_simhash_keeps_tokenless_docs(spark):
    """Round-6 vote restructure (explode_outer): docs whose text
    tokenizes to an empty array (blank/whitespace) must still get a
    fingerprint (simhash 0) and pair with each other — exactly the
    aggregate-over-empty-array behavior of the previous form."""
    df = spark.createDataFrame(
        [(1, "   "), (2, ""), (3, "regular words here")],
        "doc_id long, text string",
    )
    pairs = simhash_dedup(df, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got.get((1, 2)) == 0  # both simhash 0 -> identical
    assert all(3 not in k for k in got)  # real doc pairs with neither
