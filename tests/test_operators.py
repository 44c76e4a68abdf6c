"""Spark operator unit tests: chunking, extraction parity, blocking parity
with the pure-python mirror, scoring, connected components."""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gondar_spark.extraction.spec import (
    band_keys,
    char_ngrams,
    jaccard,
    minhash_signature,
)
from gondar_spark.operators.blocking import (
    band_keys_df,
    candidate_pairs,
    gram_array,
    minhash_signature_df,
)
from gondar_spark.operators.cc import connected_components
from gondar_spark.operators.chunk import prepare_extraction_units
from gondar_spark.operators.extract import extract_triples, split_extraction
from gondar_spark.operators.scoring import score_pairs
from gondar_spark.operators.source import semi_join_fetch, with_content_sha


# --------------------------------------------------------- extraction units
def _src(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    )


def test_units_pass_through_small_files(spark):
    content = "\n".join(f"line{i}" for i in range(10))
    df = _src(spark, [("r", "p", "c", "python", content)])
    out = prepare_extraction_units(df, chunk_lines=4).collect()
    assert len(out) == 1
    assert out[0]["base_chunk"] == 0 and out[0]["unit"] == content


def test_units_split_oversized_with_aligned_bases(spark):
    # 10 lines, chunk_lines=2, super_factor=2 -> units of 4 lines,
    # base_chunk = 0, 2, 4
    content = "\n".join(f"line{i}" for i in range(10))
    df = _src(spark, [("r", "p", "c", "python", content)])
    out = (
        prepare_extraction_units(df, chunk_lines=2, super_factor=2,
                                 pass_through_chars=5)
        .orderBy("base_chunk")
        .collect()
    )
    assert [r["base_chunk"] for r in out] == [0, 2, 4]
    assert out[0]["unit"] == "line0\nline1\nline2\nline3"
    assert out[2]["unit"] == "line8\nline9"


def test_units_empty_and_whitespace(spark):
    df = _src(spark, [("r", "p1", "c", "python", ""),
                      ("r", "p2", "c", "python", "  \n \n"),
                      ("r", "p3", "c", "python", "x")])
    out = prepare_extraction_units(df, 4).collect()
    assert len(out) == 1 and out[0]["path"] == "p3"


# ------------------------------------------------------------------- extract
def test_extract_matches_spec_and_flags_metrics(spark):
    content = "def alpha(ctx):\n    out = beta(ctx)\n# noise\nimport core.utils"
    df = _src(spark, [("r", "p", "c", "python", content)])
    raw = extract_triples(prepare_extraction_units(df, 64), chunk_lines=64)
    triples, quarantine, metrics = split_extraction(raw)
    got = {(r["pred"], r["obj"]) for r in triples.collect()}
    assert got == {("defines_fn", "alpha"), ("calls", "beta"),
                   ("imports", "core.utils")}
    assert quarantine.count() == 0
    assert metrics.count() >= 1


def test_extract_chunk_ids_same_for_whole_and_split(spark):
    """chunk ids are identical whether a file passes through whole or is
    super-chunk split (the alignment contract)."""
    content = "\n".join(
        f"def fn{i}(ctx):" if i % 3 == 0 else f"# filler {i}" for i in range(40)
    )
    df = _src(spark, [("r", "p", "c", "python", content)])
    whole = extract_triples(
        prepare_extraction_units(df, chunk_lines=4), chunk_lines=4,
        emit_metrics=False)
    split = extract_triples(
        prepare_extraction_units(df, chunk_lines=4, super_factor=2,
                                 pass_through_chars=5),
        chunk_lines=4, emit_metrics=False)
    w = {(r["obj"], r["chunk_id"]) for r in whole.collect()}
    s = {(r["obj"], r["chunk_id"]) for r in split.collect()}
    assert w == s and len(w) == 14


def test_extract_dedup_same_content_two_paths(spark):
    content = "def alpha(ctx):"
    df = _src(spark, [("r", "p1", "c1", "python", content),
                      ("r", "p2", "c2", "python", content)])
    triples, _, _ = split_extraction(
        extract_triples(prepare_extraction_units(df, 64), chunk_lines=64))
    rows = triples.collect()
    assert {r["subj"] for r in rows} == {"r:p1", "r:p2"}  # both provenances kept


# -------------------------------------------------------------------- source
def test_sha256_matches_hashlib(spark):
    import hashlib

    df = _src(spark, [("r", "p", "c", "python", "hello\nworld")])
    got = with_content_sha(df).collect()[0]["content_sha256"]
    assert got == hashlib.sha256(b"hello\nworld").hexdigest()


def test_semi_join_fetch(spark):
    big = _src(spark, [("r", f"p{i}", "c", "python", "x") for i in range(10)])
    ids = spark.createDataFrame([("p1",), ("p7",)], ["path"])
    out = semi_join_fetch(big, ids, ["path"]).collect()
    assert sorted(r["path"] for r in out) == ["p1", "p7"]


# ------------------------------------------------------------------ blocking
NORMS = ["parsetree", "parsetreeimpl", "quaoquspan", "zumgraph", "ab", ""]


def test_gram_array_matches_python(spark):
    df = spark.createDataFrame([(n,) for n in NORMS], ["norm"])
    got = {r["norm"]: set(r["g"]) for r in
           df.select("norm", gram_array().alias("g")).collect()}
    for n in NORMS:
        want = char_ngrams(n) or {""}
        assert got[n] == want, n


def test_minhash_signature_matches_python(spark):
    df = spark.createDataFrame([(n,) for n in NORMS if n], ["norm"])
    for ngram in (3, 2):
        sig = minhash_signature_df(df, n_hashes=8, seed=1001, ngram=ngram)
        got = {r["norm"]: [r[f"h{k}"] for k in range(8)]
               for r in sig.collect()}
        for n in NORMS:
            if n:
                assert got[n] == minhash_signature(n, 8, 1001, ngram), (n, ngram)


def test_band_keys_match_python(spark):
    df = spark.createDataFrame([("parsetree",)], ["norm"])
    sig = minhash_signature_df(df, n_hashes=16, seed=1001)
    got = sorted(r["band_key"] for r in band_keys_df(sig, 16, 8).collect())
    assert got == sorted(band_keys("parsetree", 16, 8, 1001))


def test_lang_aware_blocking_pairs_within_shared_lang_only(spark):
    """With lang tags, non-identical forms pair only via a shared lang."""
    mentions = spark.createDataFrame(
        [("ParseTree", "python", "parsetree"),
         ("parse_tree_impl", "go", "parsetreeimpl")],
        ["surface", "lang", "norm"],
    )
    sig = minhash_signature_df(mentions, 16, 1001)
    untagged = candidate_pairs(band_keys_df(sig, 16, 8))
    assert untagged.count() == 1  # similar forms collide in some band
    tagged = candidate_pairs(band_keys_df(sig, 16, 8, lang_df=mentions))
    assert tagged.count() == 0    # no shared language -> no candidate
    # same two forms sharing a language -> candidate restored
    mentions2 = mentions.union(
        spark.createDataFrame([("parse_tree_impl", "python", "parsetreeimpl")],
                              ["surface", "lang", "norm"]))
    tagged2 = candidate_pairs(
        band_keys_df(minhash_signature_df(mentions2, 16, 1001), 16, 8,
                     lang_df=mentions2))
    assert tagged2.count() == 1


def test_candidates_and_scoring_find_cluster_pair(spark):
    df = spark.createDataFrame(
        [("parsetree",), ("parsetreeimpl",), ("zumgraph",)], ["norm"]
    )
    sig = minhash_signature_df(df, 16, 1001)
    pairs = candidate_pairs(band_keys_df(sig, 16, 8))
    edges = score_pairs(pairs, sig, threshold=0.6).collect()
    assert {(e["norm_a"], e["norm_b"]) for e in edges} == {
        ("parsetree", "parsetreeimpl")
    }
    j = jaccard(char_ngrams("parsetree"), char_ngrams("parsetreeimpl"))
    assert abs(edges[0]["jaccard"] - j) < 1e-9


# ------------------------------------------------------------------------ cc
# every CC test runs at the default gate (small graphs: driver solve) AND
# with the gate off, so the contraction and the star loop stay exercised
_GATES = ({}, {"driver_solve_max": 0})


def _cc(spark, pairs, max_iter=20, **gate):
    df = spark.createDataFrame(pairs, ["norm_a", "norm_b"])
    return {
        r["norm"]: r["component"]
        for r in connected_components(df, max_iter, **gate).collect()
    }


def test_verify_threshold_policies_differ_at_boundary(spark):
    """|A|=15000, |B|=14999, |A∩B|=9999 -> Jaccard 9999/20000 = 0.49995.
    The shared verify returns the raw value; linking compares it raw and
    drops the pair at 0.5, dedup rounds half-up to 4 places first and
    keeps it at exactly 0.5."""
    from gondar_spark.operators.dedup import verify_pairs
    from gondar_spark.operators.scoring import jaccard_verify

    def ints(lo, hi):
        return F.transform(F.sequence(F.lit(lo), F.lit(hi)),
                           lambda i: i.cast("string"))

    sets = spark.range(1).select(F.explode(F.array(
        F.struct(F.lit("a").alias("k"), ints(0, 14999).alias("s")),
        F.struct(F.lit("b").alias("k"), ints(5001, 19999).alias("s")),
    )).alias("r")).select("r.k", "r.s")
    sizes = {r["k"]: r["n"] for r in
             sets.select("k", F.size("s").alias("n")).collect()}
    assert sizes == {"a": 15000, "b": 14999}

    sig = sets.withColumnsRenamed({"k": "norm", "s": "grams"})
    link_pairs = spark.createDataFrame([("a", "b")], "norm_a string, norm_b string")
    [raw] = jaccard_verify(link_pairs, sig).collect()
    assert raw["jaccard"] == 9999 / 20000
    assert score_pairs(link_pairs, sig, threshold=0.5).count() == 0

    shingles = sets.withColumnsRenamed({"k": "id", "s": "sh"})
    dedup_pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    kept = [tuple(r) for r in verify_pairs(dedup_pairs, shingles, 0.5).collect()]
    assert kept == [("a", "b", 0.5)]


def test_cc_chain(spark):
    for gate in _GATES:
        labels = _cc(spark, [("b", "c"), ("a", "b"), ("c", "d")], **gate)
        assert labels == {"a": "a", "b": "a", "c": "a", "d": "a"}, gate


def test_cc_two_components_and_clique(spark):
    for gate in _GATES:
        labels = _cc(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y")],
                     **gate)
        assert labels == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}, gate


def test_cc_empty(spark):
    df = spark.createDataFrame([], "norm_a string, norm_b string")
    for gate in _GATES:
        labels = connected_components(df, **gate)
        assert labels.count() == 0, gate
        assert labels.columns == ["norm", "component"], gate


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min member
    comp = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for root, members in comp.items() for n in members}


@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
            lambda t: t[0] != t[1]
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(max_examples=12, deadline=None)
def test_cc_matches_union_find(spark, edges):
    pairs = [(f"n{min(a, b):02d}", f"n{max(a, b):02d}") for a, b in edges]
    want = _union_find(pairs)
    for gate in _GATES:
        assert _cc(spark, pairs, **gate) == want, gate


def test_cc_driver_solve_gate_boundary(spark, monkeypatch):
    """The gate is inclusive: an edge set of exactly ``driver_solve_max``
    rows is solved on the driver (no contraction, no MapInPandas in the
    returned plan); one more row sends it through the contraction. The
    labels agree with each other and with a Python union-find."""
    gate = 40
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(gate + 1)]
    calls = []
    cls = type(spark.range(1))
    real = cls.mapInPandas

    def spy(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInPandas", spy)
    got = {}
    for n in (gate, gate + 1):
        calls.clear()
        df = spark.createDataFrame(chain[:n], ["norm_a", "norm_b"])
        labels = connected_components(df, driver_solve_max=gate)
        plan = labels._jdf.queryExecution().optimizedPlan().toString()
        got[n] = {r["norm"]: r["component"] for r in labels.collect()}
        assert got[n] == _union_find(chain[:n]), n
        if n == gate:
            assert not calls and "MapInPandas" not in plan, plan
        else:
            assert len(calls) == 1
    assert got[gate + 1] == {**got[gate], f"n{gate + 1:03d}": "n000"}


def test_cc_frees_previous_round_checkpoints(spark):
    """Earlier rounds are freed explicitly as the loop goes, and the
    blocks the returned plan reads (the final round, the local-
    contraction node->root mapping) live exactly as long as the caller's
    scope: none remain in executor storage once it exits. Both the
    driver-solve and the distributed star-loop paths are covered."""
    from gondar_spark.operators.cc import connected_components
    from gondar_spark.session import Scope

    sc = spark.sparkContext

    def persistent():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    before = persistent()
    # chain topology -> several rounds
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(300)]
    df = spark.createDataFrame(edges, ["norm_a", "norm_b"])
    for solve_max in (200_000, 0):
        with Scope():
            labels = connected_components(df, max_iter=30,
                                          driver_solve_max=solve_max)
            assert labels.count() == 301
        leftover = persistent() - before
        assert not leftover, (solve_max, leftover)


def test_cc_accelerated_equals_plain(spark):
    """_min_jump path compression: identical labels to a plain
    union-find on adversarial shapes (cycle, clique, chain+hub, random)
    at both gates. Valid only on large-star output (strictly decreasing
    edges) — this is the end-to-end equality gate for that argument."""
    import random

    random.seed(23)
    shapes = []
    rows = [(f"c{i}", f"c{(i + 1) % 9}") for i in range(9)]               # cycle
    rows += [(f"k{i}", f"k{j}") for i in range(6) for j in range(6) if i < j]
    rows += [(f"h{i}", f"h{i + 1}") for i in range(40)]                   # chain
    rows += [("h0", f"h{i}") for i in (10, 20, 30)]                       # hub
    shapes.append(rows)
    shapes.append(
        [(f"v{random.randrange(50)}", f"v{random.randrange(50)}")
         for _ in range(120)]
    )
    for rows, gate in ((r, g) for r in shapes for g in _GATES):
        # self-loops carry no link: connected_components drops them
        plain = _union_find([(a, b) for a, b in rows if a != b])
        fast = _cc(spark, rows, **gate)
        assert plain == fast and len(fast) > 0, gate


def test_clean_corpus_keeps_keepers_drops_dups(spark):
    """clean_corpus end-to-end: junk filtered, exact copies reduced to
    min-id keeper, near-dup cluster non-keepers dropped."""
    from gondar_spark.operators.dedup import clean_corpus

    good = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the woods to find some food for the winter")
    near = ("a quick brown fox jumps over the lazy dog and then runs "
            "far away into the woods to find some food for the winter")
    rows = [
        (1, good), (2, good),          # exact pair -> keep 1
        (3, near),                      # near-dup of 1 -> dropped
        (4, "!!! ??? ..."),             # junk -> quality-filtered
        (5, "completely different text about database join algorithms "
            "and the merge strategies used by modern query optimizers ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = clean_corpus(df, quality_threshold=0.2, jaccard_threshold=0.5)
    kept = {r["doc_id"] for r in out.collect()}
    assert kept == {1, 5}
    cols = set(out.columns)
    assert {"doc_id", "text", "token_count", "quality_score"} <= cols
